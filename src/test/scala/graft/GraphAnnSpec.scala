package graft

import graft.operators.{GraphAnn, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The graph-ANN tier (operators/GraphAnn — NSW family, SURVEY §2.17):
  * deterministic NN-Descent build + skip-list ring + unrolled beam
  * serving. Cross-engine parity is pinned by the four sim_graph_*
  * oracles; these tests pin the STRUCTURAL contract the oracles can't
  * see failing modes of — determinism across builds, degree bounds,
  * ring presence (navigability), refinement monotonicity, recall
  * floors, incremental attachment shape. */
class GraphAnnSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = Tables.embeddings(spark, dir)
  private lazy val graph = GraphAnn.buildGraph(emb).cache()

  test("build is deterministic across runs") {
    val a = graph.orderBy("src", "dst").collect().toSeq
    val b = GraphAnn.buildGraph(emb).orderBy("src", "dst").collect().toSeq
    assert(a == b)
  }

  test("no self-loops; out-degree bounded by K + |RingOffsets|") {
    assert(graph.where(col("src") === col("dst")).count() == 0)
    val maxDeg = graph.groupBy("src").count()
      .agg(max("count")).head().getLong(0)
    assert(maxDeg <= GraphAnn.K + GraphAnn.RingOffsets.size,
      s"max out-degree $maxDeg")
  }

  test("skip ring is intact: every node keeps its +1 successor edge") {
    // navigability witness — whatever refinement keeps, the final graph
    // unions the ring back in, so the id-order cycle is always present
    val ids = emb.select("vec_id").orderBy("vec_id")
      .collect().map(_.getLong(0)).toSeq
    val succ = ids.zip(ids.tail :+ ids.head).filter(p => p._1 != p._2)
    val edges = graph.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missing = succ.filterNot(edges.contains)
    assert(missing.isEmpty, s"missing successor edges: ${missing.take(5)}")
  }

  test("NN-Descent refinement is monotone per src") {
    // round r+1 ranks over a candidate set containing round r's edges,
    // so the per-src summed top-K cosine can never decrease
    def quality(rounds: Int): Map[Long, Double] =
      GraphAnn.refinedEdges(emb, rounds = rounds)
        .groupBy("src").agg(sum("cosine").as("q"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val q0 = quality(0); val q1 = quality(1); val q2 = quality(2)
    assert(q0.keySet == q1.keySet && q1.keySet == q2.keySet)
    val eps = 1e-9
    assert(q0.forall { case (s, q) => q1(s) >= q - eps },
      "round 1 degraded a src")
    assert(q1.forall { case (s, q) => q2(s) >= q - eps },
      "round 2 degraded a src")
  }

  test("beam recall@10 holds the floor and dominates single-bucket LSH") {
    def recallOf(approx: org.apache.spark.sql.DataFrame): Double = {
      val brute = Similarity.bruteTopK(emb, k = 10, stride = 20)
        .select("query_id", "neighbor_id")
      val hits = brute.join(approx.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id")).count().toDouble
      hits / brute.count()
    }
    val g = recallOf(GraphAnn.graphTopK(emb, graph, k = 10, stride = 20))
    val l = recallOf(Similarity.lshTopK(emb, k = 10, stride = 20))
    // sweep-pinned config (r16 36-config sweep, NOTES.md, sf0.1): graph
    // 0.971; the floor leaves headroom for corpus regeneration, not for
    // regressions
    assert(g >= 0.85, s"graph recall $g below floor")
    assert(g > l, s"graph recall $g not above LSH $l")
  }

  test("exactness ladder: ef ≥ N with enough hops recovers brute exactly") {
    // the graph twin of the IVF nProbes=nCells ladder: the skip ring
    // makes every node reachable in ≤ log₂N forward hops (binary
    // decomposition of the rank gap, one 2^j skip edge per set bit),
    // so an uncapped pool must converge to the exact answer
    val n = emb.count().toInt
    val g = GraphAnn.graphTopK(emb, graph, k = 10, stride = 20,
      ef = n, hops = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val b = Similarity.bruteTopK(emb, k = 10, stride = 20)
      .orderBy("query_id", "rank").collect().toSeq
    assert(g == b)
  }

  test("distributed walk == a single-machine reference walk where the " +
      "per-partition caps bind (small ef)") {
    // the capped-hop semantics in plain Scala, per query:
    // pool ← cap(pool ∪ score(expand(pool))), entry points from Spark's
    // own (md5(vec_id), vec_id) order
    import spark.implicits._
    val ef = 6
    val vecs = emb.select("vec_id", "embedding").as[(Long, Array[Float])]
      .collect().map { case (id, e) =>
        val v = e.map(_.toDouble)
        id -> (v, math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x * x)))
      }.filter(_._2._2 > 0).toMap
    val adj = graph.select("src", "dst").as[(Long, Long)].collect()
      .groupMap(_._1)(_._2)
    val entries = emb.select("vec_id")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .as[Long].collect().filter(vecs.contains).take(GraphAnn.NEntries)
    val expected = vecs.keys.filter(_ % 20 == 0).toSeq.flatMap { q =>
      val (qv, qn) = vecs(q)
      def score(ids: Iterable[Long]) = ids.filter(vecs.contains)
        .map(d => d -> GraphAnn.cosine4(qv, qn, vecs(d)._1, vecs(d)._2))
      def expand(p: Array[(Long, Double)]) =
        p.flatMap(e => adj.getOrElse(e._1, Array.empty[Long]))
      val pool = (1 to GraphAnn.Hops).foldLeft(GraphAnn.cap(score(entries), ef)) {
        (p, _) => GraphAnn.cap(p ++ score(expand(p)), ef)
      }
      pool.filter(_._1 != q).take(10).zipWithIndex
        .map { case ((d, c), r) => (q, r + 1, d, c) }
    }.toSet
    val served = GraphAnn.graphTopK(emb, graph, k = 10, stride = 20, ef = ef)
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(served == expected)
  }

  test("serving cost: graphTopK runs at most Hops + 4 jobs and leaves no " +
      "persisted RDD behind") {
    val sc = spark.sparkContext
    graph.count() // the cached graph is built outside the counted window
    val before = sc.getPersistentRDDs.keySet
    val trace = JobTrace.attach(sc)
    // the walk (q collect, shard build, one job per hop) plus the
    // collecting action
    val (_, c) = try trace.measure(
      GraphAnn.graphTopK(emb, graph, k = 10, stride = 20).collect())
    finally trace.detach()
    assert(c.jobs <= GraphAnn.Hops + 4, s"${c.jobs} jobs")
    // the same set, or a subset when the cleaner drops an older entry
    val after = sc.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"persisted RDDs before ${before.toSeq.sorted}, after ${after.toSeq.sorted}")
  }

  test("filtered serving: matched-only results; exactness ladder vs " +
      "brute over the filtered corpus") {
    val n = emb.count().toInt
    val matchIds = emb.where(col("label") === 1).select("vec_id")
    val matched = matchIds.collect().map(_.getLong(0)).toSet
    val served = GraphAnn.graphTopKFiltered(emb, graph, matchIds,
      k = 10, stride = 20)
    assert(served.collect().forall(r => matched.contains(r.getLong(2))),
      "every served neighbor must satisfy the filter")
    // ladder: uncapped pool + full reach ⇒ exactly brute over the
    // filtered corpus (crossTopK semantics: no id-equality exclusion)
    val ladder = GraphAnn.graphTopKFiltered(emb, graph, matchIds,
      k = 10, stride = 20, ef = n, hops = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val brute = Similarity.crossTopK(emb.where(col("label") === 1),
      emb.where(pmod(col("vec_id"), lit(20)) === 0), k = 10)
      .orderBy("query_id", "rank").collect().toSeq
    assert(ladder == brute)
  }

  test("cross-corpus serving exactness ladder vs crossTopK") {
    val corpus = emb.where(pmod(col("vec_id"), lit(5)) =!= 0)
    val queries = emb.where(pmod(col("vec_id"), lit(5)) === 0)
    val hg = GraphAnn.buildGraph(corpus)
    val n = corpus.count().toInt
    val ladder = GraphAnn.crossGraphTopK(corpus, hg, queries,
      k = 10, ef = n, hops = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val brute = Similarity.crossTopK(corpus, queries, k = 10)
      .orderBy("query_id", "rank").collect().toSeq
    assert(ladder == brute)
  }

  test("ADC-routed serving: exactness ladder and recall floor") {
    // codes + books through the same trainer the PQ family uses
    val books = Similarity.pqTrain(emb, m = 8, ksub = 16)
    val codesWide = Similarity.pqEncodeWideDirect(emb, books)
    val n = emb.count().toInt
    // ladder: uncapped pool + full-corpus shortlist + full reach ⇒ the
    // exact re-rank sees every node ⇒ ≡ brute exactly, regardless of
    // quantization error in the routing distances
    val ladder = GraphAnn.graphAdcTopK(emb, graph, codesWide, books,
      k = 10, stride = 20, ef = n, hops = 10, shortlist = n)
      .orderBy("query_id", "rank").collect().toSeq
    val brute = Similarity.bruteTopK(emb, k = 10, stride = 20)
      .orderBy("query_id", "rank").collect().toSeq
    assert(ladder == brute)
    // production config: quantized routing + shortlist-200 re-rank
    // (measured 0.948 avg at sf0.001; floor leaves regeneration room)
    val bruteSet = Similarity.bruteTopK(emb, k = 10, stride = 20)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = GraphAnn.graphAdcTopK(emb, graph, codesWide, books,
      k = 10, stride = 20)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bruteSet & adc).size.toDouble / bruteSet.size
    assert(recall >= 0.85, s"ADC-routed recall $recall below floor")
  }

  test("attachBatch: bounded origin-tagged edges from batch into history") {
    val hist = emb.where(pmod(col("vec_id"), lit(5)) =!= 0)
    val batch = emb.where(pmod(col("vec_id"), lit(5)) === 0)
    val hg = GraphAnn.buildGraph(hist)
    val attached = GraphAnn.attachBatch(hg, hist, batch).cache()
    val histIds = hist.select("vec_id").collect().map(_.getLong(0)).toSet
    val rows = attached.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) % 5 == 0), "src must be batch")
    assert(rows.forall(r => histIds.contains(r.getLong(1))),
      "dst must be history")
    val maxDeg = attached.groupBy("src").count()
      .agg(max("count")).head().getLong(0)
    assert(maxDeg <= GraphAnn.K)
    // batch coverage: every positive-norm batch node attached
    val nBatch = batch.count()
    assert(attached.select("src").distinct().count() == nBatch)
  }
}

/** Streaming maintenance for the graph-ANN index — the
  * StreamingHammingDedupSpec posture applied to
  * [[graft.operators.GraphAnn.attachBatch]]: the first micro-batch
  * builds the navigable graph; every later batch beam-searches the
  * LOADED versioned artifact (history edges never recomputed) and
  * folds its own attachment edges + vectors into the next version
  * (read vN−1, union, write vN — at-least-once-safe because a re-run
  * batch rebuilds the identical deterministic version). */
class StreamingGraphAnnSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("stream-folded graph artifact == eager sequential fold; " +
      "beam over the folded graph == beam over the eager graph") {
    import java.nio.file.Files
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val all = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq.sortBy(_._1)
    val batches = all.grouped(200).toSeq // 3 micro-batches: 200/200/100

    val root = Files.createTempDirectory("graft-graphidx-").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Seq[Float])]
    @volatile var latest: Option[(String, String)] = None // (graph, vecs)
    val q = input.toDF().toDF("vec_id", "embedding")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val (g, v) = latest match {
          case None => // first batch: full deterministic build
            (GraphAnn.buildGraph(batch), batch)
          case Some((gp, vp)) =>
            val hist = spark.read.parquet(vp)
            val hg = spark.read.parquet(gp)
            (hg.unionByName(GraphAnn.attachBatch(hg, hist, batch)),
              hist.unionByName(batch))
        }
        g.write.mode("overwrite").parquet(s"$root/g$id")
        v.write.mode("overwrite").parquet(s"$root/v$id")
        latest = Some((s"$root/g$id", s"$root/v$id"))
        ()
      }.start()
    try batches.foreach { b =>
      input.addData(b: _*); q.processAllAvailable()
    } finally q.stop()

    // eager twin: the same sequential fold, no streaming machinery
    var eagerG = GraphAnn.buildGraph(batches.head.toDF("vec_id", "embedding"))
    var eagerV = batches.head
    for (b <- batches.tail) {
      val hist = eagerV.toDF("vec_id", "embedding")
      eagerG = eagerG.unionByName(
        GraphAnn.attachBatch(eagerG, hist, b.toDF("vec_id", "embedding")))
      eagerV = eagerV ++ b
    }
    val streamed = spark.read.parquet(latest.get._1)
      .as[(Long, Long, Double)].collect().toSet
    val eager = eagerG.as[(Long, Long, Double)].collect().toSet
    assert(streamed == eager, "folded graph must equal the eager fold")

    // serving parity over the two folds
    def serve(g: org.apache.spark.sql.DataFrame) = {
      val emb = eagerV.toDF("vec_id", "embedding")
      GraphAnn.graphTopK(emb, g, k = 5, stride = 50)
        .as[(Long, Int, Long, Double)].collect().toSet
    }
    assert(serve(spark.read.parquet(latest.get._1)) == serve(eagerG))
  }
}
