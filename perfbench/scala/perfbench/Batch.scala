package perfbench

import graft.{Queries, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

object Batch {
  /** The reference pipeline's own surface: flatten, seeding join, upsert,
    * odds, wager book, windows, as-of join and the frame codec. */
  val BettingEtl: Seq[String] = Seq("x_flagship_flatten", "seeding_pipeline",
    "u_merge_upsert", "odds_domain", "wager_book_replay", "t_window_hourly",
    "t_session_windows", "j_asof_join", "decode_roundtrip")

  /** The LLM-data operators: dedup, curation pipelines, retrieval, ANN. */
  val LlmCuration: Seq[String] = Seq("dedup_minhash_pairs", "dedup_exact_substr",
    "pipeline_docs_prep", "pipeline_curate_full", "text_bm25_topk", "sim_ivf_topk",
    "sim_graph_topk", "pipeline_rag_retrieval")

  def queriesOf(workload: String): Seq[String] = workload match {
    case "betting_etl" => BettingEtl
    case "llm_curation" => LlmCuration
  }

  /** The tables each batch workload's queries read. */
  def tablesOf(queries: Seq[String]): Seq[String] =
    if (queries == LlmCuration) Seq("documents", "embeddings")
    else Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

  /** Expected digests, one `name<TAB>digest` line per query. */
  def readExpected(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else scala.io.Source.fromFile(f, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** A closed loop with one client: passes over the workload's queries, in
  * a seeded order per pass, each query built through the public inventory
  * and executed into the `noop` sink (every output column consumed). */
final class Batch(spark: SparkSession, o: Opts, r: Result, t0: Long, names: Seq[String]) {
  import Batch._

  private def secs(from: Long): Double = (System.nanoTime() - from) / 1e9

  def run(): Unit = {
    val expected = readExpected(o.expected)
    val trace = if (o.trace) Some(new Trace(spark)) else None

    // Set-up: first load of every table, then one untimed pass that checks
    // each query's output digest and builds the persisted fixtures and
    // artifacts cold (they live under this run's own directory).
    val loads = tablesOf(names).map { t =>
      val s = System.nanoTime(); Tables(spark, o.dataDir, t); t -> secs(s)
    }
    r.samples("table_load_s") = loads.toMap
    val digests = mutable.LinkedHashMap.empty[String, String]
    val warmS = mutable.LinkedHashMap.empty[String, Double]
    names.foreach { n =>
      r.attempted += 1
      val s = System.nanoTime()
      try {
        val df = Queries.queries(n)(spark, o.dataDir)
        val d = Stats.digest(df)
        digests(n) = d
        if (!expected.get(n).contains(d))
          r.fail(s"$n: digest $d != expected ${expected.getOrElse(n, "<none>")}")
        o.dump.foreach(dir => df.write.mode("overwrite").parquet(s"$dir/$n"))
      } catch { case e: Throwable => r.fail(s"$n: digest pass threw $e") }
      warmS(n) = secs(s)
    }
    r.samples("setup_query_s") = warmS
    r.samples("digests") = digests
    o.dump.foreach { dir =>
      val sql = Queries.oracleSql.filter { case (k, _) => names.contains(k) }
      val w = new java.io.PrintWriter(s"$dir/oracle_sql.json", "UTF-8")
      try w.write(Json.render(sql)) finally w.close()
    }
    val setupS = secs(t0)
    r.samples("setup_s") = setupS
    // What the program keeps alive after set-up and after each pass, each
    // read after a full collection outside the timed spans.
    val retained = mutable.ArrayBuffer(Main.retainedMb())

    // Timed passes until the run's seconds are spent, at least two (their
    // median is reported; one pass alone still carries warm-up). A traced
    // run alternates untraced and traced passes, at least three
    // (untraced, traced, untraced), so warm-up drift does not bias the
    // tracing overhead.
    trace.foreach(_.install())
    val rng = new scala.util.Random(o.seed)
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val cpuS = mutable.ArrayBuffer.empty[Double]
    val perPass = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layer = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    val minPasses = if (o.trace) 3 else 2
    var pass = 0
    while (pass < minPasses || secs(start) < o.seconds) {
      val tracedPass = o.trace && pass % 2 == 1
      val order = rng.shuffle(names)
      val p0 = System.nanoTime()
      val c0 = Main.cpuNs()
      val times = order.map { n =>
        r.attempted += 1
        val q0 = System.nanoTime()
        try {
          if (tracedPass) layer += runTraced(trace.get, n, pass)
          else noop(Queries.queries(n)(spark, o.dataDir))
        } catch { case e: Throwable => r.fail(s"$n: pass $pass threw $e") }
        n -> secs(q0)
      }
      val passS = secs(p0)
      val passCpuS = (Main.cpuNs() - c0) / 1e9
      retained += Main.retainedMb()
      if (tracedPass) traced += passS
      else { untraced += passS; cpuS += passCpuS }
      perPass += Map("pass" -> pass, "traced" -> tracedPass, "pass_s" -> passS, "cpu_s" -> passCpuS,
        "order" -> order, "query_s" -> times.toMap)
      pass += 1
    }
    trace.foreach(_.uninstall())
    r.samples("passes") = perPass
    r.samples("retained_mb") = retained

    if (!o.trace) {
      r.metric("setup_s", setupS, "s")
      r.metric("pass_p50_s", Stats.median(untraced.toSeq), "s")
      r.metric("pass_cpu_s", Stats.median(cpuS.toSeq), "s")
      r.metric("retained_mb", retained.max, "MB")
    } else {
      trace.foreach(t => r.spans = t.all.map(Trace.spanJson(_, start)))
      r.samples("layer") = layer
      Layers.batch(r, names, layer.toSeq, loads.map(_._2).sum,
        Stats.median(traced.toSeq), Stats.median(untraced.toSeq))
      Kernels.measure(spark, r,
        if (names == LlmCuration) Kernels.TextKernels else Kernels.FrameKernels)
      Layers.zeroStreaming(r)
    }
  }

  /** One query with a span around each layer call and the Spark counts of
    * its execution. Planning is read from the `noop` write's own
    * QueryExecution (the execution that runs) and taken out of its
    * execution time. */
  private def runTraced(t: Trace, n: String, pass: Int): Map[String, Any] = {
    val before = t.snapshot()
    val op = s"$n#$pass"
    val ((b, e), root) = t.span(op, "bench", n) { id =>
      val (df, b) = t.span(op, "queries", "build", id)(_ => Queries.queries(n)(spark, o.dataDir))
      val (_, e) = t.span(op, "operators", "noop", id)(_ => noop(df))
      (b, e)
    }
    val c = (t.snapshot() - before).toMap
    def dur(s: Span) = (s.endNs - s.startNs) / 1e9
    Map("query" -> n, "build_s" -> dur(b), "exec_s" -> (dur(e) - c("plan_s")),
      "total_s" -> dur(root)) ++ c
  }
}
