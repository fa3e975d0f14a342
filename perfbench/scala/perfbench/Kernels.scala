package perfbench

import graft.functions.{DecodeFns, OddsFns, TextFns, TimeFns}
import graft.streaming.EventStreams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Per-row cost of the public function kernels: one projection of the
  * function over a cached input written to `noop`, minus an identity
  * projection of the same input, over the same rows. Each kernel gets
  * enough rows that its own cost stands well above the run-to-run jitter
  * of a `noop` job (cheap kernels get 2 M rows). A workload measures the
  * kernels it runs and reports 0 for the others. */
object Kernels {
  val Reps = 5
  /** The frame codec and the time and odds kernels: the push leg and the
    * betting ETL. */
  val FrameKernels: Set[String] = Set("encode_frame", "decode_frames", "nanos_to_ts", "odds_normalize")
  /** The text-dedup kernels of LLM curation. */
  val TextKernels: Set[String] = Set("minhash_sig", "md5_base28")
  val Names: Seq[String] = Seq("encode_frame", "decode_frames", "nanos_to_ts",
    "odds_normalize", "minhash_sig", "md5_base28")

  private def timeNoop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    Batch.noop(df)
    (System.nanoTime() - t0).toDouble
  }

  /** Median over [[Reps]] of (kernel − identity) ns/row, the two timed
    * back to back in each rep so a slow moment of the host hits both. */
  private def perRow(input: DataFrame, f: DataFrame => DataFrame): (Double, Long) = {
    val cached = input.persist(StorageLevel.MEMORY_ONLY)
    try {
      val rows = cached.count()
      val ident = cached.select(cached.columns.map(col).toSeq: _*)
      val k = f(cached)
      Batch.noop(k); Batch.noop(ident) // compile and warm both plans once
      (Stats.median((1 to Reps).map(_ => (timeNoop(k) - timeNoop(ident)) / rows)), rows)
    } finally cached.unpersist(blocking = true)
  }

  def measure(spark: SparkSession, r: Result, kernels: Set[String]): Unit = {
    def updates(n: Long): DataFrame = spark.range(n).toDF("i").select(
      concat(lit("m"), col("i")).as("market_id"),
      (col("i") % 5000).as("event_id"),
      (col("i") % 16).as("tournament_id"),
      lit("open").as("status"),
      OddsFns.ladderAt(pmod(col("i") * 7, lit(291))).cast("int").as("odds"),
      (lit(1700000000000000000L) + col("i") * 1000003L).as("updated_at"))
    def encoded(df: DataFrame): Column = DecodeFns.encodeFrame(
      lit("broadcast-odds"), concat(lit("tournament_"), df("tournament_id")),
      struct(df("market_id"), df("event_id"), df("tournament_id"), df("status"),
        df("odds"), df("updated_at")))
    val raw = { val u = updates(50000); u.select(encoded(u).as("raw")) }
    val docs = spark.range(20000).toDF("i").select(
      transform(sequence(lit(0), lit(39)), j =>
        concat(lit("w"), ((col("i") * 31 + j * 17) % 997).cast("string"), lit(" w"),
          ((col("i") + j) % 101).cast("string"))).as("shingles"))
    val hashes = docs.select(TextFns.shingleHashes(col("shingles")).as("h"))
    val specs: Seq[(String, DataFrame, DataFrame => DataFrame)] = Seq(
      ("encode_frame", updates(200000), d => d.select(encoded(d).as("raw"))),
      ("decode_frames", raw, d => EventStreams.decodeFrames(d)),
      ("nanos_to_ts", updates(2000000).select(col("updated_at")),
        d => d.select(TimeFns.nanosToTimestamp(col("updated_at")).as("ts"))),
      ("odds_normalize", updates(2000000).select(col("odds")),
        d => d.select(OddsFns.normalizeOdds(col("odds")).as("o"))),
      ("minhash_sig", hashes, d => d.select(TextFns.minhashSig(col("h"), 0, 64).as("s"))),
      ("md5_base28", docs, d => d.select(TextFns.shingleHashes(col("shingles")).as("h"))))
    val out = specs.map { case (name, input, f) =>
      name -> (if (kernels(name)) perRow(input, f) else (0.0, 0L))
    }
    out.foreach { case (name, (ns, _)) => r.metric(s"functions.${name}_ns_per_row", ns, "ns") }
    r.samples("kernel_rows") = out.map { case (n, (_, rows)) => n -> rows }.toMap
  }
}
