package perfbench

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The benchmark's own checks: the digest ignores row order and nothing
  * else, the percentile helper refuses thin tails, and the generator keeps
  * its schedule while a sink stalls. Prints one `selftest` line per check;
  * exits non-zero if any fails. Usage: `perfbench.SelfTest <scratch dir>`. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    if (!ok) failures += 1
    println(s"selftest ${if (ok) "PASS" else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    percentiles()
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", s"$dir/spark-local").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      digest(spark)
      generatorUnderStall(spark, dir)
    } finally spark.stop()
    println(s"selftest ${if (failures == 0) "OK" else s"$failures FAILED"}")
    sys.exit(if (failures == 0) 0 else 1)
  }

  def percentiles(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("p50 always reported")(Stats.percentile(xs.take(3), 50).contains(2.0))
    check("p90 of 100 samples has 10 beyond it")(Stats.percentile(xs, 90).contains(90.0))
    check("p90 of 99 samples is refused")(Stats.percentile(xs.take(99), 90).isEmpty)
    check("p99 of 100 samples is refused")(Stats.percentile(xs, 99).isEmpty)
    check("p99 of 1000 samples is reported")(
      Stats.percentile((1 to 1000).map(_.toDouble), 99).contains(990.0))
    check("highest supported percentile of 100 samples is p90")(
      Stats.highestSupported(xs).contains((90.0, 90.0)))
  }

  def digest(spark: SparkSession): Unit = {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, s"k${i % 7}", if (i % 5 == 0) None else Some(i * 0.5),
      Seq(i, i + 1))).toDF("id", "k", "v", "arr")
    val d0 = Stats.digest(df)
    check("digest ignores row order and partitioning")(
      Stats.digest(df.orderBy(rand(7)).repartition(3)) == d0 &&
        Stats.digest(df.orderBy(col("id").desc).coalesce(1)) == d0)
    check("digest sees a changed value")(
      Stats.digest(df.withColumn("v", when(col("id") === 42, lit(1.0)).otherwise(col("v")))) != d0)
    check("digest sees a duplicated row")(Stats.digest(df.union(df.where(col("id") === 1))) != d0)
    check("digest sees a lost row")(Stats.digest(df.where(col("id") =!= 1)) != d0)
    check("digest sees a null turned into a value")(
      Stats.digest(df.na.fill(0.0, Seq("v"))) != d0)
  }

  /** A sink that sleeps in every micro-batch must not slow the open-loop
    * generator: it writes exactly the frames its seeded schedule holds,
    * on time, while the sink falls behind. */
  def generatorUnderStall(spark: SparkSession, dir: String): Unit = {
    val rate = 2000.0
    val durNs = 3000000000L
    def logsAt(tag: String) = {
      new java.io.File(s"$dir/$tag").mkdirs()
      new FrameLogs(s"$dir/$tag/market.jsonl", s"$dir/$tag/commands.jsonl", new FrameContent(9))
    }
    // The schedule itself, drawn with a clock that is always past due.
    val dry = logsAt("dry")
    val scheduled = new Generator(dry, 9, () => Long.MaxValue / 2)
    scheduled.phase(1, rate, 0L, durNs)
    dry.close()

    val live = logsAt("live")
    @volatile var committed = 0L
    val q = spark.readStream.format(graft.sources.FrameReplaySource.Name)
      .option("path", live.marketPath).option("maxFramesPerBatch", 1000000L).load()
      .writeStream.trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", s"$dir/live/ck")
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        val n = b.select(count(lit(1))).head().getLong(0)
        Thread.sleep(1500)
        committed += n
      }.start()
    val gen = new Generator(live, 9, () => Push.epochNanos())
    val start = Push.epochNanos() + 100000000L
    val t0 = System.nanoTime()
    gen.phase(1, rate, start, durNs)
    val elapsedS = (System.nanoTime() - t0) / 1e9
    val behind = gen.marketDue.size - committed
    live.close()
    q.stop()
    val lateP99Ms = Stats.percentile(gen.late.map(_ / 1e6).toSeq, 99).getOrElse(Double.MaxValue)
    println(f"selftest info: ${gen.marketDue.size} frames in $elapsedS%.2fs, late p99 $lateP99Ms%.2fms, " +
      s"sink $behind frames behind at phase end")
    check("generator writes exactly its seeded schedule under a stalled sink")(
      gen.marketDue.map(_._2 - start) == scheduled.marketDue.map(_._2) &&
        gen.commandDue.size == scheduled.commandDue.size)
    check("generator stays on time under a stalled sink (p99 late < 50 ms)")(lateP99Ms < 50.0)
    check("phase ends on schedule under a stalled sink")(elapsedS < durNs / 1e9 + 0.5)
    check("the sink was in fact stalled behind the generator")(behind > 0)
  }
}
