package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Options the launcher (`perfbench/run.py`) passes to the JVM side. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    dataDir: String, runDir: String, out: String, cores: Int, expected: String,
    dump: Option[String])

/** Everything one run records: the end-to-end or per-layer metrics, the
  * operation counts behind `error_rate`, every per-sample timing and the
  * host record. Written as one JSON file; the launcher prints the summary. */
final class Result(val opts: Opts) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val samples = mutable.LinkedHashMap.empty[String, Any]
  val host = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[(String, Long)]
  var attempted = 0L
  var spans: Seq[Map[String, Any]] = Nil

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  /** Records `n` failed operations (a lost frame, a wrong row, a thrown
    * query) under one description. */
  def fail(what: String, n: Long = 1L): Unit = synchronized { failures += ((what, n)) }
  def failed: Long = synchronized(failures.map(_._2).sum)

  def json: String = Json.render(Map(
    "workload" -> opts.workload, "seed" -> opts.seed, "seconds" -> opts.seconds,
    "trace" -> opts.trace, "attempted" -> attempted, "failed" -> failed,
    "failures" -> failures.take(50).map { case (w, n) => s"$n x $w" },
    "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "host" -> host, "samples" -> samples, "spans" -> spans))
}

object Main {
  val Workloads: Set[String] = Set("betting_etl", "llm_curation", "push_stream")

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      get("data"), get("run-dir"), get("out"), get("cores").toInt, get("expected"),
      kv.get("dump"))
  }

  /** The JVM's own start, so set-up time covers JVM and Spark start-up. */
  def processStartNs: Long = {
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.nanoTime() - (System.currentTimeMillis() - startMs) * 1000000L
  }

  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "" }

  /** CPU time of this process so far (all threads), in ns. It does not
    * advance while the host withholds the CPU, so it stays steady where
    * wall time follows the neighbours' load. */
  def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap in use right after a full collection plus non-heap in use
    * (metaspace, code cache), in MB: what the program keeps alive at this
    * point, without the garbage the collector has not reclaimed yet. The
    * collection itself takes a fraction of a second; callers keep it out
    * of every timed span. */
  def retainedMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / (1024.0 * 1024.0)
  }

  /** Peak resident set (VmHWM) of this process, in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.default.parallelism", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.runDir}/warehouse")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Workloads(o.workload), s"unknown workload ${o.workload}")
    val t0 = processStartNs
    val r = new Result(o)
    r.host ++= Seq("nproc" -> Runtime.getRuntime.availableProcessors(),
      "master" -> s"local[${o.cores}]",
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "loadavg_start" -> loadavg(), "java" -> System.getProperty("java.version"))
    val spark = session(o)
    r.host("spark") = spark.version
    val ok =
      try {
        o.workload match {
          case "push_stream" => new Push(spark, o, r, t0).run()
          case w => new Batch(spark, o, r, t0, Batch.queriesOf(w)).run()
        }
        true
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          r.fail(s"run aborted: $e")
          false
      }
    r.host("loadavg_end") = loadavg()
    if (!o.trace) r.metric("peak_rss_mb", peakRssMb(), "MB")
    val w = new java.io.PrintWriter(o.out, "UTF-8")
    try w.write(r.json) finally w.close()
    spark.stop()
    if (!ok) sys.exit(3)
  }
}
