package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.OverwriteByExpressionExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One span around a call the benchmark makes into a layer. Spans of one
  * query execution share `op`; `parent` names the enclosing span. */
final case class Span(id: Int, parent: Int, op: String, layer: String, name: String,
    startNs: Long, endNs: Long)

/** Counters the Spark runtime reports through its listeners, cumulative
  * since the listener was installed; [[Trace.spark]] diffs two snapshots. */
final case class SparkCounts(jobs: Long, stages: Long, tasks: Long, gcMs: Long,
    spillBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    inputRecords: Long, inputBytes: Long, finalExchanges: Long, planMs: Long) {
  def -(o: SparkCounts): SparkCounts = SparkCounts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, gcMs - o.gcMs, spillBytes - o.spillBytes,
    shuffleReadBytes - o.shuffleReadBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    inputRecords - o.inputRecords, inputBytes - o.inputBytes,
    finalExchanges - o.finalExchanges, planMs - o.planMs)

  /** By the names the per-layer metrics use (GC and planning in seconds). */
  def toMap: Map[String, Double] = Map[String, Double]("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "gc_s" -> gcMs / 1000.0, "spill_bytes" -> spillBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "input_records" -> inputRecords, "input_bytes" -> inputBytes,
    "final_exchanges" -> finalExchanges, "plan_s" -> planMs / 1000.0)
}

/** The traced run's recorder: spans kept in memory and written out with
  * the result, plus a SparkListener and a QueryExecutionListener that
  * count jobs, stages, tasks, GC, spill, shuffle and input bytes, the
  * exchanges of each executed query's final (AQE) plan, and the planning
  * time (optimization + physical planning) of the benchmark's `noop`
  * writes, read from the executing QueryExecution's own tracker so nothing
  * is planned twice. Installed only on traced runs, so the untraced run
  * measures the program alone. */
final class Trace(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val c = Array.fill(11)(new AtomicLong)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = c(0).incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c(1).incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      c(2).incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        c(3).addAndGet(m.jvmGCTime)
        c(4).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c(5).addAndGet(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        c(6).addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c(7).addAndGet(m.inputMetrics.recordsRead)
        c(8).addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      c(9).addAndGet(Trace.exchanges(qe.executedPlan))
      if (qe.executedPlan.isInstanceOf[OverwriteByExpressionExec]) c(10).addAndGet(Trace.planningMs(qe))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }
  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Cumulative counts once every event so far has been delivered. */
  def snapshot(): SparkCounts = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    val v = c.map(_.get)
    SparkCounts(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9), v(10))
  }

  /** Runs `body` inside a span and returns its result with the span;
    * `body` receives the span's id, to parent the spans it opens. */
  def span[T](op: String, layer: String, name: String, parent: Int = -1)(body: Int => T): (T, Span) = {
    val id = synchronized { nextId += 1; nextId }
    val t0 = System.nanoTime()
    val out = body(id)
    val s = Span(id, parent, op, layer, name, t0, System.nanoTime())
    synchronized { spans += s }
    (out, s)
  }

  def all: Seq[Span] = synchronized(spans.toList)
}

object Trace {
  /** Exchanges in a plan, looking through AQE wrappers and query stages so
    * an executed adaptive plan is counted in its final shape. */
  def exchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: Exchange => 1L + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }

  /** Optimization plus physical planning of an execution, in ms. */
  def planningMs(qe: QueryExecution): Long = {
    val phases = qe.tracker.phases
    Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
      .flatMap(phases.get).map(_.durationMs).sum
  }

  def spanJson(s: Span, origin: Long): Map[String, Any] = Map(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer, "name" -> s.name,
    "start_ms" -> (s.startNs - origin) / 1e6, "dur_ms" -> (s.endNs - s.startNs) / 1e6)
}
