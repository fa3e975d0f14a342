package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.scalatest.funsuite.AnyFunSuite

/** The timing tool's pieces that run without its `main` (which stops the
  * session): the trace listener and the command line. */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def traced[T](body: => T): JobTrace.Counts = {
    val trace = JobTrace.attach(spark.sparkContext)
    try trace.measure(body)._2 finally trace.detach()
  }

  test("trace: a repartition + count reports its shuffle bytes") {
    val c = traced(spark.range(0, 20000, 1, 4).repartition(8).count())
    assert(c.shuffleWriteBytes > 0, c)
    assert(c.shuffleReadBytes > 0, c)
    assert(c.jobs >= 1 && c.stages >= 2 && c.tasks >= c.stages, c)
  }

  test("trace: a narrow range.count reports one job, one stage, no shuffle") {
    // one slice ⇒ the count's aggregate needs no exchange
    val c = traced(spark.range(0, 1000, 1, 1).count())
    assert(c == JobTrace.Counts(jobs = 1, stages = 1, tasks = 1, gcMs = c.gcMs), c)
  }

  test("trace: counts are complete when the action returns, even on a slow bus") {
    val sc = spark.sparkContext
    def shuffle(): Long = spark.range(0, 20000, 1, 4).repartition(8).count()
    val fast = traced(shuffle())
    // a listener ahead of the trace on the same queue holds up each stage
    // event, so a read that does not wait for the bus comes up short
    val slow = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Thread.sleep(200)
    }
    sc.addSparkListener(slow)
    val slowed = try traced(shuffle()) finally sc.removeSparkListener(slow)
    assert(slowed.copy(gcMs = 0) == fast.copy(gcMs = 0), s"$slowed vs $fast")
    assert(fast.shuffleWriteBytes > 0, fast)
  }

  test("rows: no list means the bench board; a list keeps its order") {
    assert(Bench.rows(None) == Queries.benchNames)
    assert(Bench.rows(Some("sim_graph_topk, q1_pricing_summary")) ==
      Seq("sim_graph_topk", "q1_pricing_summary"))
  }

  test("rows: an unknown row fails at once and names the row") {
    val e = intercept[IllegalArgumentException](
      Bench.rows(Some("q1_pricing_summary,no_such_row")))
    assert(e.getMessage.contains("no_such_row"))
    intercept[IllegalArgumentException](Bench.rows(Some(",")))
  }

  test("parse: row list, --trace and --plans DIR in any order; bad flags fail") {
    assert(Bench.parse(Nil) == Bench.Opts(Queries.benchNames, trace = false, None))
    assert(Bench.parse(Seq("--plans", "/tmp/p", "sim_graph_topk", "--trace")) ==
      Bench.Opts(Seq("sim_graph_topk"), trace = true, Some("/tmp/p")))
    Seq(Seq("--plans"), Seq("--plans", "--trace"), Seq("--explain"),
        Seq("q1_pricing_summary", "sim_graph_topk")).foreach { args =>
      intercept[IllegalArgumentException](Bench.parse(args))
    }
  }
}
