package perfbench

/** The per-layer metric set of a traced run. Every traced run reports
  * every name; a layer the workload does not exercise reports 0. */
object Layers {
  /** Queries whose per-query metrics BENCHMARK.json names: those of the
    * batch workload on the benchmark's board. A run of another batch
    * workload reports its own queries as well. */
  val BoardQueries: Seq[String] = Batch.LlmCuration
  val Legs: Seq[String] = Seq("market", "odds_stats", "wager")
  /** Spark counters reported per query as well as per pass, with units.
    * Spill (0 on every query at this scale) and shuffle read (equal to
    * shuffle write in local mode) are reported per pass only. */
  val PerQueryCounts: Seq[(String, String)] = Seq("jobs" -> "count", "stages" -> "count",
    "tasks" -> "count", "final_exchanges" -> "count", "gc_s" -> "s",
    "shuffle_write_bytes" -> "bytes")
  val PerQuerySources: Seq[(String, String)] = Seq("input_records" -> "count",
    "input_bytes" -> "bytes")

  private def num(m: Map[String, Any], k: String): Double = m(k).asInstanceOf[Double]

  /** Per-layer metrics of a batch workload from its traced query rows: per
    * query, the median over traced passes for times and the first traced
    * pass for counts (counts repeat exactly); totals are per pass. */
  def batch(r: Result, names: Seq[String], rows: Seq[Map[String, Any]], tableLoadS: Double,
      tracedP50: Double, untracedP50: Double): Unit = {
    val byQuery = rows.groupBy(_("query").toString)
    def med(n: String, k: String) = Stats.median(byQuery(n).map(num(_, k)))
    def first(n: String, k: String) = num(byQuery(n).head, k)
    def total(k: String, f: (String, String) => Double) = names.map(f(_, k)).sum
    r.metric("queries.build_s", total("build_s", med), "s")
    r.metric("plans.plan_s", total("plan_s", med), "s")
    (names ++ BoardQueries).distinct.foreach { n =>
      val on = names.contains(n)
      r.metric(s"operators.exec_s.$n", if (on) med(n, "exec_s") else 0.0, "s")
      PerQueryCounts.foreach { case (k, u) =>
        r.metric(s"spark.$k.$n", if (!on) 0.0 else if (u == "s") med(n, k) else first(n, k), u)
      }
      PerQuerySources.foreach { case (k, u) =>
        r.metric(s"sources.$k.$n", if (on) first(n, k) else 0.0, u)
      }
    }
    sparkTotals(r, k => total(k, first), k => total(k, med))
    r.metric("sources.table_load_s", tableLoadS, "s")
    r.metric("bench.trace_overhead_pct", (tracedP50 / untracedP50 - 1.0) * 100.0, "%")
  }

  /** Spark runtime totals of one pass; `count` reads exact counts, `time`
    * reads timings. */
  def sparkTotals(r: Result, count: String => Double, time: String => Double): Unit = {
    r.metric("spark.jobs", count("jobs"), "count")
    r.metric("spark.stages", count("stages"), "count")
    r.metric("spark.tasks", count("tasks"), "count")
    r.metric("spark.final_exchanges", count("final_exchanges"), "count")
    r.metric("spark.gc_s", time("gc_s"), "s")
    r.metric("spark.spill_bytes", count("spill_bytes"), "bytes")
    r.metric("spark.shuffle_read_bytes", count("shuffle_read_bytes"), "bytes")
    r.metric("spark.shuffle_write_bytes", count("shuffle_write_bytes"), "bytes")
    r.metric("sources.input_records", count("input_records"), "count")
    r.metric("sources.input_bytes", count("input_bytes"), "bytes")
  }

  /** Batch-query layers a streaming run does not exercise. */
  def zeroBatch(r: Result): Unit = {
    Seq("queries.build_s", "plans.plan_s", "sources.table_load_s").foreach(r.metric(_, 0.0, "s"))
    BoardQueries.foreach { n =>
      r.metric(s"operators.exec_s.$n", 0.0, "s")
      PerQueryCounts.foreach { case (k, u) => r.metric(s"spark.$k.$n", 0.0, u) }
      PerQuerySources.foreach { case (k, u) => r.metric(s"sources.$k.$n", 0.0, u) }
    }
  }

  /** Streaming layers a batch run does not exercise. */
  def zeroStreaming(r: Result): Unit = {
    Legs.foreach { l =>
      r.metric(s"streaming.batch_ms.$l", 0.0, "ms")
      r.metric(s"streaming.add_batch_ms.$l", 0.0, "ms")
      r.metric(s"streaming.batches.$l", 0.0, "count")
    }
    Seq("streaming.planning_ms", "streaming.commit_ms", "sources.latest_offset_ms",
      "streaming.state_commit_ms", "bench.generator_late_p99_ms").foreach(r.metric(_, 0.0, "ms"))
    r.metric("sources.backlog_frames", 0.0, "count")
    r.metric("streaming.state_rows", 0.0, "count")
    r.metric("streaming.state_bytes", 0.0, "bytes")
    r.metric("streaming.quarantined_ratio", 0.0, "ratio")
  }
}
