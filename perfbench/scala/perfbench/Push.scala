package perfbench

import graft.functions.OddsFns
import graft.sources.FrameReplaySource
import graft.streaming.{EventStreams, Sinks, WagerBook}
import graft.streaming.WagerBook.Command
import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One generated market-update frame and what the sinks must make of it. */
final case class MarketFrame(raw: String, marketId: String, eventId: Long, tournamentId: Long,
    status: String, odds: Int, dueNs: Long, broadcast: Boolean, bad: Boolean)

/** Seeded frame content. Market updates go to 16 tournaments, 8 of them
  * subscribed; one frame in ten is on a private channel and one in a
  * hundred carries an undecodable payload, so routing and quarantine both
  * do work. Wager commands follow the mix `WagerBook.commandsFromEvents`
  * derives from the events table. */
final class FrameContent(seed: Long) {
  // One stream per log, so content never depends on how writes interleave.
  private val rng = new scala.util.Random(seed)
  private val crng = new scala.util.Random(seed * 31 + 7)
  private var nMarket = 0L
  private var nCmd = 0L
  private val statuses = Array("open", "suspended", "settled")
  private val ladder = OddsFns.Ladder.toArray

  def market(dueNs: Long): MarketFrame = {
    val i = nMarket; nMarket += 1
    val t = rng.nextInt(16).toLong
    val broadcast = rng.nextInt(10) != 0
    val bad = rng.nextInt(100) == 0
    val (mid, eid, st, odds) = (s"m$i", rng.nextInt(5000).toLong, statuses(rng.nextInt(3)),
      ladder(rng.nextInt(ladder.length)))
    val inner = s"""{"market_id":"$mid","event_id":$eid,"tournament_id":$t,"status":"$st",""" +
      s""""odds":$odds,"updated_at":$dueNs}"""
    val payload = if (bad) s"!!corrupt-$i" else Base64.getEncoder.encodeToString(inner.getBytes(UTF_8))
    val channel = if (broadcast) "broadcast-odds" else s"private-user${rng.nextInt(1000)}"
    val raw = s"""{"channel":"$channel","event_name":"tournament_$t","payload":"$payload"}"""
    MarketFrame(raw, mid, eid, t, st, odds, dueNs, broadcast, bad)
  }

  def command(dueNs: Long): Command = {
    val j = nCmd; nCmd += 1
    val u = crng.nextInt(100)
    val op = if (u < 40) "PLACE" else if (u < 65) "CANCEL" else if (u == 65) "CANCEL_ALL" else "NOOP"
    val h = crng.nextInt(20)
    val http = if (h == 0) 404 else if (h == 1) 500 else 200
    Command(dueNs / 1000, j, s"w${crng.nextInt(50)}", op, http, s"srv$j",
      math.round(crng.nextDouble() * 50000) / 100.0)
  }

  def commandJson(c: Command): String =
    s"""{"tsn":${c.tsn},"eventId":${c.eventId},"externalId":"${c.externalId}","op":"${c.op}",""" +
      s""""http":${c.http},"wagerId":"${c.wagerId}","stake":${c.stake}}"""
}

/** Appends frames to the two frame logs. Each write is flushed whole, so
  * the source only ever sees complete `\n`-terminated frames. */
final class FrameLogs(val marketPath: String, val commandPath: String, content: FrameContent) {
  private def open(p: String) =
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(p, true), UTF_8), 1 << 16)
  private val mw = open(marketPath)
  private val cw = open(commandPath)
  val market = mutable.ArrayBuffer.empty[MarketFrame]
  val commands = mutable.ArrayBuffer.empty[Command]

  def writeMarket(dueNs: Long): Unit = {
    val f = content.market(dueNs); market += f; mw.write(f.raw); mw.write('\n')
  }
  def writeCommand(dueNs: Long): Unit = {
    val c = content.command(dueNs); commands += c; cw.write(content.commandJson(c)); cw.write('\n')
  }
  def flush(): Unit = { mw.flush(); cw.flush() }
  def close(): Unit = { mw.close(); cw.close() }
}

/** The open-loop load generator: frames arrive as a seeded Poisson process
  * at a fixed rate per phase, whatever the engine is doing. A frame's
  * stamp is the time it was due; `late` records how far behind its due
  * time each frame was actually written. */
final class Generator(logs: FrameLogs, seed: Long, clock: () => Long) {
  // Separate arrival streams per log: the schedule never depends on how
  // the loop happens to interleave the two logs' writes.
  private val mrng = new scala.util.Random(seed ^ 0x5eed)
  private val crng = new scala.util.Random(seed ^ 0xc0de)
  val late = mutable.ArrayBuffer.empty[Long]
  /** (phase, due ns) of every market and command frame, in log order. */
  val marketDue = mutable.ArrayBuffer.empty[(Int, Long)]
  val commandDue = mutable.ArrayBuffer.empty[(Int, Long)]

  private def gap(rng: scala.util.Random, ratePerS: Double): Long =
    (-math.log(1 - rng.nextDouble()) / ratePerS * 1e9).toLong

  /** Runs one phase from `startNs` for `durNs`, or until `done()` holds
    * (polled every 100 ms); command frames arrive at a tenth of the market
    * rate. Returns the time the phase's schedule ended. */
  def phase(id: Int, marketRate: Double, startNs: Long, durNs: Long,
      done: () => Boolean = () => false): Long = {
    var end = startNs + durNs
    var nextM = startNs + gap(mrng, marketRate)
    var nextC = startNs + gap(crng, marketRate / 10)
    var nextPoll = startNs
    while (math.min(nextM, nextC) < end) {
      val now = clock()
      if (now >= nextPoll) {
        nextPoll = now + 100000000L
        if (done()) end = math.min(end, now)
      }
      var wrote = false
      while (nextM <= now && nextM < end) {
        logs.writeMarket(nextM); marketDue += ((id, nextM)); late += now - nextM
        nextM += gap(mrng, marketRate); wrote = true
      }
      while (nextC <= now && nextC < end) {
        logs.writeCommand(nextC); commandDue += ((id, nextC)); late += now - nextC
        nextC += gap(crng, marketRate / 10); wrote = true
      }
      if (wrote) logs.flush()
      val wait = math.min(nextM, nextC) - clock()
      if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(math.min(wait, 2000000L))
    }
    end
  }
}

object Push {
  /** Tournaments the market leg subscribes to (of the 16 generated). */
  val Subscribed: Seq[Long] = 0L until 8L
  val MarketWindow = "1 second"
  val Watermark = "2 seconds"
  /** Offered market-frame rates (frames/s); commands add a tenth. `low`
    * leaves micro-batches small, so their fixed cost sets latency; `high`
    * makes per-frame decode the larger share while staying below what the
    * live legs sustain (their backlog stays flat through the phase). */
  val LowRate = 200.0
  val HighRate = 8000.0
  /** Each rate runs for a share of `--seconds` but at least this long, so
    * every phase spans several micro-batches whatever `--seconds` is. */
  val LowMinS = 3.0
  val HighMinS = 6.0
  /** Frames of the timed phases committed later than this after they were
    * due count as failures. */
  val LatencyLimitMs = 15000.0
  /** The first part of each phase is a transition and is not sampled. */
  val SkipNs = 500000000L
  val BacklogMarket = 20000
  val DrainBatch = 10000

  def epochNanos(): Long = System.currentTimeMillis() * 1000000L

  /** The commit time of a progress report: trigger start plus its
    * duration, in epoch ns. */
  def commitNs(p: StreamingQueryProgress): Long =
    (java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)) * 1000000L

  def offsets(p: StreamingQueryProgress): (Long, Long) = {
    val s = p.sources.head
    (Option(s.startOffset).filter(_ != "null").map(_.trim.toLong).getOrElse(0L),
      Option(s.endOffset).map(_.trim.toLong).getOrElse(0L))
  }

  /** Progress reports of batches that read frames. */
  def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter { p => val (s, e) = offsets(p); e > s }
}

/** The push leg: market updates and wager commands through
  * `FrameReplaySource` into the three sinks, measured as frame latency at
  * two offered rates and as a timed `AvailableNow` drain of a backlog. */
final class Push(spark: SparkSession, o: Opts, r: Result, t0: Long) {
  import Push._
  import spark.implicits._

  private val nShards = o.cores
  private val cmdSchema = org.apache.spark.sql.Encoders.product[Command].schema
  private def secs(from: Long): Double = (System.nanoTime() - from) / 1e9
  private var dirSeq = 0
  private def freshDir(tag: String): String = {
    dirSeq += 1
    val d = new java.io.File(s"${o.runDir}/push/$tag-$dirSeq"); d.mkdirs(); d.getAbsolutePath
  }

  final case class Legs(market: StreamingQuery, stats: StreamingQuery, wager: StreamingQuery,
      dir: String) {
    def all: Seq[StreamingQuery] = Seq(market, stats, wager)
  }

  private def source(path: String, maxPerBatch: Int): DataFrame =
    spark.readStream.format(FrameReplaySource.Name).option("path", path)
      .option("maxFramesPerBatch", maxPerBatch.toLong).option("numSlices", o.cores.toLong).load()

  /** Starts the three legs over the two logs into fresh sinks. */
  private def start(logs: FrameLogs, trigger: Trigger, maxPerBatch: Int, tag: String): Legs = {
    val dir = freshDir(tag)
    val decoded = EventStreams.decodeFramesWithQuarantine(source(logs.marketPath, maxPerBatch))
    val market = Sinks.appendSink(
      EventStreams.tournamentLeg(decoded, Subscribed), s"$dir/market", s"$dir/ck_market", trigger)
    val stats = Sinks.idempotentAppendSink(
      EventStreams.windowedOddsStats(decoded.where(col("decode_ok")), MarketWindow, Some(Watermark)),
      s"$dir/stats", s"$dir/ck_stats", "append", trigger)
    val cmds = source(logs.commandPath, maxPerBatch / 10)
      .select(from_json(col("raw"), cmdSchema).as("c")).select("c.*").as[Command]
    val wager = Sinks.idempotentAppendSink(WagerBook.streamTws(spark, cmds, nShards),
      s"$dir/wager", s"$dir/ck_wager", "update", trigger)
    Legs(market, stats, wager, dir)
  }

  private def newLogs(tag: String, content: FrameContent): FrameLogs = {
    val d = freshDir(tag)
    new FrameLogs(s"$d/market.jsonl", s"$d/commands.jsonl", content)
  }

  /** Writes the pre-written backlog a drain pass replays. */
  private def backlog(content: FrameContent): FrameLogs = {
    val logs = newLogs("backlog", content)
    // One frame per ms of event time, so the backlog spans many windows.
    val base = epochNanos() - 3600L * 1000000000L
    val step = 1000000L
    (0 until BacklogMarket).foreach { i =>
      logs.writeMarket(base + i * step)
      if (i % 10 == 0) logs.writeCommand(base + i * step + 1)
    }
    logs.close()
    logs
  }

  /** Waits on a leg; a failed micro-batch is a counted failure, not an
    * aborted run. */
  private def await(q: StreamingQuery, what: String)(wait: => Unit): Unit =
    try wait
    catch { case e: org.apache.spark.sql.streaming.StreamingQueryException =>
      r.fail(s"$what leg ${q.name} failed: ${e.getMessage.take(200)}") }

  /** One drain of the backlog through all three legs; returns seconds and
    * the legs (terminated). */
  private def drain(logs: FrameLogs): (Double, Legs) = {
    val s = System.nanoTime()
    val legs = start(logs, Trigger.AvailableNow(), DrainBatch, "drain")
    legs.all.foreach(q => await(q, "drain")(q.awaitTermination()))
    (secs(s), legs)
  }

  private val phases = mutable.LinkedHashMap.empty[String, Double]
  private var phaseMark = t0
  private def mark(name: String): Unit = {
    val now = System.nanoTime(); phases(name) = (now - phaseMark) / 1e9; phaseMark = now
  }

  def run(): Unit = {
    mark("jvm_and_session")
    val content = new FrameContent(o.seed)
    val trace = if (o.trace) Some(new Trace(spark)) else None
    val backlogLogs = backlog(content)
    mark("backlog_write")
    // Set-up: the live legs start on empty logs and run in at the low rate
    // until each has committed two micro-batches (plans compiled, state
    // stores created); then the timed low and high phases.
    val liveLogs = newLogs("live", new FrameContent(o.seed + 1))
    val legs = start(liveLogs, Trigger.ProcessingTime(0L), 200000, "live")
    val gen = new Generator(liveLogs, o.seed, () => epochNanos())
    val lowNs = (math.max(o.seconds * 0.6, LowMinS) * 1e9).toLong
    val highNs = (math.max(o.seconds * 0.4, HighMinS) * 1e9).toLong
    @volatile var genError: Option[Throwable] = None
    @volatile var timedStart = 0L
    val thread = new Thread(() => {
      try {
        val warm = gen.phase(0, LowRate, epochNanos(), 60L * 1000000000L,
          () => legs.all.forall(q => dataBatches(q).size >= 2))
        timedStart = System.nanoTime()
        gen.phase(1, LowRate, warm, lowNs)
        gen.phase(2, HighRate, warm + lowNs, highNs)
      } catch { case e: Throwable => genError = Some(e) }
    }, "perfbench-generator")
    thread.setDaemon(true)
    thread.start()
    while (timedStart == 0L && thread.isAlive) Thread.sleep(1)
    val setupS = if (timedStart > 0) (timedStart - t0) / 1e9 else secs(t0)
    mark("live_start_and_warm_in")
    thread.join()
    mark("live_low_high")
    liveLogs.close()
    genError.foreach(e => r.fail(s"generator failed: $e"))
    legs.all.foreach(q => await(q, "live")(q.processAllAvailable()))
    legs.all.foreach(_.stop())
    // What the program keeps alive after the live part and after each
    // drain, each read after a full collection outside the timed spans.
    val retained = mutable.ArrayBuffer(Main.retainedMb())
    mark("live_drain_and_stop")
    val lat = latencies(legs, liveLogs, gen)
    val behind = backlogs(legs, gen)

    // One untimed drain compiles the drain path, then timed drains of the
    // backlog: two, whose median is reported, or in a traced run three,
    // alternating untraced, traced, untraced, so warm-up drift does not
    // bias the tracing overhead.
    drain(backlogLogs)
    trace.foreach(_.install())
    val drains = mutable.ArrayBuffer.empty[(Boolean, Double, Double)]
    val counts = mutable.ArrayBuffer.empty[SparkCounts]
    val dStart = System.nanoTime()
    var last: Option[Legs] = None
    val minDrains = if (o.trace) 3 else 2
    while (drains.size < minDrains || (timedStart > 0 && secs(timedStart) < o.seconds)) {
      val traced = o.trace && drains.size % 2 == 1
      val before = trace.filter(_ => traced).map(_.snapshot())
      val c0 = Main.cpuNs()
      val (s, l) = if (traced) trace.get.span("drain", "streaming", "drain")(_ => drain(backlogLogs))._1
        else drain(backlogLogs)
      before.foreach(b => counts += trace.get.snapshot() - b)
      drains += ((traced, s, (Main.cpuNs() - c0) / 1e9)); last = Some(l)
      retained += Main.retainedMb()
    }
    trace.foreach(_.uninstall())
    mark("timed_drains")
    check(legs, liveLogs, "live")
    last.foreach(check(_, backlogLogs, "timed drain"))
    mark("checks")
    r.samples("phase_s") = phases
    val untraced = drains.filter(!_._1)
    val drainP50 = Stats.median(untraced.map(_._2).toSeq)
    val frames = backlogLogs.market.size + backlogLogs.commands.size
    r.attempted += frames.toLong * drains.size + liveLogs.market.size + liveLogs.commands.size
    r.samples("drain_s") = drains.map { case (t, s, c) => Map("traced" -> t, "s" -> s, "cpu_s" -> c) }
    r.samples("generator_late_ms") = Map(
      "p50" -> Stats.median(gen.late.map(_ / 1e6).toSeq),
      "max" -> gen.late.max / 1e6, "n" -> gen.late.size)
    r.samples("frames") = Map("backlog" -> frames, "live_market" -> liveLogs.market.size,
      "live_commands" -> liveLogs.commands.size)
    r.samples("retained_mb") = retained

    if (!o.trace) {
      r.metric("setup_s", setupS, "s")
      r.metric("pass_p50_s", drainP50, "s")
      r.metric("pass_cpu_s", Stats.median(untraced.map(_._3).toSeq), "s")
      r.metric("retained_mb", retained.max, "MB")
    } else {
      trace.foreach(t => r.spans = t.all.map(Trace.spanJson(_, dStart)))
      val first = counts.head.toMap
      Layers.zeroBatch(r)
      Layers.sparkTotals(r, first, first)
      r.metric("bench.trace_overhead_pct",
        (Stats.median(drains.filter(_._1).map(_._2).toSeq) / drainP50 - 1.0) * 100.0, "%")
      r.metric("bench.generator_late_p99_ms",
        Stats.percentile(gen.late.map(_ / 1e6).toSeq, 99.0).getOrElse(gen.late.max / 1e6), "ms")
      streamingLayers(legs, liveLogs, behind)
      Kernels.measure(spark, r, Kernels.FrameKernels)
    }
    val high = behind.filter(_._1 == 2).map(_._3)
    r.samples("summary") = Map(
      "frame_latency_ms" -> lat.map { case (k, (p50, tail)) => k -> Map("p50" -> p50, "tail" -> tail) },
      "drain_frames_per_s" -> frames / drainP50,
      "backlog_frames_high_max" -> (if (high.isEmpty) 0.0 else high.max))
  }

  /** Per frame of the timed phases: commit time of the batch that read it
    * minus its due time. Returns per rate (p50, highest supported
    * percentile as "pNN=value"), skipping each phase's first half second
    * of transition. Frames never committed, and frames of the timed phases
    * committed more than [[LatencyLimitMs]] after they were due, count as
    * failures. */
  private def latencies(legs: Legs, logs: FrameLogs, gen: Generator)
      : Map[String, (Double, String)] = {
    val perPhase = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
    def collect(q: StreamingQuery, due: Seq[(Int, Long)], what: String): Unit = {
      val committed = new Array[Long](due.size)
      dataBatches(q).foreach { p =>
        val (s, e) = offsets(p)
        val c = commitNs(p)
        (s.toInt until math.min(e, due.size.toLong).toInt).foreach(i => committed(i) = c)
      }
      val phaseStart = due.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
      var lost, slow = 0L
      due.indices.foreach { i =>
        val (ph, d) = due(i)
        val ms = (committed(i) - d) / 1e6
        if (committed(i) == 0L) lost += 1
        else if (ph > 0) {
          if (ms > LatencyLimitMs) slow += 1
          if (d >= phaseStart(ph) + SkipNs) perPhase.getOrElseUpdate(ph, mutable.ArrayBuffer.empty) += ms
        }
      }
      if (lost > 0) r.fail(s"live $what frames never committed", lost)
      if (slow > 0) r.fail(s"live $what frames over the ${LatencyLimitMs.toInt} ms latency limit", slow)
    }
    collect(legs.market, gen.marketDue.toSeq, "market")
    collect(legs.wager, gen.commandDue.toSeq, "command")
    r.samples("frame_latency_n") = perPhase.map { case (k, v) => k.toString -> v.size }
    Map("low" -> 1, "high" -> 2).map { case (name, ph) =>
      val xs = perPhase.getOrElse(ph, mutable.ArrayBuffer(Double.NaN)).toSeq
      val tail = Stats.highestSupported(xs).map { case (p, v) => s"p${fmtP(p)}=$v" }.getOrElse("n/a")
      name -> (Stats.median(xs), tail)
    }
  }

  private def fmtP(p: Double): String = if (p == p.floor) p.toInt.toString else p.toString

  /** The market leg's backlog at each commit of a data batch: frames due
    * by then minus frames committed, as (phase, seconds into the phase,
    * frames). Batches of a phase's first half second are left out. Flat
    * through a phase means the rate is sustained; growth means it is not. */
  private def backlogs(legs: Legs, gen: Generator): Seq[(Int, Double, Double)] = {
    val due = gen.marketDue.map(_._2).toArray
    val phaseStart = gen.marketDue.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
    val phaseEnd = gen.marketDue.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).max }
    val out = dataBatches(legs.market).flatMap { p =>
      val c = commitNs(p)
      val appended = java.util.Arrays.binarySearch(due, c) match {
        case i if i >= 0 => i + 1
        case i => -i - 1
      }
      val ph = phaseEnd.collectFirst { case (k, end) if c <= end && c >= phaseStart(k) + SkipNs => k }
      ph.map(k => (k, (c - phaseStart(k)) / 1e9, (appended - offsets(p)._2).toDouble))
    }
    r.samples("backlog_frames") = out.map { case (ph, t, n) => Map("phase" -> ph, "t_s" -> t, "frames" -> n) }
    out
  }

  /** Streaming per-layer metrics from the live run's progress reports. */
  private def streamingLayers(legs: Legs, logs: FrameLogs, backlog: Seq[(Int, Double, Double)]): Unit = {
    def dur(p: StreamingQueryProgress, k: String): Double =
      p.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val named = Seq("market" -> legs.market, "odds_stats" -> legs.stats, "wager" -> legs.wager)
    named.foreach { case (leg, q) =>
      val ps = dataBatches(q)
      r.metric(s"streaming.batch_ms.$leg", med(ps.map(dur(_, "triggerExecution"))), "ms")
      r.metric(s"streaming.add_batch_ms.$leg", med(ps.map(dur(_, "addBatch"))), "ms")
      r.metric(s"streaming.batches.$leg", ps.size.toDouble, "count")
    }
    val all = legs.all.flatMap(dataBatches)
    r.metric("streaming.planning_ms", med(all.map(dur(_, "queryPlanning"))), "ms")
    r.metric("streaming.commit_ms", med(all.map(p => dur(p, "commitOffsets") + dur(p, "walCommit"))), "ms")
    r.metric("sources.latest_offset_ms", med(all.map(dur(_, "latestOffset"))), "ms")
    val timed = backlog.filter(_._1 > 0).map(_._3)
    r.metric("sources.backlog_frames", if (timed.isEmpty) 0.0 else timed.max, "count")
    val finals = legs.all.flatMap(q => dataBatches(q).lastOption).flatMap(_.stateOperators)
    r.metric("streaming.state_rows", finals.map(_.numRowsTotal.toDouble).sum, "count")
    r.metric("streaming.state_bytes", finals.map(_.memoryUsedBytes.toDouble).sum, "bytes")
    r.metric("streaming.state_commit_ms",
      med(legs.all.flatMap(dataBatches).flatMap(_.stateOperators).map(_.commitTimeMs.toDouble)), "ms")
    val market = logs.market.filter(f => f.broadcast && Subscribed.contains(f.tournamentId))
    r.metric("streaming.quarantined_ratio",
      if (market.isEmpty) 0.0 else market.count(_.bad).toDouble / market.size, "ratio")
  }

  /** Compares the three sinks of one run with their batch equivalents;
    * every lost, duplicated or wrong row counts as a failure. */
  private def total(c: org.apache.spark.sql.Column) = coalesce(sum(c), lit(0L))

  private def check(legs: Legs, logs: FrameLogs, what: String): Unit = {
    val before = r.failed

    // Leg 1: every routed frame exactly once, decoded to what was generated,
    // quarantined exactly when its payload was corrupted.
    val expected = logs.market.filter(f => f.broadcast && Subscribed.contains(f.tournamentId))
      .map(f => (f.raw, f.bad, f.marketId, f.eventId, f.tournamentId, f.status, f.odds, f.dueNs))
      .toSeq.toDF("raw", "bad", "market_id", "event_id", "tournament_id", "status", "odds", "updated_at")
    val cols = Seq("market_id", "event_id", "tournament_id", "status", "odds", "updated_at")
    val got = spark.read.parquet(s"${legs.dir}/market").select(col("raw"), col("decode_ok"), col("update.*"))
      .groupBy("raw").agg(count(lit(1)).as("n"),
        first("decode_ok").as("decode_ok") +: cols.map(c => first(c).as(s"g_$c")): _*)
    val present = col("n").isNotNull && col("bad").isNotNull
    val wrongValue = !col("bad") && cols.map(c => !col(c).eqNullSafe(col(s"g_$c"))).reduce(_ || _)
    val m = expected.join(got, Seq("raw"), "full_outer").agg(
      total(when(!present, 1L).otherwise(0L)),
      total(when(col("n") > 1, col("n") - 1).otherwise(0L)),
      total(when(present && (col("bad") === col("decode_ok") || wrongValue), 1L).otherwise(0L))).head()
    if (m.getLong(0) + m.getLong(1) > 0)
      r.fail(s"$what market sink: frames lost, unexpected or duplicated", m.getLong(0) + m.getLong(1))
    if (m.getLong(2) > 0) r.fail(s"$what market sink: frames decoded or quarantined wrongly", m.getLong(2))

    // Leg 2: every emitted window once, equal to the batch aggregate of the
    // same decoded updates (windows still open at the end are not emitted).
    val decoded = logs.market.filter(!_.bad)
      .map(f => (f.marketId, f.eventId, f.tournamentId, f.status, f.odds, f.dueNs))
      .toSeq.toDF(cols: _*)
      .select(struct(col("*")).as("update"))
    val batchStats = EventStreams.windowedOddsStats(decoded, MarketWindow, None)
    val stats = Seq("n_updates", "min_odds", "max_odds")
    val keys = Seq("window_start", "tournament_id")
    val emitted = spark.read.parquet(s"${legs.dir}/stats").groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), stats.map(c => first(c).as(s"g_$c")): _*)
    val w = emitted.join(batchStats, keys, "left").agg(count(lit(1)),
      total(when(col("n") > 1, col("n") - 1).otherwise(0L)),
      total(when(stats.map(c => !col(c).eqNullSafe(col(s"g_$c"))).reduce(_ || _), 1L).otherwise(0L))).head()
    if (w.getLong(0) == 0) r.fail(s"$what window sink emitted nothing")
    if (w.getLong(1) + w.getLong(2) > 0)
      r.fail(s"$what window sink: windows duplicated or differing from batch", w.getLong(1) + w.getLong(2))

    // Leg 3: each shard's last emitted snapshot equals the batch replay of
    // every command, restricted to that shard.
    val cmds = logs.commands.toSeq
    val shardsOf = cmds.map(c =>
      if (c.op == "CANCEL_ALL") (0 until nShards).toSet else Set(WagerBook.shardOf(c.externalId, nShards)))
    val lastBatch = mutable.Map.empty[Int, Long]
    dataBatches(legs.wager).foreach { p =>
      val (s, e) = offsets(p)
      (s.toInt until e.toInt).foreach(i => shardsOf(i).foreach(sh =>
        lastBatch(sh) = math.max(lastBatch.getOrElse(sh, -1L), p.batchId)))
    }
    val book = cmds.map(c => (c.tsn, c.eventId, c.externalId, c.op, c.http, c.wagerId, c.stake))
      .toDF("tsn", "event_id", "external_id", "op", "http", "wager_id", "stake")
    val want = WagerBook.batchReplay(book).as[(String, String, Double)].collect()
      .groupBy(w => WagerBook.shardOf(w._1, nShards)).map { case (k, v) => k -> v.toSet }
    val sunk = spark.read.parquet(s"${legs.dir}/wager")
      .select(col("batch_id").cast("long"), col("shard"), col("externalId"), col("wagerId"), col("stake"))
      .as[(Long, Int, String, String, Double)].collect()
    (0 until nShards).foreach { sh =>
      val have = lastBatch.get(sh).map(b => sunk.filter(x => x._1 == b && x._2 == sh)
        .map(x => (x._3, x._4, x._5)).toSet).getOrElse(Set.empty)
      val diff = (have diff want.getOrElse(sh, Set.empty)) ++ (want.getOrElse(sh, Set.empty) diff have)
      if (diff.nonEmpty) r.fail(s"$what wager book shard $sh: wagers differ from batch replay", diff.size)
    }
    r.samples(s"check $what") = if (r.failed == before) "ok" else "failed"
  }
}
