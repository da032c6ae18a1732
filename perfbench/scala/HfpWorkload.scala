package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sinks.GraftSink
import graft.sources.HfpSource
import graft.streaming.DedupStream
import graft.streaming.DedupStream.Ev
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The reference service's job, end to end: HFP feed lines in through
  * `HfpSource.parseLines`, canonical `contentHash128`, first-seen-wins TTL
  * chain (`DedupStream.dedupTtlChainTws`, RocksDB, 4 h TTL), primes out
  * through `GraftSink.startFileSink`; and on the same lines the analytics
  * side channel `annotate -> windowedStats -> alerts` into
  * `GraftSink.startDatePartitionedSink`.  Two streaming queries, each fed
  * by its own MemoryStream with the same lines.
  *
  * The timed section has two parts on the same running queries.  Drain
  * (closed loop, three rounds): a fixed-size micro-batch is appended to one
  * query and drained, then to the other; a pass is one such round, and it
  * sets capacity (`rows_per_s`).  Live (open loop): a generator thread releases
  * lines at a fixed rate into the dedup query alone, which triggers back to
  * back; latency runs from a line's due time to its sink commit.  Latency is a
  * per-layer metric: on a shared 4-core box it swings 20-30 % from run to
  * run, too much to gate a change on.
  */
final class HfpWorkload(run: Run) {
  import run.spark
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  val TtlMs: Long = HfpGen.TtlMs
  val DrainBatch = 12000
  val DrainRounds = 3
  val Rate = 500            // live lines/s
  val Chunk = 50            // live lines per append (100 ms)
  val WarmLines = 2000
  val SetupReps = 3

  /** The benchmark's glue from parsed HFP columns to the dedup event. */
  def toEvents(lines: DataFrame): Dataset[Ev] =
    HfpSource.parseLines(lines).select(
      unix_micros(col("recv_ts")).as("event_id"), col("recv_ts").as("ts"),
      coalesce(col("vehicle_number"), lit(0L)).as("user_id"),
      lit("hfp").as("event_type"), lit(0.0).as("value"),
      hex(HfpSource.contentHash128).as("props")).as[Ev]

  final class Pipeline(tag: String) {
    val dir = new File(run.work, s"hfp-$tag")
    val inDedup: MemoryStream[String] = MemoryStream[String]
    val inAnalytics: MemoryStream[String] = MemoryStream[String]
    val primesPath: String = new File(dir, "primes").getAbsolutePath
    val alertsPath: String = new File(dir, "alerts").getAbsolutePath
    val dedup: StreamingQuery = GraftSink.startFileSink(
      DedupStream.dedupTtlChainTws(toEvents(inDedup.toDF().toDF("line")), TtlMs).toDF(),
      primesPath, new File(dir, "ckpt-primes").getAbsolutePath)
    val analytics: StreamingQuery = GraftSink.startDatePartitionedSink(
      DedupStream.alerts(DedupStream.windowedStats(
        DedupStream.annotate(toEvents(inAnalytics.toDF().toDF("line")), TtlMs))),
      alertsPath, new File(dir, "ckpt-alerts").getAbsolutePath, tsCol = "window_start")
    /** Line index reached after each dedup append (the MemoryStream offset). */
    val appendEnds: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer.empty
    /** (wall ms, line index reached) per dedup append. */
    val releases: mutable.ArrayBuffer[(Long, Int)] = mutable.ArrayBuffer.empty
    /** Lines appended to the dedup query, and to the analytics query. */
    var released = 0
    private var analyzed = 0

    /** Appends `[released, hi)` to the dedup query only. */
    def release(lines: Array[String], hi: Int): Unit = if (hi > released) {
      inDedup.addData(lines.slice(released, hi).toSeq)
      released = hi
      synchronized { appendEnds += hi; releases += ((System.currentTimeMillis(), hi)) }
    }
    /** Appends what the dedup query has and the analytics query has not. */
    def catchUp(lines: Array[String]): Unit = if (released > analyzed) {
      inAnalytics.addData(lines.slice(analyzed, released).toSeq)
      analyzed = released
    }
    /** One drain round with the two queries taking turns: the round's
      * wall is the sum of their costs, not of their contention. */
    def appendInTurns(lines: Array[String], hi: Int): Unit = {
      release(lines, hi); dedup.processAllAvailable()
      catchUp(lines); analytics.processAllAvailable()
    }
    def stop(): Unit = { dedup.stop(); analytics.stop() }
    def queries: Seq[(String, StreamingQuery)] = Seq("dedup" -> dedup, "analytics" -> analytics)
  }

  def go(): Unit = {
    val rootStart = System.currentTimeMillis().toDouble
    run.probe()
    val nLines = WarmLines + DrainBatch * DrainRounds + Rate * (math.ceil(run.seconds).toInt + 5)

    // set-up: the feed is generated three times (the median counts), the
    // pipeline started once and the warm-up lines pushed through it; the
    // warm-up's queries carry on into the timed section
    var feed: Feed = null
    run.setup("rep_s") = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      feed = HfpGen.generate(run.seed, nLines)
      (System.nanoTime() - t0) / 1e9
    }
    val tw = System.nanoTime()
    val p = new Pipeline("run")
    p.appendInTurns(feed.lines, WarmLines / 2)
    p.appendInTurns(feed.lines, WarmLines)
    run.setup("once_s") = (System.nanoTime() - tw) / 1e9
    val ids = p.queries.map { case (n, q) => q.id.toString -> n }.toMap
    ids.foreach { case (id, n) => run.rec.streamNames.put(id, n) }
    run.drainBus()

    // drain phase: closed loop, one pass = one batch appended and drained
    val sink0 = sinkFiles(p)
    val jobs0 = run.rec.jobs.size
    val tasks0 = run.rec.tasks.snapshot
    val phases0 = run.rec.phaseSnapshot
    run.heap.reset()
    var drainCpuNs = 0L
    val t0 = System.currentTimeMillis()
    val rounds = mutable.ArrayBuffer.empty[(Double, Int, Boolean)] // (ms, lines, traced)
    while (rounds.size < DrainRounds) {
      val k = rounds.size
      val traced = run.trace && k % 2 == 0
      run.rec.spansOn = traced
      val id = s"drain:$k"
      run.rec.passId = id
      val lo = p.released
      val hi = lo + DrainBatch
      val c0 = run.cpuNs
      val s0 = System.currentTimeMillis()
      p.appendInTurns(feed.lines, hi)
      val s2 = System.currentTimeMillis()
      drainCpuNs += run.cpuNs - c0
      run.rec.span(Span(id, "workload", "pass", id, s0, s2, Map("lines" -> (hi - lo).toDouble)))
      rounds += (((s2 - s0).toDouble, hi - lo, traced))
      run.heap.collect() // outside the round: the live heap is the memory metric
    }
    run.rec.spansOn = false
    val drainMs = rounds.map(_._1).sum
    run.drainBus()
    val jobs1 = run.rec.jobs.size
    val tasks1 = run.rec.tasks.snapshot
    val phases1 = run.rec.phaseSnapshot
    val sink1 = sinkFiles(p)

    // live phase: open loop at `Rate` lines/s for the rest of `--seconds`
    // (at least 30 % of it); one pass = one second of feed.  Only the dedup
    // query runs live, so the latency is that of the path primes take; the
    // analytics query takes the live lines afterwards, untimed, for the
    // correctness check
    val start = p.released
    val t1 = System.currentTimeMillis()
    val phaseMs = math.max(run.seconds * 300, run.seconds * 1000 - (t1 - t0)).toLong
    val due0 = t1 + 20
    val dueOf = (i: Int) => due0 + (i - start) * 1000.0 / Rate
    var lateMax = 0.0
    val gen = new Thread(() => {
      var slot = -1
      var slotStart = due0.toDouble
      while (System.currentTimeMillis() < t1 + phaseMs) {
        val now = System.currentTimeMillis()
        val sl = ((now - due0) / 1000).toInt
        if (sl != slot && now >= due0) {
          if (slot >= 0) run.rec.span(Span(s"live:$slot", "workload", "pass", s"live:$slot",
            slotStart, now))
          slot = sl; slotStart = now
          run.rec.spansOn = run.trace && slot % 2 == 0
          run.rec.passId = s"live:$slot"
        }
        // whole chunks, released once their last line is due: MemoryStream
        // unions one plan per append, so appends stay few per trigger
        val due = math.max(0, ((now - due0) * Rate / 1000.0).toInt + 1)
        val hi = start + due / Chunk * Chunk
        if (hi > p.released) {
          val lo = p.released
          lateMax = math.max(lateMax, now - dueOf(hi - 1))
          p.release(feed.lines, hi)
          run.rec.span(Span(s"release:$lo", s"live:$slot", "generator", "release", now,
            System.currentTimeMillis(), Map("lines" -> (hi - lo).toDouble)))
        }
        val next = dueOf(p.released + Chunk - 1) - System.currentTimeMillis()
        if (next > 0) Thread.sleep(math.min(10L, math.ceil(next).toLong))
      }
      if (slot >= 0) run.rec.span(Span(s"live:$slot", "workload", "pass", s"live:$slot",
        slotStart, System.currentTimeMillis()))
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    gen.join()
    run.rec.spansOn = false
    p.dedup.processAllAvailable()
    p.catchUp(feed.lines)
    p.analytics.processAllAvailable()
    run.drainBus()

    // end-to-end
    val walls = rounds.map(_._1).toSeq
    run.metrics("rows_per_s") = rounds.map(_._2).sum / (walls.sum / 1000.0)
    run.metrics("wall_s") = Stats.median(walls) / 1000.0
    run.metrics("cpu_s") = drainCpuNs / 1e9 / rounds.size
    run.metrics("mem_peak_mb") = run.heap.peakMb
    run.metrics("streaming.gen_late_ms_max") = lateMax
    liveLatency(p, feed, ids, start, dueOf)
    run.setup("drain_round_ms") = walls
    run.setup("timed_passes") = rounds.size
    run.setup("live_lines") = p.released - start

    checkCorrectness(p, feed)

    // per-layer: per drain pass, except the dedup query's trigger-phase
    // medians, which are taken over the live triggers (the latency they make)
    if (run.trace) {
      val traced = rounds.filter(_._3).map(_._1).toSeq
      val plain = rounds.filterNot(_._3).map(_._1).toSeq
      if (traced.nonEmpty && plain.nonEmpty)
        run.metrics("trace.overhead_frac") = Stats.median(traced) / Stats.median(plain) - 1
      val drainProg = progressBetween(ids, t0, t1)
      val liveProg = progressBetween(ids, t1, Long.MaxValue)
      streamingLayers(drainProg, liveProg, rounds.size)
      run.metrics("sinks.files") = (sink1._1 - sink0._1).toDouble / rounds.size
      run.metrics("sinks.mb") = (sink1._2 - sink0._2) / 1048576.0 / rounds.size
      val jobs = run.rec.jobs.values.asScala.filter(j => j.id >= jobs0 && j.id < jobs1).toSeq
      Layers.jobs(run, jobs, drainMs, rounds.size, tasks0, tasks1, phases0, phases1)
      sourceParse(feed)
      run.writeSpans(rootStart, System.currentTimeMillis().toDouble)
    }
    p.stop()
  }

  private def durationOf(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  /** Progress of the pipeline's triggers that started in `[from, until)`. */
  private def progressBetween(ids: Map[String, String], from: Long,
                              until: Long): Map[String, Seq[StreamingQueryProgress]] =
    ids.map { case (id, name) =>
      name -> run.rec.progressOf(id).filter(p => startMs(p) >= from && startMs(p) < until)
    }

  private def offsetOf(json: String): Int =
    Option(json).map(_.trim).filter(s => s.nonEmpty && s != "null")
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(-1)

  /** Per forwarded prime: dedup sink commit (trigger start + duration)
    * minus the line's due time; plus the backlog seen at each commit. */
  private def liveLatency(p: Pipeline, feed: Feed, ids: Map[String, String], start: Int,
                          dueOf: Int => Double): Unit = {
    run.drainBus()
    val dedupId = ids.collectFirst { case (id, "dedup") => id }.get
    val prog = run.rec.progressOf(dedupId)
    val ends = p.synchronized(p.appendEnds.toVector)
    val rel = p.synchronized(p.releases.toVector)
    def through(off: Int): Int = if (off < 0) 0 else ends(math.min(off, ends.size - 1))
    val lat = mutable.ArrayBuffer.empty[Double]
    var backlogMax = 0
    prog.filter(_.numInputRows > 0).foreach { pr =>
      val src = pr.sources.head
      val lo = through(offsetOf(src.startOffset))
      val hi = through(offsetOf(src.endOffset))
      val commit = startMs(pr) + durationOf(pr, "triggerExecution")
      var i = math.max(lo, start)
      while (i < hi) {
        if (feed.verdict(i) == HfpGen.Prime) lat += commit - dueOf(i)
        i += 1
      }
      if (hi > start) {
        val releasedAt = rel.takeWhile(_._1 <= commit).lastOption.map(_._2).getOrElse(0)
        backlogMax = math.max(backlogMax, releasedAt - hi)
      }
    }
    run.metrics("streaming.latency_ms_p50") = Stats.quantile(lat.toSeq, 0.5)
    run.metrics("streaming.latency_ms_p99") = Stats.quantile(lat.toSeq, 0.99)
    run.setup("latency_samples") = lat.size
    run.setup("live_trigger_ms") = prog.filter(p => p.numInputRows > 0 && startMs(p) >= dueOf(start) - 20)
      .map(durationOf(_, "triggerExecution"))
    run.metrics("streaming.backlog_rows_max") = backlogMax
  }

  /** Primes and alert windows against the generator's truth. */
  private def checkCorrectness(p: Pipeline, feed: Feed): Unit = {
    val n = p.released
    run.attempted += n
    p.queries.foreach { case (name, q) =>
      q.exception.foreach(e => run.fail(n, s"$name query died: ${e.getMessage.take(300)}"))
    }
    val got = spark.read.parquet(p.primesPath).select("event_id").as[Long].collect()
    val expected = (0 until n).filter(i => feed.verdict(i) == HfpGen.Prime).map(feed.eventUs).toSet
    val counts = got.groupBy(identity).map { case (k, v) => k -> v.length }
    val twice = counts.values.map(c => (c - 1).toLong).sum
    val missing = expected.count(e => !counts.contains(e))
    val extra = counts.keys.count(e => !expected.contains(e))
    run.fail(missing, s"$missing primes missing from the sink")
    run.fail(extra, s"$extra non-primes forwarded")
    run.fail(twice, s"$twice primes emitted more than once")
    run.metrics("streaming.prime_frac") = got.length.toDouble / math.max(1, n)

    // alert windows, up to one window short of the final watermark
    run.drainBus()
    val wm = run.rec.progressOf(p.analytics.id.toString).lastOption
      .flatMap(pr => Option(pr.eventTime.get("watermark")))
      .map(s => java.time.Instant.parse(s).toEpochMilli).getOrElse(0L)
    val horizon = wm - HfpGen.WindowMs
    val counts1 = HfpGen.windowCounts(feed, n)
    val want = HfpGen.alertWindows(counts1).filter(_._1 + HfpGen.WindowMs <= horizon)
    val have = scala.util.Try(spark.read.parquet(p.alertsPath).collect().toSeq).getOrElse(Seq.empty)
      .map { r =>
        val w = r.getAs[java.sql.Timestamp]("window_start").getTime
        w -> (r.getAs[Long]("primes"), r.getAs[Long]("duplicates"),
          r.getAs[Boolean]("alert_high_dup"), r.getAs[Boolean]("alert_feed_down"))
      }
      .filter(_._1 + HfpGen.WindowMs <= horizon)
    val haveMap = have.groupBy(_._1)
    val bad = (want.keySet ++ haveMap.keySet).filter { w =>
      haveMap.get(w).map(_.map(_._2)) != want.get(w).map(Seq(_))
    }
    val badLines = bad.toSeq.map(w => counts1.get(w).map { case (a, b) => a + b }.getOrElse(1L)).sum
    run.fail(badLines, s"${bad.size} alert windows differ from truth (${want.size} expected)")
    run.setup("alert_windows_checked") = want.size
  }

  private def sinkFiles(p: Pipeline): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.filterNot(_.getName.startsWith("_")).flatMap(walk)
      else Seq(f)
    val files = Seq(p.primesPath, p.alertsPath).flatMap(d => walk(new File(d)))
      .filter(_.getName.endsWith(".parquet"))
    (files.size.toLong, files.map(_.length).sum)
  }

  private def streamingLayers(drain: Map[String, Seq[StreamingQueryProgress]],
                              live: Map[String, Seq[StreamingQueryProgress]], rounds: Int): Unit =
    Seq("dedup", "analytics").foreach { name =>
      val ps = drain.getOrElse(name, Seq.empty)
      val data = (if (name == "dedup") live else drain).getOrElse(name, Seq.empty)
        .filter(_.numInputRows > 0)
      val k = s"streaming.$name"
      def p50(phase: String) = Stats.median(data.map(durationOf(_, phase)))
      run.metrics(s"$k.triggers") = ps.size.toDouble / rounds
      run.metrics(s"$k.trigger_ms_p50") = p50("triggerExecution")
      run.metrics(s"$k.add_batch_ms_p50") = p50("addBatch")
      run.metrics(s"$k.planning_ms_p50") = p50("queryPlanning")
      run.metrics(s"$k.wal_commit_ms_p50") = p50("walCommit")
      run.metrics(s"$k.commit_offsets_ms_p50") = p50("commitOffsets")
      val ops = ps.flatMap(_.stateOperators.toSeq)
      val last = ps.lastOption.toSeq.flatMap(_.stateOperators.toSeq)
      def perRound(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
        ops.map(f).sum / rounds
      def custom(m: String) = perRound(o => Option(o.customMetrics.get(m)).map(_.doubleValue).getOrElse(0.0))
      run.metrics(s"$k.state_rows") = last.map(_.numRowsTotal.toDouble).sum
      run.metrics(s"$k.state_mb") = last.map(_.memoryUsedBytes.toDouble).sum / 1048576.0
      run.metrics(s"$k.state_rows_updated") = perRound(_.numRowsUpdated.toDouble)
      run.metrics(s"$k.state_rows_removed") = perRound(_.numRowsRemoved.toDouble)
      run.metrics(s"$k.state_commit_ms") = perRound(_.commitTimeMs.toDouble)
      run.metrics(s"$k.rocksdb_get_count") = custom("rocksdbGetCount")
      run.metrics(s"$k.rocksdb_put_count") = custom("rocksdbPutCount")
      run.metrics(s"$k.rocksdb_get_ms") = custom("rocksdbGetLatency")
      run.metrics(s"$k.rocksdb_put_ms") = custom("rocksdbPutLatency")
      run.metrics(s"$k.rocksdb_checkpoint_ms") = custom("rocksdbCommitCheckpointLatency")
    }

  /** `parseLines` + `contentHash128` alone, as one batch job over the
    * timed section's lines (after one warm run). */
  private def sourceParse(feed: Feed): Unit = {
    val lines = spark.createDataset(feed.lines.slice(WarmLines, math.max(WarmLines + 1,
      math.min(feed.size, WarmLines + 50000))).toSeq).toDF("line").cache()
    lines.count()
    def once(): Double = {
      val t0 = System.nanoTime()
      run.noop(HfpSource.parseLines(lines).select(HfpSource.contentHash128))
      (System.nanoTime() - t0) / 1e6
    }
    once()
    run.metrics("sources.parse_ms") = once()
    val in = lines.count()
    run.metrics("sources.lines_in") = in.toDouble
    run.metrics("sources.lines_dropped") = (in - HfpSource.parseLines(lines).count()).toDouble
    lines.unpersist()
  }
}
