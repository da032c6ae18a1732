package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import graft.SparkEntry

/** Warm passes over a fixed set of contract queries through
  * `SparkEntry.queries(name)` into the noop sink, with a full GC before each
  * query, outside its wall, as graft.Bench runs them.
  *
  * Set-up (the tables are generated by `run.py`): one cold pass that writes
  * every result as parquet beside the query's `SparkEntry.oracleSql`, for
  * `run.py`'s DuckDB compare -- graft.Verify's layout.  The timed section repeats passes until
  * `--seconds` is reached (at least two).  A pass is one execution of
  * every query.
  */
final class BatchWorkload(run: Run) {
  import run.spark

  val queries: Seq[String] = run.args("queries").split(",").toSeq

  def go(): Unit = {
    val rootStart = System.currentTimeMillis().toDouble
    run.probe()
    // cold correctness pass (graft.Verify's output layout)
    val verify = new File(run.work, "verify")
    val t1 = System.nanoTime()
    queries.foreach { q =>
      try SparkEntry.queries(q)(spark, run.tables).coalesce(1).write.mode("overwrite")
        .parquet(new File(verify, q).getAbsolutePath)
      catch { case e: Throwable => System.err.println(s"[perfbench] $q failed: ${e.getMessage}") }
    }
    run.setup("once_s") = (System.nanoTime() - t1) / 1e9
    run.attempted += queries.size
    verify.mkdirs()
    Files.write(new File(verify, "oracle_sql.json").toPath, Json.render(
      queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap).getBytes(UTF_8))

    // timed passes
    run.drainBus()
    val jobsBefore = run.rec.jobs.size
    val tasksBefore = run.rec.tasks.snapshot
    val phasesBefore = run.rec.phaseSnapshot
    run.heap.reset()
    val deadline = System.currentTimeMillis() + (run.seconds * 1000).toLong
    val walls = mutable.ArrayBuffer.empty[(String, Double)] // (query, ms)
    val passWalls = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var cpuNs = 0L
    var pass = 0
    while (pass < 2 || System.currentTimeMillis() < deadline) {
      val traced = run.trace && pass % 2 == 0
      run.rec.spansOn = traced
      val passId = s"pass:$pass"
      run.rec.passId = passId
      val p0 = System.currentTimeMillis()
      var passMs = 0.0
      queries.foreach { q =>
        run.heap.collect()
        val id = s"query:$pass:$q"
        spark.sparkContext.setLocalProperty("perfbench.scope", id)
        val c0 = run.cpuNs
        val s0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        try run.noop(SparkEntry.queries(q)(spark, run.tables))
        catch { case e: Throwable => run.fail(1, s"$q threw in pass $pass: ${e.getMessage.take(300)}") }
        val ms = (System.nanoTime() - t0) / 1e6
        cpuNs += run.cpuNs - c0
        spark.sparkContext.setLocalProperty("perfbench.scope", null)
        run.rec.span(Span(id, passId, "query", q, s0, s0 + ms))
        walls += ((q, ms))
        passMs += ms
        run.attempted += 1
      }
      run.rec.span(Span(passId, "workload", "pass", passId, p0, System.currentTimeMillis()))
      passWalls += ((passMs, traced))
      pass += 1
    }
    run.rec.spansOn = false
    run.drainBus()
    val timedJobs = run.rec.jobs.values().toArray(Array.empty[Recorder#JobRec]).toSeq.filter(_.id >= jobsBefore)

    val totalMs = walls.map(_._2).sum
    val tasksAfter = run.rec.tasks.snapshot
    val records = tasksAfter("input_records") - tasksBefore("input_records")
    run.metrics("rows_per_s") = records / (totalMs / 1000.0)
    run.metrics("wall_s") = Stats.median(passWalls.map(_._1).toSeq) / 1000.0
    run.metrics("cpu_s") = cpuNs / 1e9 / pass
    run.metrics("mem_peak_mb") = run.heap.peakMb
    run.setup("timed_passes") = pass
    run.setup("query_ms_median") =
      queries.map(q => q -> Stats.median(walls.filter(_._1 == q).map(_._2).toSeq)).toMap

    if (run.trace) {
      val traced = passWalls.filter(_._2).map(_._1)
      val plain = passWalls.filterNot(_._2).map(_._1)
      run.metrics("trace.overhead_frac") = Stats.median(traced.toSeq) / Stats.median(plain.toSeq) - 1
      Layers.jobs(run, timedJobs, totalMs, pass, tasksBefore, tasksAfter, phasesBefore,
        run.rec.phaseSnapshot)
      queries.foreach(q => run.metrics(s"jobs.$q") = timedJobs.count(_.scope == s"query:0:$q").toDouble)
      planAudit()
      run.writeSpans(rootStart, System.currentTimeMillis().toDouble)
    }
  }

  /** Codegen shape of every query's plan, read without executing the final
    * plan: AQE off (it collapses codegen only while running) and the
    * presentation checkpoint off (it hides the plan behind a scan). */
  private def planAudit(): Unit = {
    val keys = Seq("spark.sql.adaptive.enabled" -> "false", "graft.present.detach" -> "false")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val shapes = queries.map(q => PlanShape.of(
        SparkEntry.queries(q)(spark, run.tables).queryExecution.executedPlan))
      run.metrics("plans.codegen_fallback_exprs") = shapes.map(_._1).sum
      run.metrics("plans.wholestage_stages") = shapes.map(_._2).sum
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
