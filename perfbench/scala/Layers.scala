package perfbench

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Per-layer metrics shared by the workloads; every value is per pass. */
object Layers {
  /** Length of the union of `[start, end)` intervals. */
  def unionMs(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var reach = Double.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) total += e - from
      reach = math.max(reach, e)
    }
    total
  }

  /** Scheduler, executor and exchange metrics of `jobs`, which ran inside a
    * measured section `wallMs` long made of `passes` passes. */
  def jobs(run: Run, jobs: Seq[Recorder#JobRec], wallMs: Double, passes: Int,
           tasksBefore: Map[String, Long], tasksAfter: Map[String, Long],
           phasesBefore: Map[String, Long], phasesAfter: Map[String, Long]): Unit = {
    val m = run.metrics
    def d(k: String) = (tasksAfter(k) - tasksBefore(k)).toDouble / passes
    val busy = unionMs(jobs.filter(_.endMs >= 0).map(j => (j.startMs.toDouble, j.endMs.toDouble)))
    m("jobs.count") = jobs.size.toDouble / passes
    m("jobs.stages") = jobs.map(_.stages.get).sum.toDouble / passes
    m("jobs.tasks") = jobs.map(_.tasks.get).sum.toDouble / passes
    m("jobs.busy_ms") = busy / passes
    m("jobs.driver_gap_ms") = math.max(0.0, wallMs - busy) / passes
    m("executor.run_ms") = d("run_ms")
    m("executor.cpu_ms") = d("cpu_ns") / 1e6
    m("executor.gc_ms") = d("gc_ms")
    m("exchange.shuffle_read_mb") = d("shuffle_read") / 1048576.0
    m("exchange.shuffle_write_mb") = d("shuffle_write") / 1048576.0
    m("exchange.spill_mb") = d("spill") / 1048576.0
    m("scan.input_mb") = d("input_bytes") / 1048576.0
    Seq("analysis", "optimization", "planning").foreach { ph =>
      m(s"catalyst.${ph}_ms") =
        (phasesAfter.getOrElse(ph, 0L) - phasesBefore.getOrElse(ph, 0L)).toDouble / passes
    }
  }
}

/** Codegen shape of an executed plan, AQE stages and subqueries included:
  * (expressions that fall back to interpretation, whole-stage codegen stages). */
object PlanShape extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): (Int, Int) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    (nodes.map(_.expressions.map(_.collect { case e: CodegenFallback => e }.size).sum).sum,
      nodes.count(_.isInstanceOf[WholeStageCodegenExec]))
  }
}
