package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One node of the trace tree: `workload > pass > query|trigger > ...`. */
final case class Span(id: String, parent: String, layer: String, name: String,
                      startMs: Double, endMs: Double, counts: Map[String, Double] = Map.empty)

/** Everything the benchmark observes from outside graft's code: a
  * SparkListener (jobs, stages, task metrics), a QueryExecutionListener
  * (Catalyst phase times) and a StreamingQueryListener (trigger progress).
  *
  * Counters always run.  Spans are kept only while `spansOn` is set, so a
  * traced run can alternate traced and untraced passes and price the
  * recording itself.  Batch jobs are attributed to the driver-side scope
  * (local property `perfbench.scope`), streaming jobs to their trigger.
  */
final class Recorder {
  @volatile var spansOn = false
  @volatile var passId = "workload"
  val spans = new ConcurrentLinkedQueue[Span]()

  def span(s: Span): Unit = if (spansOn) spans.add(s)

  // --- jobs and tasks
  final class JobRec(val id: Int, val scope: String, val startMs: Long, val trigger: Option[String]) {
    @volatile var endMs: Long = -1L
    val stages = new AtomicLong()
    val tasks = new AtomicLong()
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  /** Display names of streaming queries, by query id. */
  val streamNames = new ConcurrentHashMap[String, String]()

  /** Task-metric totals, read as before/after differences. */
  object tasks {
    val runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, inputBytes, inputRecords, count =
      new AtomicLong()
    def snapshot: Map[String, Long] = Map(
      "run_ms" -> runMs.get, "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
      "shuffle_read" -> shuffleRead.get, "shuffle_write" -> shuffleWrite.get,
      "spill" -> spill.get, "input_bytes" -> inputBytes.get,
      "input_records" -> inputRecords.get, "tasks" -> count.get)
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val trigger = for (q <- prop("sql.streaming.queryId"); b <- prop("streaming.sql.batchId"))
        yield s"trigger:$q:$b"
      val j = new JobRec(e.jobId, prop("perfbench.scope").getOrElse(passId), e.time, trigger)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.endMs = e.time
        span(Span(s"job:${j.id}", j.trigger.getOrElse(j.scope), "job", s"job ${j.id}",
          j.startMs, e.time, Map("stages" -> j.stages.get.toDouble, "tasks" -> j.tasks.get.toDouble)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(stageJob.get(i.stageId)).foreach { j =>
        j.stages.incrementAndGet()
        j.tasks.addAndGet(i.numTasks)
        for (s <- i.submissionTime; c <- i.completionTime)
          span(Span(s"stage:${i.stageId}.${i.attemptNumber()}", s"job:${j.id}", "stage",
            i.name, s.toDouble, c.toDouble, Map("tasks" -> i.numTasks.toDouble)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      tasks.runMs.addAndGet(m.executorRunTime)
      tasks.cpuNs.addAndGet(m.executorCpuTime)
      tasks.gcMs.addAndGet(m.jvmGCTime)
      tasks.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      tasks.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      tasks.spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      tasks.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      tasks.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      tasks.count.incrementAndGet()
    }
  }

  // --- Catalyst phases of every batch QueryExecution
  val phaseMs = new ConcurrentHashMap[String, AtomicLong]()
  def phaseSnapshot: Map[String, Long] = phaseMs.asScala.map { case (k, v) => k -> v.get }.toMap
  private val pendingPhases = new ConcurrentLinkedQueue[Span]()
  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        phaseMs.computeIfAbsent(phase, _ => new AtomicLong()).addAndGet(s.durationMs)
        if (spansOn) pendingPhases.add(Span(s"catalyst:${qe.id}:$phase", "", "catalyst",
          phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Attach buffered Catalyst spans to the query span that contains them. */
  def resolvePhases(): Unit = {
    val queries = spans.asScala.filter(_.layer == "query").toSeq.sortBy(_.startMs)
    pendingPhases.asScala.foreach { p =>
      queries.find(q => q.startMs <= p.startMs && p.startMs <= q.endMs)
        .foreach(q => spans.add(p.copy(parent = q.id)))
    }
    pendingPhases.clear()
  }

  // --- streaming progress
  val progress = new ConcurrentHashMap[String, ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]]()
  /** Every progress of the streaming query `id`, in batch order. */
  def progressOf(id: String): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    Option(progress.get(id)).toSeq.flatMap(_.asScala).map(_.progress).sortBy(_.batchId)
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.computeIfAbsent(p.id.toString, _ => new ConcurrentLinkedQueue()).add(e)
      if (spansOn) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val id = s"trigger:${p.id}:${p.batchId}"
        span(Span(id, passId, "trigger", streamNames.getOrDefault(p.id.toString, "stream"), start, start + d.getOrElse("triggerExecution", 0L),
          Map("rows" -> p.numInputRows.toDouble)))
        // phases in MicroBatchExecution's order, laid end to end
        var t = start
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
          .foreach { k => d.get(k).foreach { ms =>
            span(Span(s"$id:$k", id, "trigger_phase", k, t, t + ms)); t += ms
          } }
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

/** Live heap: heap used right after an explicit full GC (`System.gc()`,
  * which the workloads call at pass boundaries through [[collect]]), maxed
  * over a window. */
final class HeapAfterGc {
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  private var peak = 0L

  /** Two full GCs 100 ms apart, the second one counted: the first lets
    * Spark's ContextCleaner drop the broadcasts and shuffles it finds dead,
    * which it does on its own thread after the GC that finds them. */
  def collect(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
  }
  def reset(): Unit = peak = 0L
  def peakMb: Double = peak / 1048576.0
}
