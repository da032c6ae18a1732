package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark: one process runs one workload.
  *
  * `run.py` builds this package, prepares the inputs it generates in Python
  * (the parquet tables), launches this main and turns its `result.json` and
  * `spans.jsonl` into the one-line report.  Arguments are `--key value`
  * pairs; see `run.py` for the full list.  `--workload gen` only dumps a
  * seeded HFP feed and its truth (the benchmark's own tests use it).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    a("workload") match {
      case "gen" =>
        val f = HfpGen.generate(a("seed").toLong, a("lines").toInt)
        val out = f.lines.indices.map(i => s"${f.verdict(i).toChar}\t${f.eventUs(i)}\t${f.lines(i)}")
        Files.write(Paths.get(a("out")), out.asJava, UTF_8)
      case w =>
        val run = new Run(a)
        try w match {
          case "hfp" => new HfpWorkload(run).go()
          case "batch" => new BatchWorkload(run).go()
          case other => sys.error(s"unknown workload $other")
        } finally run.close()
    }
  }
}

/** What every workload shares: the session, listeners, probe, metric
  * sink and the files handed back to `run.py`. */
final class Run(val args: Map[String, String]) {
  val workload: String = args("workload")
  val seed: Long = args("seed").toLong
  val seconds: Double = args("seconds").toDouble
  val trace: Boolean = args("trace") == "1"
  val work = new File(args("work"))
  val tables: String = args("tables")
  val cores: Int = args.getOrElse("cores", "4").toInt

  /** graft.Bench's execution confs, copied key for key (Bench builds its
    * session inline, so there is nothing to import); listed in every
    * result so a shared-session refactor shows up as a diff. */
  val benchConfs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.cleaner.periodicGC.interval" -> "2min",
    "spark.io.compression.codec" -> "lz4",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4194304",
    "spark.ui.enabled" -> "false",
    "graft.present.detach" -> "true")
  /** Confs the benchmark adds: scratch dirs inside the checkout; status
    * history capped low, so it fills within the warm-up and the live heap
    * after GC measures the workload, not how many jobs a run fitted in; and
    * the streaming pipeline's store and multi-operator setting. */
  val ownConfs: Seq[(String, String)] = Seq(
    "spark.local.dir" -> new File(work, "spark-local").getAbsolutePath,
    "spark.sql.warehouse.dir" -> new File(work, "warehouse").getAbsolutePath,
    "spark.ui.retainedJobs" -> "20",
    "spark.ui.retainedStages" -> "20",
    "spark.ui.retainedTasks" -> "200",
    "spark.sql.ui.retainedExecutions" -> "10",
    "spark.sql.streaming.numRecentProgressUpdates" -> "10",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.statefulOperator.checkCorrectness.enabled" -> "false")

  val spark: SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName(s"perfbench-$workload")
    (benchConfs ++ ownConfs).foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
  spark.sparkContext.setLogLevel("ERROR")
  val sessionReadyMs: Long = System.currentTimeMillis()

  val rec = new Recorder
  spark.sparkContext.addSparkListener(rec.sparkListener)
  spark.listenerManager.register(rec.qeListener)
  spark.streams.addListener(rec.streamListener)
  val heap = new HeapAfterGc
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime

  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val setup: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  val notes: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def fail(n: Long, why: String): Unit = if (n > 0) {
    failed += n
    if (notes.size < 50) notes += why
  }

  def drainBus(): Unit = org.apache.spark.BusDrain(spark.sparkContext)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Box-speed normaliser: median of 3 runs each of q1_agg and q6_filter. */
  def probe(): Unit = Seq("q1_agg", "q6_filter").foreach { q =>
    def once(): Double = {
      val t0 = System.nanoTime()
      noop(graft.SparkEntry.queries(q)(spark, tables))
      (System.nanoTime() - t0) / 1e9
    }
    metrics(s"probe.${q}_s") = Stats.median(Seq.fill(3)(once()))
  }

  /** The trace tree's root and pass spans; the per-layer self times are
    * computed from the written spans by `run.py`. */
  def writeSpans(rootStart: Double, rootEnd: Double): Unit = {
    rec.resolvePhases()
    val all = Span("workload", "", "workload", workload, rootStart, rootEnd) +: rec.spans.asScala.toSeq
    val lines = all.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "counts" -> s.counts)
    }
    Files.write(new File(work, "spans.jsonl").toPath, lines.asJava, UTF_8)
  }

  def close(): Unit = {
    val result = Json.obj(
      "metrics" -> metrics, "attempted" -> attempted, "failed" -> failed, "notes" -> notes.toSeq,
      "setup" -> setup, "session_ready_ms" -> sessionReadyMs,
      "provenance" -> Map("seed" -> seed, "local" -> s"local[$cores]",
        "spark_version" -> spark.version,
        "bench_confs" -> benchConfs.toMap, "own_confs" -> ownConfs.toMap))
    Files.write(new File(work, "result.json").toPath, result.getBytes(UTF_8))
    spark.streams.active.foreach(_.stop())
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Minimal JSON rendering for the result files. */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.sortBy(_._1).map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
