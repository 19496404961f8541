package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Order statistics over recorded samples. */
object Stats {
  /** The middle sample, or the mean of the middle two; NaN for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** The typical latency of a mix whose kinds count equally: the geometric
    * mean over kinds of each kind's median. One slow kind or one outlier
    * sample moves it far less than it moves a pooled median or mean.
    */
  def kindMedianGeoMean(samples: Seq[(String, Double)]): Double = {
    val meds = samples.groupBy(_._1).values.map(s => median(s.map(_._2))).filter(_ > 0).toSeq
    if (meds.isEmpty) Double.NaN else math.exp(meds.map(math.log).sum / meds.length)
  }

  /** Nearest-rank quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }

}

/** Named metrics with units, kept in insertion order, plus the tags
  * saying which end-to-end metric each per-layer figure should move.
  */
final class Report(val workload: String) {
  import Report.Entry
  val endToEnd = mutable.LinkedHashMap.empty[String, Entry]
  val perLayer = mutable.LinkedHashMap.empty[String, Entry]
  val detail = mutable.LinkedHashMap.empty[String, Entry]

  def e2e(name: String, value: Double, unit: String, note: String = ""): Unit =
    endToEnd(name) = Entry(value, unit, note)
  def layer(name: String, value: Double, unit: String, moves: String = ""): Unit =
    perLayer(name) = Entry(value, unit, moves)
  /** A workload-specific figure (printed to stderr; the stdout result
    * line carries the shared end-to-end names).
    */
  def figure(name: String, value: Double, unit: String, note: String = ""): Unit =
    detail(name) = Entry(value, unit, note)
}

object Report {
  final case class Entry(value: Double, unit: String, note: String)

  /** The per-layer metrics every traced run prints; a layer the workload
    * leaves idle reads 0. The workload figures ride along, so a traced run
    * carries every workload figure too.
    */
  val PerLayer: Seq[(String, String)] =
    Routes.Names.map(r => s"api.$r.p50_ms" -> "ms") ++ Seq(
      "api.server_ms" -> "ms", "api.queue_ms" -> "ms", "api.render_ms" -> "ms",
      "spark.construct_ms" -> "ms", "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms",
      "spark.planning_ms" -> "ms", "spark.exec_ms" -> "ms", "spark.jobs" -> "count",
      "spark.tasks" -> "count", "spark.task_cpu_s" -> "s", "spark.shuffle_mb" -> "MB",
      "spark.spill_mb" -> "MB", "spark.codegen_ms" -> "ms", "jvm.gc_ms" -> "ms",
      "sources.read_mb" -> "MB",
      "ingest.fetch_ms" -> "ms", "ingest.commit_ms" -> "ms", "ingest.seq_lag_ms" -> "ms",
      "ingest.jobs_per_pulse" -> "count", "ingest.write_mb_per_pulse" -> "MB",
      "ingest.files_per_pulse" -> "count", "store.manifest_kb" -> "KB", "store.live_files" -> "count",
      "exporter.own_ms" -> "ms") ++
    CatalogRun.names.flatMap(q => Seq(s"query.$q.cold_s" -> "s", s"query.$q.warm_s" -> "s")) ++ Seq(
      "http_qps" -> "req/s", "http_p50_ms" -> "ms", "http_p99_ms" -> "ms",
      "ingest_records_per_s" -> "rec/s", "freshness_s" -> "s", "exporter_lag_s" -> "s",
      "catalog_cold_s" -> "s", "catalog_warm_s" -> "s", "catalog_dd_s" -> "s",
      "error_rate" -> "fraction")
}

object Progress {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.1fs $msg")
}

/** In-memory spans: name, start, end, parent and trace id. Written out
  * as JSON lines when the run ends.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.incrementAndGet()

  /** Time `body`; record a span when tracing is on. Returns (result, ns). */
  def span[T](trace: Long, parent: Long, name: String)(body: => T): (T, Long) = {
    val s = System.nanoTime()
    val r = body
    val e = System.nanoTime()
    record(trace, parent, name, s, e)
    (r, e - s)
  }

  def record(trace: Long, parent: Long, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(trace, newId(), parent, name, startNs, endNs))

  def size: Int = spans.size

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(s"""{"trace":${s.trace},"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Trace {
  final case class Span(trace: Long, id: Long, parent: Long, name: String,
      startNs: Long, endNs: Long)
}

/** Spark work counters: jobs, tasks, task CPU, shuffle and spill by job
  * group (a `SparkListener`), and Catalyst phase and execution times of
  * every finished query (a `QueryExecutionListener`).
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  final class Acc {
    val jobs, tasks, cpuNs, shuffleBytes, spillBytes = new LongAdder
  }
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val queries, analysisMs, optimizationMs, planningMs, execNs = new LongAdder

  private def acc(group: String): Acc = byGroup.computeIfAbsent(group, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    acc(g).jobs.increment()
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(Option(stageGroup.get(e.stageId)).getOrElse(""))
    a.tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs.add(m.executorCpuTime)
      a.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      a.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
    queries.increment()
    analysisMs.add(ms("analysis"))
    optimizationMs.add(ms("optimization"))
    planningMs.add(ms("planning"))
    execNs.add(durationNs)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Totals over the groups `keep` accepts. */
  def totals(keep: String => Boolean): Work = {
    val as = byGroup.asScala.collect { case (g, a) if keep(g) => a }
    Work(as.map(_.jobs.sum).sum, as.map(_.tasks.sum).sum, as.map(_.cpuNs.sum).sum / 1e9,
      as.map(_.shuffleBytes.sum).sum / 1e6, as.map(_.spillBytes.sum).sum / 1e6)
  }

  /** Running totals of the finished queries: (count, analysis, optimization, planning, exec) in ms. */
  def phases: Phases.Totals = Phases.Totals(queries.sum, analysisMs.sum.toDouble,
    optimizationMs.sum.toDouble, planningMs.sum.toDouble, execNs.sum / 1e6)
}

final case class Work(jobs: Long, tasks: Long, cpuS: Double, shuffleMb: Double, spillMb: Double) {
  def -(o: Work): Work = Work(jobs - o.jobs, tasks - o.tasks, cpuS - o.cpuS,
    shuffleMb - o.shuffleMb, spillMb - o.spillMb)
}

/** Process-wide counters read at layer boundaries: Hadoop FileSystem
  * byte statistics (the local file system counts bytes, not operations),
  * Janino compilation and GC time.
  */
object Counters {
  final case class Snap(bytesRead: Long, bytesWritten: Long, codegenMs: Double, gcMs: Long)

  def snap(): Snap = {
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    // the histogram keeps a sample; count x mean approximates the total
    val cgMs = cg.getCount * cg.getSnapshot.getMean
    Snap(fs.map(_.getBytesRead).sum, fs.map(_.getBytesWritten).sum, cgMs,
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum)
  }

  def diff(a: Snap, b: Snap): Snap = Snap(b.bytesRead - a.bytesRead,
    b.bytesWritten - a.bytesWritten, b.codegenMs - a.codegenMs, b.gcMs - a.gcMs)

  /** Used heap after full collections, in MB. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1e6
  }
}

/** Construct and action times of one traced call, plus the per-layer
  * Spark, sources and JVM figures built from them and the counters.
  */
object Phases {
  final case class Split(constructMs: Double, actionMs: Double, rows: Long)

  final case class Totals(queries: Long, analysisMs: Double, optimizationMs: Double,
      planningMs: Double, execMs: Double) {
    def -(o: Totals): Totals = Totals(queries - o.queries, analysisMs - o.analysisMs,
      optimizationMs - o.optimizationMs, planningMs - o.planningMs, execMs - o.execMs)
  }

  def run(trace: Trace, traceId: Long, parent: Long, name: String)(
      build: => org.apache.spark.sql.DataFrame)(act: org.apache.spark.sql.DataFrame => Long): Split = {
    val (df, cNs) = trace.span(traceId, parent, s"$name.construct")(build)
    val (rows, aNs) = trace.span(traceId, parent, s"$name.action")(act(df))
    Split(cNs / 1e6, aNs / 1e6, rows)
  }

  /** Per-unit figures: construct from `splits`, Catalyst phases and
    * execution from the query listener's `phases` over the same window,
    * counters divided by `units`.
    */
  def layers(ctx: Ctx, splits: Seq[Split], units: Int, phases: Totals, fs: Counters.Snap,
      work: Work, moves: String): Unit = {
    val r = ctx.report
    def per(x: Double) = if (units == 0) 0.0 else x / units
    r.layer("spark.construct_ms",
      if (splits.isEmpty) 0.0 else splits.map(_.constructMs).sum / splits.length, "ms",
      s"DataFrame construction, mean of ${splits.length} calls; $moves")
    r.layer("spark.analysis_ms", per(phases.analysisMs), "ms", s"QueryPlanningTracker, per unit; $moves")
    r.layer("spark.optimization_ms", per(phases.optimizationMs), "ms", s"QueryPlanningTracker, per unit; $moves")
    r.layer("spark.planning_ms", per(phases.planningMs), "ms", s"QueryPlanningTracker, per unit; $moves")
    r.layer("spark.exec_ms", per(phases.execMs), "ms",
      s"${phases.queries} query executions, per unit; $moves")
    r.layer("spark.jobs", per(work.jobs.toDouble), "count", s"per unit; $moves")
    r.layer("spark.tasks", per(work.tasks.toDouble), "count", s"per unit; $moves")
    r.layer("spark.task_cpu_s", per(work.cpuS), "s", s"per unit; $moves")
    r.layer("spark.shuffle_mb", per(work.shuffleMb), "MB", s"per unit; $moves")
    r.layer("spark.spill_mb", per(work.spillMb), "MB", s"per unit; $moves")
    r.layer("spark.codegen_ms", per(fs.codegenMs), "ms", s"Janino compile time, per unit; $moves")
    r.layer("jvm.gc_ms", per(fs.gcMs.toDouble), "ms", s"per unit; $moves")
    r.layer("sources.read_mb", per(fs.bytesRead / 1e6), "MB", s"Hadoop FS bytes read, per unit; $moves")
  }

  def register(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }
}
