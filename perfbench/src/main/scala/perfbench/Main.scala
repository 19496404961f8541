package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its arguments, where its
  * fresh state lives, and where its figures go.
  */
final case class Ctx(
    spark: SparkSession,
    workload: String,
    seed: Long,
    seconds: Int,
    traced: Boolean,
    tiny: Boolean,
    corrupt: Boolean,
    record: Boolean,
    runDir: Path,
    corpus: Path,
    expected: Path,
    cores: Int,
    report: Report,
    trace: Trace,
    counters: Option[SparkCounters]) {

  /** Correct vs attempted operations; `failed` counts errors and wrong answers. */
  val attempted = new java.util.concurrent.atomic.AtomicLong(0)
  val failed = new java.util.concurrent.atomic.AtomicLong(0)
  private val failureNotes = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def check(ok: Boolean, what: => String): Boolean = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      if (failureNotes.size < 20) failureNotes.add(what)
    }
    ok
  }

  def failures: Seq[String] = {
    import scala.jdk.CollectionConverters._
    failureNotes.asScala.toSeq
  }

  /** A fresh directory under the run's own state root. */
  def dir(name: String): Path = Files.createDirectories(runDir.resolve(name))
}

/** One benchmark run: one JVM, one workload, one seed.
  *
  *   java -cp <classpath> perfbench.Main --workload explorer_http --seed 1
  *     --seconds 10 --trace 0 --run-dir <empty dir> --corpus <corpus dir>
  *     --expected <catalog_expected.json>
  *
  * The run's index root, store and Spark local dirs all live under
  * `--run-dir`, which the caller creates empty and removes afterwards.
  * The last stdout line is the result object.
  */
object Main {

  val Workloads = Seq("explorer_http", "ingest_serve", "catalog")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val runDir = Paths.get(opt("run-dir")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    Progress(s"workload=$workload seed=$seed seconds=$seconds trace=${if (traced) 1 else 0} cores=$cores")

    // the session is built exactly as the serving binaries build theirs
    val corpus = Paths.get(opt("corpus")).toAbsolutePath
    val spark = graft.Sessions.serviceBuilder(cores.toString, s"perfbench-$workload",
      Some(corpus.toString)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = jvmAgeS()
    Progress(f"session ready at $sessionS%.2fs")
    val counters = if (traced) Some(Phases.register(spark)) else None
    val ctx = Ctx(spark, workload, seed, seconds, traced, opts.get("scale").contains("tiny"),
      opts.get("corrupt").contains("1"), opts.get("record").contains("1"), runDir, corpus,
      Paths.get(opts.getOrElse("expected", "")).toAbsolutePath, cores,
      new Report(workload), new Trace(traced), counters)

    val ok = try {
      workload match {
        case "explorer_http" => ExplorerHttp.run(ctx, sessionS)
        case "ingest_serve" => IngestServe.run(ctx, sessionS)
        case "catalog" => CatalogRun.run(ctx, sessionS)
      }
      true
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $workload failed: $e")
        e.printStackTrace()
        false
    }
    if (ok) {
      Progress("measuring retained heap")
      ctx.report.e2e("heap_retained_mb", Counters.retainedHeapMb(), "MB",
        "used heap after a full GC at the end of the timed region")
      if (traced) {
        val out = runDir.getParent.resolve("traces").resolve(s"$workload-seed$seed.jsonl")
        ctx.trace.write(out)
        Progress(s"wrote ${ctx.trace.size} spans to $out")
      }
    }
    Progress("stopping session")
    spark.stop()
    if (!ok) sys.exit(1)
    printResult(ctx)
    Progress("done")
  }

  /** Seconds since this JVM started. */
  def jvmAgeS(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** All digits; a value nothing measured prints as 0 (and failed the run if end-to-end). */
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def printResult(ctx: Ctx): Unit = {
    val r = ctx.report
    // an end-to-end metric the run could not measure is a failed run
    if (!ctx.traced) r.endToEnd.foreach { case (k, e) => if (e.value.isNaN) ctx.check(false, s"$k was not measured") }
    val attempted = ctx.attempted.get
    val failed = ctx.failed.get
    val errorRate = if (attempted == 0) 1.0 else failed.toDouble / attempted
    r.figure("error_rate", errorRate, "fraction", s"$failed of $attempted operations failed or were wrong")
    // a traced run prints every per-layer name: the workload's figures,
    // and 0 for a layer this workload leaves idle
    if (ctx.traced) Report.PerLayer.foreach { case (k, unit) =>
      if (!r.perLayer.contains(k))
        r.layer(k, r.detail.get(k).map(_.value).getOrElse(0.0), unit, r.detail.get(k).fold("idle")(_.note))
    }
    System.err.println(s"[perfbench] ---- ${workloadLine(ctx)} ----")
    ctx.failures.foreach(f => System.err.println(s"[perfbench]   wrong: $f"))
    def dump(kind: String, m: scala.collection.Map[String, Report.Entry]): Unit = m.foreach {
      case (k, e) => System.err.println(
        s"[perfbench] $kind $k = ${num(e.value)} ${e.unit}${if (e.note.nonEmpty) s"  # ${e.note}" else ""}")
    }
    dump("end_to_end", r.endToEnd)
    dump("figure", r.detail)
    if (ctx.traced) dump("per_layer", r.perLayer)
    def obj(m: scala.collection.Map[String, Report.Entry]) = m.map { case (k, e) =>
      s""""$k": {"value": ${num(e.value)}, "unit": "${e.unit}"}""" }.mkString("{", ", ", "}")
    val correct = attempted > 0 && failed == 0
    // a traced run also carries its own end-to-end figures, from which the
    // caller reports the tracing overhead (and which it drops from the result)
    val extra = if (ctx.traced) s""", "end_to_end": ${obj(r.endToEnd)}""" else ""
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": ${obj(if (ctx.traced) r.perLayer else r.endToEnd)}$extra}""")
  }

  private def workloadLine(ctx: Ctx): String =
    s"${ctx.workload} seed=${ctx.seed} trace=${if (ctx.traced) 1 else 0}"
}
