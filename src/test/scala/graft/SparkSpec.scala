package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Manifest-aware read of a STORE table (records/jet_drops/pulses).
    * Store writes are manifested commits: a raw `spark.read.parquet`
    * over the directory would also read the superseded generations the
    * manifest retains for readers still planned against them,
    * double-counting any re-committed pulse — assertions must see what a
    * reader sees.
    */
  def storeTable(base: String, table: String): org.apache.spark.sql.DataFrame =
    graft.ingest.TableManifest.readTable(spark, s"$base/$table").getOrElse(
      throw new IllegalStateException(s"no committed data in $base/$table"))

  /** Commit `df` to the store table at `tablePath`, partitioned by
    * `partCol`, the way every store table is written: the frame is
    * collected and its rows go, in their order, through
    * [[graft.ingest.TableManifest.writeRows]] at time `now`.
    */
  def commitFrame(df: org.apache.spark.sql.DataFrame, tablePath: String,
      partCol: String = "pulse_number", now: => Long = System.currentTimeMillis())
      : Option[graft.ingest.TableManifest.Snapshot] =
    graft.ingest.TableManifest.writeRows(spark, tablePath, partCol, df.schema,
      df.collect().toSeq, now)

  /** The ingest spine of `wire` ([[graft.ingest.PulseWriter.prepare]]'s
    * records, in [[graft.ingest.Spine.schema]]) as a frame over the
    * driver-held rows.
    */
  def spineFrame(wire: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      graft.ingest.PulseWriter.prepare(wire.collect().toSeq).records: _*),
      graft.ingest.Spine.schema)

  /** Count the Spark jobs `body` submits, including jobs from threads it
    * starts (they inherit the job group). Jobs are tagged with a unique
    * job group so concurrent work from other suites on the shared session
    * never inflates the count, and the async-listener settle loop is
    * deadline-bounded so a listener-bus stall can't hang the test.
    */
  def jobsDuring(body: => Unit): Int = {
    val group = "jobs-" + java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id"))
          n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(group, "job-count pin")
      try body finally spark.sparkContext.clearJobGroup()
      // listener delivery is async: poll until the count holds still,
      // bounded by a 10 s deadline
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var prev = -1; var stable = 0
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(50)
        val cur = n.get()
        stable = if (cur == prev) stable + 1 else 0
        prev = cur
      }
    } finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  /** The Dataset actions `body` runs on the session — each one's
    * `QueryExecution`, as a `QueryExecutionListener` sees it — including
    * actions over local relations, which run no Spark job. Delivery is
    * async and in order, so a marker action is awaited (deadline-bounded)
    * before `body`, to drain what earlier work posted, and after it, to
    * see everything `body` ran. Actions of concurrent work on the shared
    * session would count too; the specs run one at a time.
    */
  def queriesDuring(body: => Unit): Seq[org.apache.spark.sql.execution.QueryExecution] = {
    import org.apache.spark.sql.execution.QueryExecution
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        seen.add(qe); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
        seen.add(qe); ()
      }
    }
    def drain(): Unit = {
      val marker = spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Nil))
      marker.collect()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!seen.contains(marker.queryExecution) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.remove(marker.queryExecution), "the listener bus never delivered the marker")
    }
    spark.listenerManager.register(l)
    try {
      drain()
      seen.clear()
      body
      drain()
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq
    } finally spark.listenerManager.unregister(l)
  }

  type StorePulse = SparkSpec.StorePulse
  val StorePulse = SparkSpec.StorePulse

  /** Commit pulses-dimension rows the way the daemon's flush does:
    * [[graft.model.Schemas.pulses]] rows bucketed by `span`, published
    * by one [[graft.ingest.TableManifest.writeRows]] together with
    * `summary` (None commits a manifest with no restart summary, which
    * a daemon start reads in full). A bucket commit REPLACES the bucket,
    * so `rows` must hold every row of each bucket it touches — a fixture
    * that adds a pulse passes the bucket's earlier rows again.
    */
  def writeStorePulses(base: String, rows: Seq[StorePulse],
      span: Long = graft.Ingest.Config().flushBucketSpan,
      summary: Option[graft.ingest.TableManifest.Summary] = None): Unit = {
    val data = rows.map { r =>
      org.apache.spark.sql.Row(r.pulse, r.prev, r.next, r.complete, r.sequential,
        r.jetDropAmount, r.recordAmount, r.resultAmount,
        r.pulse - graft.ingest.Canonicalize.MinTimePulse, r.pulse / span)
    }
    graft.ingest.TableManifest.writeRows(spark, s"$base/pulses", "pulse_bucket",
      graft.model.Schemas.pulses, data, summary = summary)
    ()
  }
}

object SparkSpec {

  /** One pulses-dimension row as the daemon persists it; `timestamp` is
    * derived from the pulse number the way the daemon derives it.
    */
  final case class StorePulse(pulse: Long, prev: Long, next: Long,
      complete: Boolean, sequential: Boolean, jetDropAmount: Int,
      recordAmount: Long, resultAmount: Long = 0L)

  lazy val session: SparkSession = {
    val s = Sessions.withDriftDefaults(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config(Sessions.LocalFs._1, Sessions.LocalFs._2))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
