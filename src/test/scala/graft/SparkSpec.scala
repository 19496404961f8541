package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for operator specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Manifest-aware read of a STORE table (records/jet_drops/pulses).
    * Store writes are manifested commits: a raw `spark.read.parquet`
    * over the directory would also read the superseded generation the
    * manifest keeps as crash/reader grace, double-counting any
    * re-committed pulse — assertions must see what a reader sees.
    */
  def storeTable(base: String, table: String): org.apache.spark.sql.DataFrame =
    graft.ingest.TableManifest.readTable(spark, s"$base/$table").getOrElse(
      throw new IllegalStateException(s"no committed data in $base/$table"))

  type StorePulse = SparkSpec.StorePulse
  val StorePulse = SparkSpec.StorePulse

  /** Commit pulses-dimension rows the way the daemon's flush does:
    * [[graft.model.Schemas.pulses]] rows bucketed by `span`, published
    * by one [[graft.ingest.TableManifest.appendCommit]]. A bucket commit
    * REPLACES the bucket, so `rows` must hold every row of each bucket
    * it touches — a fixture that adds a pulse passes the bucket's
    * earlier rows again.
    */
  def writeStorePulses(base: String, rows: Seq[StorePulse],
      span: Long = graft.Ingest.Config().flushBucketSpan,
      table: String = "pulses"): Unit = {
    import scala.jdk.CollectionConverters._
    val path = s"$base/$table"
    val data = rows.map { r =>
      org.apache.spark.sql.Row(r.pulse, r.prev, r.next, r.complete, r.sequential,
        r.jetDropAmount, r.recordAmount, r.resultAmount,
        r.pulse - graft.ingest.Canonicalize.MinTimePulse, r.pulse / span)
    }
    val buckets = rows.map(r => s"pulse_bucket=${r.pulse / span}").distinct
    graft.ingest.TableManifest.appendCommit(spark, path, buckets) {
      spark.createDataFrame(data.asJava, graft.model.Schemas.pulses).coalesce(1)
        .write.mode("append").partitionBy("pulse_bucket").parquet(path)
    }
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
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
