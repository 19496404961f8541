package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter for local
    // single-query iteration (the driver always passes exactly two)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    val spark = Sessions.serviceBuilder(Sessions.cpus(), "graft-verify", Some(sfDir))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // a REUSED outDir may hold a previous run's parquet for this
          // name — left in place, the oracle compare would validate the
          // STALE rows and report green for a query that no longer runs;
          // the failure must surface as a missing output, never as a
          // phantom pass
          val stale = new org.apache.hadoop.fs.Path(s"$outDir/$name")
          val fs = stale.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(stale)) fs.delete(stale, true)
        }
      }
    // ONE JSON string escaper for the whole repo (graft.api.JsonOut.str):
    // a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = graft.api.JsonOut.str(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
