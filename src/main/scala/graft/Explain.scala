package graft
import scala.util.control.NonFatal

/** Plan dumper: `runMain graft.Explain [query ...|all]` prints
  * `explain("formatted")` for each named catalog query under the SAME
  * session posture the bench and the servers run ([[Sessions
  * .serviceBuilder]] — AQE, initialPartitionNum, drift confs), so the
  * committed plan files reflect the plans the timed runs execute.
  * GRAFT_EXPLAIN_DIR points the dump at any corpus (default sf0.01).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("GRAFT_EXPLAIN_DIR", "/root/testdata/sf0.01")
    // the dumped plans must be the plans the timed runs execute: the
    // size-derived AQE posture keys on the SAME dir the queries run on
    val spark = Sessions.serviceBuilder(Sessions.cpus(), "graft-explain", Some(dir)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.sameElements(Array("all"))) Queries.catalog.keys.toSeq.sorted
      else if (args.nonEmpty) args.toSeq
      else Seq("q1_agg", "be_records_page", "q3_topk")
    names.foreach { n =>
      println(s"\n=============== $n ===============")
      try Queries.catalog(n)(spark, dir).explain("formatted")
      catch { case NonFatal(e) => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
