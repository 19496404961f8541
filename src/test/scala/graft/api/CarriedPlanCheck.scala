package graft.api

import graft.SparkSpec

/** Plan-shape pins for the carried-total pagination of the list
  * endpoints still paged by a Spark plan (the lifeline): the page cut must
  * stay a top-k TakeOrderedAndProject with the key pushed to the scan, and
  * the only nested-loop join is the 1-row total against the broadcast
  * ≤1000-row page — never a data×data product. The drops of one pulse are
  * paged in the driver after one collect, so they have no such plan.
  */
class CarriedPlanCheck extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("carried pages: pushed keys, top-k cut, 1-row-total nested loop only") {
    val plans = Seq("lifeline" -> Endpoints.objectLifeline(spark, dir, 7L))
    plans.foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("TakeOrderedAndProject"),
        s"$name: page must be a top-k cut, not a global sort:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name: no cartesian:\n$p")
      // the carried total is a LEFT BroadcastNestedLoopJoin whose build
      // side is the broadcast page; the stream side is the 1-row count
      val bnlj = p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
      assert(bnlj.nonEmpty && bnlj.forall(l => l.contains("LeftOuter") || l.contains("Cross")),
        s"$name: only the 1-row total attach may nested-loop:\n$p")
    }
  }
}
