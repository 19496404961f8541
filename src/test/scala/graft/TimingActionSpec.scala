package graft

/** Pins the timing-action contract (r17): `count()` lets Catalyst drop
  * cardinality-preserving work — the Window/Generate/eliminable-Join
  * subtree of a query whose computed columns nothing references is
  * deleted by column pruning, so a count-based timing measures a bare
  * scan (w_cume "counted" 500M rows in 0.40 s; 12 of 67 rows were
  * affected). The fix routes exactly those rows through
  * [[Queries.forceAll]]; THIS spec recomputes the affected set from the
  * physical plans so the hardcoded list can never drift from the
  * catalog: add or edit a query and change its prunability, and the
  * assertion names it.
  */
class TimingActionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val interesting = Seq("Window", "WindowGroupLimit", "Join",
    "Generate", "Aggregate", "Expand", "FlatMapGroups", "MapPartitions",
    "MapElements")

  private def classesOf(p: org.apache.spark.sql.execution.SparkPlan): Set[String] = {
    val s = p.toString
    interesting.filter(s.contains).toSet
  }

  test("ForcedActionRows is EXACTLY the set of catalog rows whose real " +
      "work count() prunes (recomputed from the plans, not trusted)") {
    val prunable = Queries.catalog.keys.toSeq.sorted.flatMap { name =>
      val df = Queries.catalog(name)(spark, dir)
      val full = classesOf(df.queryExecution.executedPlan)
      val under = classesOf(df.groupBy().count().queryExecution.executedPlan)
      // the final presentation Sort is legitimately droppable and not
      // tracked; anything else disappearing means count() skips work
      if ((full -- under).nonEmpty) Some(name) else None
    }.toSet
    assert(prunable == Queries.ForcedActionRows,
      s"catalog prunability drifted.\n  now prunable: ${prunable.toSeq.sorted}\n" +
      s"  hardcoded:    ${Queries.ForcedActionRows.toSeq.sorted}\n" +
      "Update Queries.ForcedActionRows (and note it in SCALE.md).")
  }

  test("forceAll executes on every forced row and preserves the row count") {
    Queries.ForcedActionRows.toSeq.sorted.foreach { name =>
      val df = Queries.catalog(name)(spark, dir)
      val n = df.count()
      val forced = Queries.forceAll(df)
      assert(forced == n, s"$name: forceAll returned $forced, count() says $n")
    }
  }

  test("timingAction dispatches: forced rows hash-fold, others plain count") {
    val plain = Queries.catalog("q1_agg")(spark, dir)
    assert(Queries.timingAction("q1_agg", plain) == plain.count())
    val w = Queries.catalog("w_cume")(spark, dir)
    assert(Queries.timingAction("w_cume", w) == w.count())
  }

  test("action_rev 3: emb_kmeans recomputes its centroids on EVERY " +
      "construction — the capture registry is write-only, never a memo") {
    // r17 let an untimed index pre-build populate the centroid registry
    // untimed, after which the timed row measured a map lookup (the r17
    // verdict's gaming flag). Two constructions must register two
    // DISTINCT array instances: reference inequality proves the seeded
    // sample + Lloyd scans re-ran inside each construction.
    Queries.catalog("emb_kmeans")(spark, dir)
    val first = Queries.capturedKmeansInstance(dir)
    assert(first.nonEmpty, "construction must capture centroids for the oracle")
    Queries.catalog("emb_kmeans")(spark, dir)
    val second = Queries.capturedKmeansInstance(dir)
    assert(second.nonEmpty)
    assert(!(first.get eq second.get),
      "second construction handed back the SAME centroid array instance — " +
      "a memo is short-circuiting the Lloyd scans the row claims to time")
    // values stay deterministic in the dir (the replay-oracle contract)
    assert(first.get.toSeq == second.get.toSeq,
      "recomputed centroids must be deterministic in the dataset dir")
  }
}
