package graft

/** Physical-plan regression guards: the optimizations the engine relies
  * on at 100 TB must be visible in the plan, not assumed. Each assertion
  * pins a property `.explain` shows today so a future refactor that
  * silently loses pushdown, broadcast, or top-k pushdown fails here.
  */
class PlanAssertionsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = Queries.catalog(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q1: shipdate filter reaches the parquet scan; unused columns pruned") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey"), "scan should not read join keys q1 never uses")
    assert(p.contains("HashAggregate"))
  }

  test("q3: dimension sides broadcast, top-k via TakeOrderedAndProject") {
    val p = plan("q3_topk")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("SortMergeJoin"), "no shuffle join should appear for dim joins")
  }

  test("q3/q5: no broadcast hint on a join side derived from a fact table") {
    // Physical joins at sf0.001 legitimately broadcast (everything is tiny;
    // AQE decides from runtime sizes) — the scale invariant is that WE never
    // force a broadcast of anything that grows with the data. Walk the
    // logical joins and reject any broadcast hint whose side scans
    // orders/lineitem.
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scansFact(side: LogicalPlan): Boolean = side.collectLeaves().exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.exists { p =>
          val s = p.toString
          s.contains("orders.parquet") || s.contains("lineitem.parquet")
        }
        case _ => false
      }
      case _ => false
    }
    for (name <- Seq("q3_topk", "q5_region")) {
      val lp = Queries.catalog(name)(spark, dir).queryExecution.optimizedPlan
      lp.foreach {
        case j: Join =>
          if (j.hint.leftHint.exists(_.strategy.contains(BROADCAST)))
            assert(!scansFact(j.left), s"$name: broadcast hint on fact-derived left side")
          if (j.hint.rightHint.exists(_.strategy.contains(BROADCAST)))
            assert(!scansFact(j.right), s"$name: broadcast hint on fact-derived right side")
        case _ =>
      }
    }
  }

  test("dd_ngram_jaccard: the stop-shingle df cap resolves at construction " +
      "(no six-fold inlined anti-join subtree), sizes stay an aggregate, " +
      "pairs group on the packed key") {
    val p = plan("dd_ngram_jaccard")
    // r18: the hot-shingle set is resolved ONCE at construction into an
    // InSet filter (or nothing at all when no shingle crosses the cap,
    // as at this SF) instead of a broadcast anti-join whose aggregate
    // subtree was inlined into all six `capped` occurrences — 158 plan
    // operators fell to 80 at the bench SF, and the sf0.1 wall is AQE
    // re-optimizing the tree per stage. Equivalence of the two forms is
    // pinned by NgramCapEquivalenceSpec on a corpus where the cap FIRES.
    assert(!p.contains("LeftAnti"),
      s"the df-cap anti-join subtree must not reappear (it multiplies by 6):\n$p")
    // the shingle generator appears once per `capped` occurrence and no
    // more — the hot side used to double it (12 generators before r18)
    assert("Generate explode\\(shingle_hashes".r.findAllIn(p).size == 6,
      s"expected exactly the six capped occurrences' generators:\n$p")
    // per-doc set sizes are a map-side-combined aggregate (NOT a window —
    // the window form repartitions+sorts every shingle row by doc_id,
    // measured 2.3x the whole query at 200k docs), and no WindowExec
    // appears anywhere in the plan.
    assert(!p.contains("Window"), s"set sizes must be an aggregate, not a window:\n$p")
    assert(p.contains("partial_count"), "sizes/pair counts must map-side combine")
    // the candidate-pair count groups on the PACKED single-long key (the
    // widest shuffle of the query carries 8 key bytes, not 16)
    assert(p.contains("shiftleft"),
      s"candidate pairs must aggregate on the packed pair key:\n$p")
  }

  test("records page: serves the spine artifact with pulse bounds pushed to the scan") {
    val p = plan("be_records_page")
    assert(p.contains("spine-v3/records"),
      "list endpoints must scan the materialized spine, not re-derive the fact view")
    assert(p.contains("GreaterThanOrEqual(pulse_number,473500)"),
      s"pulse range must be a pushed parquet filter on the stored column:\n$p")
    assert(!p.contains("Window"), "no W7 re-numbering may run on the read path")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("pulses dimension build: every window is partitioned; sequence flag is a broadcast aggregate") {
    // the spine build must stay shuffle-shaped: the only window allowed is
    // the partitioned W7 numbering; the is_sequential running conjunction
    // must be the 1-row aggregate broadcast, never an unpartitioned window
    // (a single-task sort of the whole dimension)
    import org.apache.spark.sql.catalyst.plans.logical.Window
    val qe = graft.model.Domain.pulses(graft.model.Domain.records(spark, dir))
      .queryExecution
    qe.optimizedPlan.foreach {
      case w: Window =>
        assert(w.partitionSpec.nonEmpty,
          s"unpartitioned window in the pulses build: ${w.windowExpressions}")
      case _ =>
    }
    assert(qe.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      "is_sequential must join the broadcast 1-row first-incomplete aggregate")
  }

  test("ann queries: vector math is native expressions, not UDFs") {
    val p = plan("ann_topk") + plan("dd_embed")
    assert(p.contains("vec_dot") || p.contains("VectorKernels") || p.contains("vec_norm"))
    assert(!p.contains("ScalaUDF"), "no UDF should appear in vector plans")
  }

  test("text expressions stay native in the plan") {
    val p = plan("txt_fingerprint")
    assert(p.contains("fnv_fingerprint"))
    assert(!p.contains("ScalaUDF"))
  }

  test("ann_ivf / ann_lsh: persisted index scans are partition-pruned") {
    // The indexed queries must read only the probed cell/sig directories —
    // visible as PartitionFilters on the index scan (and the scan must be
    // over the index path, not the raw embeddings).
    for ((name, key) <- Seq("ann_ivf" -> "cell", "ann_lsh" -> "sig")) {
      val p = plan(name)
      assert(p.contains("graft-index"), s"$name must scan the persisted index")
      assert(p.contains(s"PartitionFilters: [$key") || p.contains(s"$key IN "),
        s"$name index scan must carry a $key partition filter:\n$p")
    }
  }

  test("dedup exact: partial aggregation before the exchange") {
    val p = plan("dd_exact")
    assert(p.contains("partial_"), "map-side combine must be present")
  }

  test("exporter next: single-pulse side broadcast, no cartesian anywhere") {
    val p = plan("be_exporter_next")
    assert(!p.contains("CartesianProduct"))
  }

  test("dd_decontam: eval side broadcast; corpus unshuffled before the aggregate") {
    val p = plan("dd_decontam")
    assert(p.contains("BroadcastHashJoin"), "eval shingle set must broadcast")
    // the corpus branch (the probe side of the broadcast join) must go
    // scan → explode → join with NO exchange below the join
    val probe = """(?s)BroadcastHashJoin (?:(?!Exchange|BroadcastHashJoin).)*?Generate explode\(shingle_hashes""".r
    assert(probe.findFirstIn(p).isDefined,
      s"corpus shingles must reach the broadcast join without a shuffle:\n$p")
    assert(p.contains("partial_"), "per-document counts must map-side combine")
  }

  test("dd_minhash: signature aggregate is the first shuffle (no window sort below it)") {
    val p = plan("dd_minhash")
    // the native kernel replaced the token-row window: no WindowExec may
    // sit below the signature aggregate, and partial min() slots must
    // appear directly over the shingle explode
    val sigBranch = """(?s)HashAggregate\(keys=\[id#\d+L\], functions=\[partial_min(?:(?!Window|Exchange).)*?Generate explode\(shingle_hashes""".r
    assert(sigBranch.findFirstIn(p).isDefined,
      s"signature slots must partial-aggregate directly over the native shingle explode:\n$p")
  }

  test("emb_quant: one exchange serves the per-vector max window") {
    val p = plan("emb_quant")
    // posexplode → exchange by vec_id → sort → window max; no second
    // exchange above the window
    val w = """(?s)Window (?:(?!Exchange).)*?Exchange hashpartitioning\(vec_id(?:(?!Exchange).)*?Generate posexplode""".r
    assert(w.findFirstIn(p).isDefined,
      s"per-vector max must ride a single vec_id exchange over the explode:\n$p")
  }

  test("ann_ivf_knn: corpus side reads the persisted cell-partitioned index") {
    val p = plan("ann_ivf_knn")
    assert(p.contains("graft-index"), "batch kNN must scan the persisted index")
    assert(p.contains("ReadSchema") && p.contains("cell"),
      "index scan must expose the cell partition column")
    assert(!p.contains("CartesianProduct"), "cell equi-join must not degenerate")
  }

  test("dd_semdedup: pair generation is a cluster-key equi-join, not all-pairs") {
    val p = plan("dd_semdedup")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"semdedup must join on the cluster key, not nested-loop all pairs:\n$p")
    assert(p.contains("partial_"), "pair dedup must map-side combine")
  }

  test("ev_sketch_det: bounded heaps partial-aggregate map-side, no window sort") {
    val p = plan("ev_sketch_det")
    assert(p.contains("partial_bounded_min_k"),
      "KMV heap must combine map-side before the exchange")
    assert(p.contains("partial_bounded_min_k_sample"),
      "sample heap must combine map-side before the exchange")
    assert(!p.contains("Window"),
      s"sketches must be aggregates, not per-group window sorts:\n$p")
  }

  test("dd_semdedup_fixed: leaf-key equi-join, not all-pairs") {
    val p = plan("dd_semdedup_fixed")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"fixed-size semdedup must join on the leaf cluster key:\n$p")
    assert(p.contains("partial_"), "pair dedup must map-side combine")
  }

  test("q_rollup: all rollup levels ride one Expand and one shuffle") {
    val p = plan("q_rollup")
    assert(p.contains("Expand"), "rollup must lower to Expand, not a union of aggregates")
    assert(p.contains("partial_count"), "rollup levels must partial-aggregate map-side")
    // one agg exchange + the presentation range exchange, nothing more
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"rollup must shuffle once for all levels:\n$p")
  }

  test("w_cume: all four window functions share one Window node and one exchange") {
    val p = plan("w_cume")
    assert("\\bWindow\\b".r.findAllIn(p).length == 1,
      s"frames over the same (partition, order) must fuse into one Window:\n$p")
    assert(p.contains("RowFrame"), "frames must be ROWS, not the tie-sensitive RANGE default")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1)
  }

  test("ev_err_context: range join keeps its user_id equi key (never nested-loop)") {
    val p = plan("ev_err_context")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the time bounds must ride an equi join as a residual condition:\n$p")
    assert(p.contains("Join [user_id") || p.contains("HashJoin [user_id"),
      s"user_id must be the join key:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)"),
      "event-type filters must reach the scan")
  }

  test("ev_windowed: tumbling buckets are one aggregate, no window operator") {
    val p = plan("ev_windowed")
    assert(p.contains("partial_count"), "bucket agg must map-side combine")
    assert(!p.contains("WindowExec"), "tumbling windows are groupBy buckets, not row windows")
  }

  test("dd_incremental: batch joins the persisted index, never nested-loop") {
    val p = plan("dd_incremental")
    assert(p.contains("graft-index"), "must scan the standing hash index, not re-hash the corpus")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"hash-equality join required:\n$p")
  }

  test("txt_filter: rule stack stays native (no UDFs) and joins on doc_id") {
    val p = plan("txt_filter")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "quality rules must be Catalyst expressions")
    assert(!p.contains("CartesianProduct"))
  }

  test("jet drops page: spine scan with the pulse range pushed down") {
    val p = plan("be_jet_drops_page")
    assert(p.contains("spine-v3/jet_drops"),
      "drops endpoints must scan the materialized spine")
    assert(p.contains("GreaterThanOrEqual(pulse_number,473600)"),
      s"pulse bound must be a pushed parquet filter:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"a pre-aggregated spine read needs no shuffle:\n$p")
  }

  test("pulse chain: repair is adjacency joins, no unpartitioned window over the dimension") {
    val p = plan("be_pulse_chain") + plan("be_pulses_page")
    assert(!p.contains("Window"),
      s"chain repair must be the parallel adjacency-join form on read paths:\n$p")
    assert(plan("be_pulses_page").contains("TakeOrderedAndProject"),
      "the page cut must happen before repair")
  }

  test("be_jet_links_hash: prev-hash linkage is hash-joined, never nested-loop") {
    // The prev relation ORs two hash columns against the neighbor hash; the
    // naive OR-predicate join planned BroadcastNestedLoopJoin (page × span
    // scan — the round-5 fresh-session 3.1 q/s floor). The explode rewrite
    // must keep every join a BroadcastHashJoin.
    val p = plan("be_jet_links_hash")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"hash linkage must be equi-joins:\n$p")
    assert(p.contains("BroadcastHashJoin"), "neighbor span must broadcast against the page")
  }

  test("catalog-wide: nested-loop joins are all-pairs twins or 1-row scalar broadcasts") {
    // Any OR-predicate or non-equi join anywhere in the catalog silently
    // degrades to BroadcastNestedLoopJoin (the round-5 be_jet_links_hash
    // regression: page × span scan). Sweep EVERY query's physical plan.
    // A nested-loop node is legitimate in exactly two shapes:
    //  - the declared exact all-pairs oracle twins (dd_embed, ann_knn —
    //    their scale paths are dd_embed_lsh / ann_ivf_knn), and
    //  - a scalar broadcast: one side is a group-less aggregate, so the
    //    build side is ONE row and the "loop" is a constant attach (the
    //    pageWithTotal total, txt_idf's corpus size, txt_mix's token sum).
    // Anything else — both sides data-sized — is a genuine scan regression.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    @annotation.tailrec
    def unwrap(p: SparkPlan): SparkPlan = p match {
      case _: BaseAggregateExec => p
      case u if u.children.length == 1 => unwrap(u.children.head)
      case _ => p
    }
    def oneRowSide(p: SparkPlan): Boolean = unwrap(p) match {
      case a: BaseAggregateExec => a.groupingExpressions.isEmpty
      case _ => false
    }
    val allPairsTwins = Set("dd_embed", "ann_knn")
    val offenders = Queries.catalog.keys.toSeq.sorted.filterNot(allPairsTwins).filter { name =>
      val sp = Queries.catalog(name)(spark, dir).queryExecution.sparkPlan
      sp.collect {
        case j: BroadcastNestedLoopJoinExec => (j.left, j.right)
        case j: CartesianProductExec => (j.left, j.right)
      }.exists { case (l, r) => !oneRowSide(l) && !oneRowSide(r) }
    }
    assert(offenders.isEmpty,
      s"data-sized nested-loop/cartesian joins crept into: ${offenders.mkString(", ")}")
  }

  test("txt_idf: top-50 is TakeOrderedAndProject, not a global sort") {
    val p = plan("txt_idf")
    assert(p.contains("TakeOrderedAndProject(limit=50"))
    assert(!p.contains("Exchange rangepartitioning"),
      s"limit must not force a full range-partitioned sort:\n$p")
  }

  test("be_jet_links: every event scan (page AND neighbor sides) carries the pushed pulse bound") {
    // The round-7 `weak` finding: prevN/nextN derived from the unfiltered
    // corpus, related to the page only through a two-sided join predicate
    // Catalyst cannot prune through — every call re-aggregated the full
    // event feed. The static ±1 pulse bound must reach EVERY events scan
    // as a pushed parquet filter (on the raw ts column, whatever its
    // physical drift form resolves to).
    val p = plan("be_jet_links")
    val scanLines = p.linesIterator.filter(_.contains("events.parquet")).toSeq
    assert(scanLines.nonEmpty, "be_jet_links must scan the event feed")
    scanLines.foreach { l =>
      assert(l.contains("GreaterThanOrEqual(ts,") && l.contains("LessThan(ts,"),
        s"unbounded events scan in be_jet_links:\n$l")
    }
    // the candidate explode makes both neighbor joins 2-key hash joins
    // (no OR post-filter riding a pulse-only key)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"neighbor linkage must stay an equi join:\n$p")
  }

  test("be_missing_pulses: serves the pulses spine only, never the fact") {
    // ST3 gap detection was the round-7 steady-state serving minimum
    // (re-scan + distinct of typed records per call). Per-type presence
    // is now a build-time spine counter, so the read path may touch only
    // the pulse dimension — one row per pulse, time-bounded.
    val p = plan("be_missing_pulses")
    assert(p.contains("spine-v3/pulses"), s"gap detection must read the pulses spine:\n$p")
    assert(!p.contains("spine-v3/records") && !p.contains("events.parquet"),
      s"gap detection must not touch the fact table:\n$p")
  }

  // ---- HTTP endpoint plans (the serving paths) --------------------------

  test("endpoint by-jet-id page: served as a materialized local page; page query pruned") {
    // the linked page is assembled driver-side over the ≤1000 collected
    // rows (the reference's createNextPrevMaps) — the served frame must
    // be a LocalRelation, never a re-executed distributed subtree
    val df = api.Endpoints.jetDropsByJetId(spark, dir, "", limit = 100)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan"),
      s"linked page must serve from the materialized local rows:\n$p")
    assert(!p.contains("FileScan"), s"no re-scan after materialization:\n$p")
    // the underlying page query stays a pruned top-k scan: jet prefix
    // pushed, TakeOrderedAndProject, nested-loop only for the 1-row
    // total attach (same tolerance as the catalog-wide sweep)
    val pq = api.Endpoints.jetDropsByJetId(spark, dir, "01", limit = 100,
      withLinks = false).queryExecution.executedPlan.toString
    assert(pq.contains("TakeOrderedAndProject"), s"page must be top-k, not global sort:\n$pq")
    assert(pq.contains("StringStartsWith(jet_id,01)"), s"jet prefix must be pushed:\n$pq")
    assert(pq.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .forall(_.contains("Cross")),
      s"only 1-row scalar attaches may nested-loop in a serving plan:\n$pq")
    assert(!pq.contains("CartesianProduct"), s"no cartesian in a serving plan:\n$pq")
  }

  test("endpoint point lookups and pages: keys filter the spine scans") {
    // PushedFilters lists are toString-truncated, so pin the Filter nodes
    val pn = model.Domain.servedPulses(spark, dir)
      .agg(org.apache.spark.sql.functions.min("pulse_number")).collect().head.getLong(0)
    val p1 = api.Endpoints.jetDropsByPulse(spark, dir, pn)
      .queryExecution.executedPlan.toString
    assert(s"pulse_number#\\d+L = $pn".r.findFirstIn(p1).nonEmpty &&
      p1.contains(s"EqualTo(pulse_number,$pn"),
      s"drops-by-pulse must push the pulse equality:\n$p1")
    val p2 = api.Endpoints.objectLifeline(spark, dir, 1L,
      fromPulse = Some(pn), toPulse = Some(pn + 5))
      .queryExecution.executedPlan.toString
    assert(s"pulse_number#\\d+L >= $pn".r.findFirstIn(p2).nonEmpty &&
      s"pulse_number#\\d+L <= ${pn + 5}".r.findFirstIn(p2).nonEmpty,
      s"lifeline pulse bounds must reach the scan filter:\n$p2")
    assert("object_reference#\\d+L = 1\\)".r.findFirstIn(p2).nonEmpty,
      s"lifeline object key must reach the scan filter:\n$p2")
    val p3 = api.Endpoints.pulse(spark, dir, pn).queryExecution.executedPlan.toString
    assert(s"pulse_number#\\d+L = $pn".r.findFirstIn(p3).nonEmpty,
      s"pulse point lookup must filter on its key:\n$p3")
  }

  test("w_topk: rank-limit pushdown suppressed for scattered small groups; " +
      "ann_knn keeps it for co-located large ones; parent conf untouched") {
    // Small-group shape (~10-20 orders/customer scattered across map
    // partitions): the partial WindowGroupLimit cannot filter (8.80 vs
    // 8.98 GB shuffled measured at 500M rows) while its map-side Sort
    // was the only spill in any scale probe (10.4-17.5 GB). Suppressed
    // via a conf-scoped child session — the map side must be a stateless
    // scan -> exchange.
    val p = plan("w_topk_per_group")
    assert(!p.contains("WindowGroupLimit"),
      s"w_topk must not pay the map-side rank-pushdown sort:\n$p")
    // The suppression must not leak: the SHARED session keeps the
    // default, and the opposite shape (broadcast-exploded candidate
    // lists: every query_id group is partition-local and large) still
    // gets the pushdown that cuts its shuffle by ~k/corpus.
    assert(!spark.conf.getOption("spark.sql.optimizer.windowGroupLimitThreshold")
      .contains("-1"), "parent session's planner default must be untouched")
    val pAnn = plan("ann_knn")
    assert(pAnn.contains("WindowGroupLimit"),
      s"ann_knn's per-query top-k must keep the rank-limit pushdown:\n$pAnn")
    // Scoped children are memoized per (parent, overrides): repeated
    // catalog constructions must reuse one child, or RelationCache
    // (keyed by session object) re-resolves every relation per call.
    val c1 = Sessions.confScoped(spark, "spark.sql.optimizer.windowGroupLimitThreshold" -> "-1")
    val c2 = Sessions.confScoped(spark, "spark.sql.optimizer.windowGroupLimitThreshold" -> "-1")
    assert(c1 eq c2, "conf-scoped child sessions must be memoized")
    assert(c1 ne spark)
    assert(c1.conf.get("spark.sql.optimizer.windowGroupLimitThreshold") == "-1")
    // and the child inherits the parent's runtime confs (drift defenses
    // included — a child that lost nanosAsLong would mis-read events)
    Sessions.DriftConfs.foreach { case (k, v) =>
      assert(c1.conf.getOption(k).contains(v), s"child must inherit $k=$v")
    }
  }
}
