package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Domain
import graft.functions.{Codecs, JetFunctions}
import graft.operators.{Pagination, Predicates, PulseChain}

/** The engine's query surface: every SURVEY §2 operator expressed over the
  * driver's testdata (block-explorer semantics via the [[Domain]] views
  * derived from `events`), plus analytics anchors (TPC-H shapes) and the
  * training-pipeline operators (dedup / similarity / text / multimodal).
  *
  * Each entry in [[catalog]] has a matching ANSI-SQL oracle (DuckDB-
  * runnable, same parquet tables) unless the operator is not
  * SQL-expressible (UDF hashes, typed flatMapGroups) — those are
  * rows-only. [[oracle]] holds the static entries; [[oracleFor]] adds the
  * generated replays whose literals come from the corpus.
  *
  * Numeric discipline for oracle hash-equality:
  *  - money aggregates: exact DECIMAL(18,2) sums, cast to DOUBLE at the end
  *    (associative, engine-order-independent, exactly representable);
  *  - counts/row_numbers cast to BIGINT on both sides;
  *  - cosine: sequential index-ordered double folds on both sides, rounded
  *    to 6 dp defensively.
  */
object Queries {

  private val GapNs = 1800000000000L // 30 min session gap

  // ----------------------------------------------------------------------
  // Spark implementations
  // ----------------------------------------------------------------------

  type Q = (SparkSession, String) => DataFrame

  private def t(s: SparkSession, dir: String, name: String) = Domain.table(s, dir, name)

  private def decimal2(c: Column): Column = c.cast("decimal(18,2)")

  /** TPC-H Q1 shape — scan-heavy grouped aggregation (A-family anchor). */
  val q1Agg: Q = (s, dir) => {
    val l = t(s, dir, "lineitem").filter(col("l_shipdate") <= lit("1998-09-02"))
    val discPrice = decimal2(col("l_extendedprice")) * decimal2(lit(1) - col("l_discount"))
    val charge = discPrice.cast("decimal(18,4)") * decimal2(lit(1) + col("l_tax"))
    l.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(decimal2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(decimal2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(discPrice).cast("double").as("sum_disc_price"),
        sum(charge).cast("double").as("sum_charge"),
        (sum(decimal2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** TPC-H Q3 shape — dim-filtered join + top-k. Only the true dimension
    * (filtered customer) carries a broadcast hint; orders⨝lineitem is left
    * to Catalyst/AQE, which shuffle-joins the two fact sides on the shared
    * key (and upgrades to broadcast at runtime only when the filtered side
    * truly fits). Forcing a broadcast of the orders-derived side would ship
    * a fact table to every task and OOM at 100× scale.
    */
  val q3TopK: Q = (s, dir) => {
    val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = t(s, dir, "orders").filter(col("o_orderdate") < lit("2000-03-15"))
    val l = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("2000-03-15"))
    l.join(o.join(broadcast(c), col("o_custkey") === col("c_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_orderpriority"))
      .agg(sum(decimal2(col("l_extendedprice")) * decimal2(lit(1) - col("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5 shape — star join through region/nation with co-located
    * customer/supplier nation equality. Broadcast hints go ONLY on the
    * constant-cardinality dimensions (nation: 25 rows, region: 5 — fixed at
    * any scale factor). supplier/customer/orders all grow linearly with the
    * data, so their joins are left to Catalyst/AQE: shuffle joins on the
    * keys, upgraded to broadcast at runtime when a filtered side fits.
    */
  val q5Region: Q = (s, dir) => {
    val dims = t(s, dir, "supplier")
      .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
    val co = t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(
          col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01")),
        col("c_custkey") === col("o_custkey"))
    t(s, dir, "lineitem")
      .join(co, col("l_orderkey") === col("o_orderkey"))
      .join(dims,
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(decimal2(col("l_extendedprice")) * decimal2(lit(1) - col("l_discount")))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** W-family anchor — top-3 orders per customer via ranked window.
    *
    * Planner note (measured at the 500M-order decade, r17): Spark's
    * rank-limit pushdown (`InsertWindowGroupLimit`) rewrites the rn<=3
    * filter into a map-side Sort + partial WindowGroupLimit below the
    * exchange. For THIS data model the partial side can never filter:
    * a customer's ~10–20 orders arrive scattered uniformly across map
    * partitions (per-partition group size ≈ 1, so nearly every row is
    * its partition's rank ≤ 3) — measured 8.80 vs 8.98 GB shuffled at
    * 500M rows, a 2% cut — while the Sort it rides on is a FULL local
    * sort of the input: the only spill anywhere in the scale probes
    * (10.4–17.5 GB at 500M) and, on memory-tight executors, an extra
    * disk round-trip of the whole dataset before the exchange even
    * writes. The reduce side sorts either way. So the pushdown is
    * suppressed for this query alone via a conf-scoped child session
    * ([[Sessions.confScoped]]): the map stage becomes stateless
    * scan→exchange, zero spill — same-JVM steady-state A/B at 500M:
    * 116.6 s with the pushdown (map 3363 task-s, 17.5 GB spill) vs
    * 63.8 s suppressed (map 1186 task-s; the extra reduce-side window
    * pass over unfiltered groups costs 234→759 task-s, 6x smaller
    * than the map-side sort it replaces). The session DEFAULT stays
    * 1000 because
    * the ANN top-k paths ([[graft.vector.Similarity]]) are the opposite
    * shape — exploded per-query candidate lists co-locate LARGE groups
    * inside each map partition, where the partial limit cuts the
    * shuffle by orders of magnitude. Plan-pinned in PlanAssertionsSpec.
    */
  val wTopKPerGroup: Q = (s, dir) => {
    val iso = Sessions.confScoped(s,
      "spark.sql.optimizer.windowGroupLimitThreshold" -> "-1")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(iso, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Gap-based sessionization over the event stream (lag + running sum). */
  val evSessions: Q = (s, dir) => {
    val ev = Domain.events(s, dir).select(col("user_id"), col("ts"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val flagged = ev.withColumn("new_s",
      when(lag(col("ts"), 1).over(w).isNull ||
        col("ts") - lag(col("ts"), 1).over(w) > GapNs, 1).otherwise(0))
    flagged
      .withColumn("session_idx", sum(col("new_s")).over(w))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        expr("CAST(min(ts) DIV 1000000000 AS BIGINT)").as("start_sec"),
        expr("CAST(max(ts) DIV 1000000000 AS BIGINT)").as("end_sec"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  // ---- block-explorer read surface over the Domain views ----

  /** Records list endpoint: pulse range + descending keyset cursor + page
    * (P4 + P5 + W1 + W5).
    */
  val beRecordsPage: Q = (s, dir) => {
    val r = Domain.servedRecords(s, dir)
      .filter(Predicates.range(col("pulse_number"), gte = Some(473500L), lte = Some(473900L)))
      .filter(Predicates.keysetFrom(col("pulse_number"), col("order"), 473700L, 5L, asc = false))
    Pagination.page(r,
        Seq(col("pulse_number").desc, col("order").desc, col("reference").desc), 100)
      .select(col("reference"), col("type"), col("object_reference"),
        col("pulse_number"), col("order"),
        Codecs.indexString(col("pulse_number"), col("order")).as("idx"))
  }

  /** Object lifeline: state records of one object, ascending keyset page
    * (reference: `etl/storage/storage.go:258-283`).
    */
  val beLifeline: Q = (s, dir) => {
    val r = Domain.servedRecords(s, dir)
      .filter(col("object_reference") === 7L && col("type") === "state")
      .filter(Predicates.keysetFrom(col("pulse_number"), col("order"), 473400L, 1L, asc = true))
    Pagination.page(r,
        Seq(col("pulse_number").asc, col("order").asc, col("reference").asc), 50)
      .select(col("reference"), col("type"), col("object_reference"),
        col("pulse_number"), col("order"),
        Codecs.indexString(col("pulse_number"), col("order")).as("idx"))
  }

  /** Pulses list page: counters + recomputed prev/next links, newest first
    * (J3 repair + A1 counters + W2/W5).
    */
  val bePulsesPage: Q = (s, dir) => {
    // Page FIRST, then repair the 20 retrieved rows by adjacency probes
    // against the full dimension (the reference's per-page loop +
    // edge patch, storage.go:326-379) — no window runs over the
    // dimension at all; the page cut is a TakeOrderedAndProject.
    val all = Domain.servedPulses(s, dir)
    val page = Pagination.page(all, Seq(col("pulse_number").desc), 20)
    PulseChain.repairByAdjacency(page, all)
      .select(col("pulse_number"), col("prev_pulse_number"), col("next_pulse_number"),
        col("jet_drop_amount"), col("record_amount"), col("timestamp"),
        col("is_complete"), col("is_sequential"))
      .orderBy(col("pulse_number").desc)
  }

  /** Full pulse chain with `-1` sentinel repair (J2/J3/W6). The full-dump
    * form uses the adjacency-probe repair (two parallel equi-joins) —
    * the stored pointers follow the hourly write contract, so no
    * single-task global window is needed.
    */
  val bePulseChain: Q = (s, dir) => {
    val all = Domain.servedPulses(s, dir)
    PulseChain.repairByAdjacency(all, all)
      .select(col("pulse_number"), col("prev_pulse_number"), col("next_pulse_number"),
        col("is_sequential"))
      .orderBy(col("pulse_number"))
  }

  /** Jet drops by pulse range with a jet-id cursor (W4 + A2). */
  val beJetDropsPage: Q = (s, dir) => {
    Domain.servedJetDrops(s, dir)
      .filter(col("pulse_number").between(473600L, 473700L) && col("jet_id") >= "010")
      .select(Codecs.jetDropIdString(col("jet_id"), col("pulse_number")).as("jet_drop_id"),
        col("pulse_number"), col("jet_id"), col("record_amount"), col("timestamp"), col("hash"))
      .orderBy(col("pulse_number"), col("jet_id"))
      .limit(200)
  }

  /** Jet subtree + ancestors predicate with the mixed two-key sort
    * (P6 + W3, reference: `etl/storage/storage.go:533-561`).
    */
  val beJetTree: Q = (s, dir) => {
    Domain.servedJetDrops(s, dir)
      .filter(col("pulse_number").between(473400L, 473800L))
      .filter(JetFunctions.jetTreePredicate(col("jet_id"), "10"))
      .select(col("pulse_number"), col("jet_id"), col("record_amount"))
      .orderBy(col("pulse_number").asc, col("jet_id").desc)
      .limit(300)
  }

  /** A3 — page plus total of the filtered set in ONE plan: a 1-row count
    * aggregate broadcast-joined onto the sorted page
    * ([[Pagination.pageWithTotal]] — NOT a count window over the page,
    * which Pagination's doc rejects as a scale cliff).
    */
  val beRecordsTotal: Q = (s, dir) => {
    val r = Domain.servedRecords(s, dir)
      .filter(col("object_reference") === 7L)
    Pagination.pageWithTotal(r,
        Seq(col("pulse_number").desc, col("order").desc, col("reference").desc), 10)
      .select(col("reference"), col("pulse_number"), col("order"), col("total"))
  }

  /** The lifeline read served from the SECONDARY object-bucketed layout
    * (covering-index analog, [[graft.ingest.LifelineLayout]]): identical
    * rows to the pulse-partitioned path, but the scan prunes to one
    * obj_bucket directory instead of touching every pulse partition.
    */
  val beLifelineIdx: Q = (s, dir) => {
    val path = graft.vector.AnnIndex.indexRoot(dir) + "/lifeline"
    graft.ingest.LifelineLayout.ensure(Domain.servedRecords(s, dir), path)
    graft.ingest.LifelineLayout.lifeline(s, path, 7L)
      .filter(col("type") === "state")
      .select(col("reference"), col("type"), col("object_reference"),
        col("pulse_number"), col("order"),
        Codecs.indexString(col("pulse_number"), col("order")).as("idx"))
      .orderBy(col("pulse_number"), col("order"), col("reference"))
      .limit(50)
  }

  /** Pulses page + total with TIMESTAMP range filters (the endpoint shape
    * of `GET /pulses` — `filterByTimestamp`, storage.go:210-218, + A3).
    */
  val bePulsesTotal: Q = (s, dir) => {
    val p = Domain.servedPulses(s, dir)
      .filter(Predicates.range(col("timestamp"),
        gte = Some(1704636000L), lte = Some(1704959999L)))
    Pagination.pageWithTotal(p, Seq(col("pulse_number").desc), 10)
      .select(col("pulse_number"), col("timestamp"), col("record_amount"), col("total"))
  }

  /** Jet-drops-of-a-pulse page + total (the `GET /pulses/{p}/jet-drops`
    * endpoint shape, storage.go:475-494 + A3).
    */
  val beDropsTotal: Q = (s, dir) => {
    val d = Domain.servedJetDrops(s, dir)
      .filter(col("pulse_number") === 473650L)
    Pagination.pageWithTotal(d, Seq(col("jet_id").asc), 5)
      .select(Codecs.jetDropIdString(col("jet_id"), col("pulse_number")).as("jet_drop_id"),
        col("jet_id"), col("record_amount"), col("total"))
  }

  /** W5 — classic limit/offset page over the pulse dimension. */
  val bePulsesOffset: Q = (s, dir) => {
    Pagination.page(Domain.servedPulses(s, dir),
        Seq(col("pulse_number").asc), limit = 15, offset = 30)
      .select(col("pulse_number"), col("record_amount"), col("jet_drop_amount"))
  }

  /** ST3 gap detection: hours with no 'result' record, bounded by the
    * observed pulse range (anti-join of a generated dense range). Served
    * ENTIRELY from the pulses spine: per-type presence was counted once
    * at spine build (`result_amount`), so the query touches one row per
    * pulse — time-bounded, not data-bounded — instead of re-scanning and
    * distinct-ing the fact per call (the round-7 steady-state minimum).
    */
  val beMissingPulses: Q = (s, dir) => {
    val p = Domain.servedPulses(s, dir)
    val expected = p.agg(min(col("pulse_number")).as("mn"), max(col("pulse_number")).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"))).as("pulse_number"))
    val present = p.filter(col("result_amount") > 0).select(col("pulse_number"))
    expected.join(present, Seq("pulse_number"), "left_anti").orderBy(col("pulse_number"))
  }

  /** ST2 completeness + sequence flags (jet-tree cover per pulse). */
  val beCompleteness: Q = (s, dir) => {
    Domain.servedPulses(s, dir)
      .select(col("pulse_number"), col("is_complete"), col("is_sequential"))
      .orderBy(col("pulse_number"))
  }

  /** ST5/J1/A5 exporter poll body: first complete pulse after the cursor
    * containing matching records, with the filtered recount.
    */
  val beExporterNext: Q = (s, dir) => {
    val r = Domain.servedRecords(s, dir)
    val p = Domain.servedPulses(s, dir).filter(col("is_complete") && col("pulse_number") > 473400L)
    val matched = r.filter(col("event_type") === "purchase")
      .groupBy(col("pulse_number")).agg(count(lit(1)).as("record_amount"))
    p.select(col("pulse_number"), col("prev_pulse_number"))
      .join(matched, Seq("pulse_number"))
      .orderBy(col("pulse_number"))
      .limit(1)
  }

  /** J4 sibling linkage over a variable-depth jet tree: per drop, how many
    * drops at pulse±1 are its parent/self/children.
    *
    * The whole query — page AND both neighbor sides — derives from ONE
    * statically pulse-bounded event scan ([[Domain.eventsInPulseRange]],
    * page range ±1): the join predicates relate neighbors to the page
    * only through a two-sided condition Catalyst cannot prune through, so
    * without the static bound every call re-aggregated the full corpus
    * (the round-7 `weak` finding — a serving endpoint that degenerates to
    * a batch job at 100x). The bound rides the raw ts column, so it
    * reaches the parquet scan as a pushed row-group filter
    * (PlanAssertionsSpec pins it).
    */
  val beJetLinks: Q = (s, dir) => {
    // pmod throughout (not %): a negative user_id must pick a real depth
    // and a real jet value — Spark's signed % would feed bin() a negative
    // whose 64-char form lpad silently truncates (same fix as
    // Domain.records; the oracle carries the matching ((x%m)+m)%m form)
    val drops = Domain.eventsInPulseRange(s, dir, 473499L, 473522L)
      .select(
        expr(s"CAST(ts DIV ${Domain.PulseNs} AS BIGINT)").as("pulse_number"),
        expr("CAST(1 + pmod(user_id, 3) AS INT)").as("_depth"),
        col("user_id"))
      .select(
        col("pulse_number"),
        expr("lpad(bin(pmod(user_id, shiftleft(1, _depth))), _depth, '0')").as("jet_id"))
      .groupBy(col("pulse_number"), col("jet_id"))
      .agg(count(lit(1)).cast("long").as("record_amount"))
    val page = drops.filter(col("pulse_number").between(473500L, 473520L))
    // Link candidates {self, parent, child0, child1} are pairwise distinct
    // (different depths; the two children differ in their last bit; a
    // depth-1 jet's parent is "" which matches no drop), so exploding them
    // and equi-joining on (pulse, jet) counts exactly the rows the 4-way
    // OR matched — but as a true 2-key hash join instead of a pulse-only
    // key with an OR post-filter (the `hashLinkIds` form, r7 nit).
    def candidates(jet: Column): Column = array(
      jet, JetFunctions.jetParent(jet), concat(jet, lit("0")), concat(jet, lit("1")))
    val exploded = page.withColumn("cand_jet", explode(candidates(col("jet_id"))))
    val prevN = drops.select(col("pulse_number").as("n_pn"), col("jet_id").as("n_jet"))
    val withPrev = exploded.join(prevN,
        col("n_pn") === col("pulse_number") - 1 && col("n_jet") === col("cand_jet"), "left")
      .groupBy(col("pulse_number"), col("jet_id"), col("record_amount"))
      .agg(count(col("n_jet")).as("prev_count"))
    val nextN = drops.select(col("pulse_number").as("m_pn"), col("jet_id").as("m_jet"))
    withPrev.withColumn("cand_jet", explode(candidates(col("jet_id"))))
      .join(nextN,
        col("m_pn") === col("pulse_number") + 1 && col("m_jet") === col("cand_jet"), "left")
      .groupBy(col("pulse_number"), col("jet_id"), col("record_amount"), col("prev_count"))
      .agg(count(col("m_jet")).as("next_count"))
      .orderBy(col("pulse_number"), col("jet_id"))
  }

  /** J5 — hash-linkage enrichment of a drops page: prev/next jet-drop id
    * lists via the prev-hash pointers (reference `api/handlers.go:207-297`).
    */
  val beJetLinksHash: Q = (s, dir) => {
    val drops = Domain.servedJetDrops(s, dir)
      .withColumn("jet_drop_id", Codecs.jetDropIdString(col("jet_id"), col("pulse_number")))
    val page = drops.filter(col("pulse_number").between(473600L, 473610L))
      .select(col("jet_drop_id"), col("pulse_number"), col("jet_id"), col("hash"),
        col("first_prev_hash"), col("second_prev_hash"))
    val neighbors = drops.filter(col("pulse_number").between(473599L, 473611L))
    graft.operators.JetLinkage.hashLinkIds(page, neighbors)
      .select(col("jet_drop_id"), col("pulse_number"), col("jet_id"),
        col("prev_ids"), col("next_ids"))
      .orderBy(col("pulse_number"), col("jet_id"))
  }

  // ---- training-pipeline operators ----

  /** Exact dedup classes by content hash (md5 for oracle parity). */
  val ddExact: Q = (s, dir) => {
    t(s, dir, "documents")
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("content_hash"))
  }

  /** Standing near-dup pair graph: the exact Jaccard pairs persisted once
    * per (corpus fingerprint, shingle k, df cap, threshold) — the artifact
    * cluster formation and any downstream dedup consume, instead of
    * re-running the inverted-index self-join per invocation (the way
    * `dd_incremental` consumes the persisted hash index rather than
    * re-hashing the corpus).
    */
  def ensureNgramPairs(s: SparkSession, dir: String): DataFrame =
    graft.sources.StandingArtifact.ensure(
      s, ngramPairsPath(dir))(
      ddNgramJaccard(s, dir))

  /** Near-dup clusters: connected components over the oracled exact
    * Jaccard pair graph — the keeper set a dedup pipeline actually
    * consumes (min doc id per cluster). The recursive-CTE oracle computes
    * the same min-label closure in DuckDB. Both the pair graph and the
    * component map are standing artifacts (built at most once per corpus
    * fingerprint); the serving path is two parquet reads and a join-free
    * projection, and the iterative build frees every checkpoint it pins
    * (ComponentsSpec asserts block-manager neutrality).
    */
  val ddClusters: Q = (s, dir) =>
    graft.operators.Components
      .ensureComponents(s, ensureNgramPairs(s, dir), "a_id", "b_id",
        ngramClustersPath(dir))
      .select(col("u").as("doc_id"), col("comp").as("cluster_id"))
      .orderBy(col("doc_id"))

  /** Incremental dedup: the src0 slice plays the arriving batch, every
    * other source the standing corpus whose hash set is persisted once
    * (AnnIndex-style path fingerprinting) — each increment joins only its
    * own hashes against the index, never re-hashing the corpus.
    */
  val ddIncremental: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val path = hashIndexPath(dir)
    graft.text.Dedup.ensureHashIndex(docs.filter(col("source") =!= "src0"), path)
    graft.text.Dedup.incrementalVerdicts(docs.filter(col("source") === "src0"), path)
      .orderBy(col("doc_id"))
  }

  /** Canonical path of the standing corpus hash index (same contract as
    * [[ngramPairsPath]]: wipe-and-rebuild harnesses must target exactly
    * what the catalog builds, so the name lives in one place).
    */
  def hashIndexPath(dir: String): String =
    graft.vector.AnnIndex.indexRoot(dir) + "/hashidx-notsrc0"

  /** Document-frequency cap for the inverted-shingle self-join: shingles in
    * more than this many documents are dropped before pairing (mirrored in
    * the oracle SQL). 64 keeps every shingle at the current corpus shapes
    * (max observed df is 25 at sf0.1) while bounding a boilerplate
    * shingle's join fan-out to 64²/2 rows at any corpus size.
    */
  val NgramMaxDf = 64

  /** Shingle width and Jaccard threshold for the near-dup pair graph.
    * Interpolated into BOTH the query bodies and the standing-artifact
    * paths ([[ensureNgramPairs]]/[[ddClusters]]) — the parameters are part
    * of the path, so changing one reroutes the artifact instead of
    * silently serving rows built under the old value. (The oracle SQL
    * keeps matching literals — the correctness gate catches drift there.)
    */
  val ShingleK = 3
  val JaccardThreshold = 0.5
  private def ngramParamsTag: String =
    f"k$ShingleK-df$NgramMaxDf-t${(JaccardThreshold * 100).round}%03d"

  /** Canonical standing-artifact paths for the near-dup pair graph and
    * its component map. Anything that wipes and rebuilds them must target
    * exactly what the catalog builds — reconstructing these names
    * elsewhere breaks silently on a tag change.
    */
  def ngramPairsPath(dir: String): String =
    graft.vector.AnnIndex.indexRoot(dir) + s"/ngram-pairs-$ngramParamsTag"
  def ngramClustersPath(dir: String): String =
    graft.vector.AnnIndex.indexRoot(dir) + s"/ngram-clusters-$ngramParamsTag"

  /** Exact 3-gram Jaccard near-dup pairs via an inverted shingle index —
    * the relational (oracle-able) counterpart of MinHash: candidates come
    * from the shingle join, similarity from |∩|/(|A|+|B|-|∩|) over the
    * df-capped shingle space (stop-shingles carry no dedup signal and make
    * the self-join quadratic — see [[graft.text.Dedup.capDf]]).
    */
  // n-gram→minhash scale hand-off advisory (the r15 verdict's task 3):
  // SCALE.md says "use dd_minhash at this scale" about the i=1 collision
  // term that keeps dd_ngram_jaccard at 13.2× per decade at 5M docs —
  // these knobs make the query itself SAY it when it applies. Checked on
  // every construction against the document count the parquet footers
  // hold (metadata only, no job); corpora under MinDocs stop there (the
  // gate SFs and sf1 — 50k docs — pay that footer read and nothing
  // else). Above it, one extra
  // map-side-combined aggregate over the capped shingle stream measures
  // the TRUE candidate-pair count Σ C(df,2); more than PairsPerDoc
  // candidates per document means the collision term (not the near-dup
  // mass) dominates the join. Calibration, measured on the probe corpora
  // (1% planted dups, ~100 shingles/doc): real near-dup mass contributes
  // a corpus-size-INDEPENDENT ≈ dupRate × shinglesPerDoc ≈ 1.0 pairs/doc
  // (measured 1.3/doc at 500k docs, where the query is healthy), while
  // the collision term grows ∝ n (measured 4.1/doc at 5M — the decade
  // the r15 probe clocked at 13.2× — and ∝ n beyond). The 2.0 threshold
  // sits between the measured benign and flooding points: silent at
  // 500k, fires at 5M.
  val NgramAdvisoryMinDocs = 200000L
  val NgramAdvisoryPairsPerDoc = 2.0

  /** Measure-and-log form of the advisory — also the spec entry point
    * (public: a pipeline owner deciding between the exact and MinHash
    * paths for a new corpus can call it directly). Returns
    * the stats when the advisory FIRED (corpus at or above `minDocs`
    * and measured candidate pairs above `pairsPerDoc × nDocs`), None
    * when silent.
    */
  def ngramScaleAdvisory(capped: org.apache.spark.sql.DataFrame,
      nDocs: Long, minDocs: Long = NgramAdvisoryMinDocs,
      pairsPerDoc: Double = NgramAdvisoryPairsPerDoc)
      : Option[graft.text.Dedup.NgramScaleStats] = {
    if (nDocs < minDocs) None
    else {
      val st = graft.text.Dedup.ngramScaleStats(capped, "sh", nDocs)
      if (st.pairsPerDoc > pairsPerDoc) {
        System.err.println(f"[graft] dd_ngram_jaccard SCALE ADVISORY: " +
          f"${st.candidatePairs}%.3g candidate pairs for ${st.nDocs}%d docs " +
          f"(${st.pairsPerDoc}%.1f/doc over ${st.distinctShingles}%d distinct " +
          f"shingles) — the corpus is large against its shingle space and " +
          f"random single-shingle collisions dominate the candidate stream " +
          f"(n²/|space| — grows a decade per decade of corpus). Use " +
          f"dd_minhash for near-dup detection at this scale; the exact " +
          f"n-gram path is the oracle and small-corpus tool.")
        Some(st)
      } else None
    }
  }

  /** The capped per-doc shingle-hash stream `dd_ngram_jaccard` and the
    * advisory both run on — ONE constructor so the measured collision
    * mass is the mass the query actually joins on.
    *
    * Shingles come pre-hashed to 64-bit keys from the native one-pass
    * kernel ([[graft.text.Dedup.shingleHashRows]]): every shuffle and
    * join key is 8 bytes, and there is no token-row window sort at all.
    * Set sizes and intersections over hashes equal those over strings
    * absent a 64-bit collision among distinct shingles (~2e-11 at 27k
    * distinct; the DuckDB oracle keeps strings, so the correctness gate
    * would surface one).
    */
  /** Upper bound on the hot-shingle set resolved into an `InSet` literal
    * at construction (r18, verdict task 7). The df-cap's hot side is a
    * tiny aggregate (stop-shingles — the head of the shingle Zipf), but
    * as an anti-join subtree it was INLINED into all six `capped`
    * occurrences of the pair query's plan: 158 operators, ~55 of them
    * six copies of this aggregate plus their broadcast exchanges, and
    * the sf0.1 wall is AQE re-optimizing that tree per stage (r17
    * phase split: construct 0.17 + initial plan 0.28 s; the rest is
    * re-planning). Resolving the hot set once at construction deletes
    * the subtree from every occurrence; at scale the same aggregation
    * ran exactly once anyway (AQE stage cache dedups the six copies),
    * so this moves one linear pass from execution to construction and
    * drops six broadcast exchanges. A corpus whose hot set outgrows
    * the bound falls back to the anti-join form — both forms produce
    * the SAME capped set (oracle-checked), so the choice is plan-only.
    */
  val NgramHotSetMaxInline = 4096

  def ngramCappedShingles(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    cappedShinglesWith(docs, NgramMaxDf, NgramHotSetMaxInline)

  /** Parameterized form — NgramCapEquivalenceSpec pins that the inlined
    * InSet form and the anti-join fallback produce the identical capped
    * set on the same corpus.
    */
  private[graft] def cappedShinglesWith(docs: org.apache.spark.sql.DataFrame,
      maxDf: Int, maxInline: Int): org.apache.spark.sql.DataFrame = {
    val d = graft.text.Dedup.shingleHashRows(docs, "doc_id", "text", ShingleK)
      .select(col("id").as("doc_id"), col("h").as("sh"))
      .distinct()
    import docs.sparkSession.implicits._
    // one eager construction-time job (limit-bounded); sh is an xxhash64
    // output and never null, so NOT-IN semantics equal the anti-join's
    val hot = d.groupBy(col("sh")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDf)
      .select(col("sh")).as[Long]
      .take(maxInline + 1)
    if (hot.isEmpty) d
    else if (hot.length <= maxInline)
      d.filter(!col("sh").isInCollection(hot.toSeq))
    else graft.text.Dedup.capDf(d, "sh", maxDf)
  }

  val ddNgramJaccard: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val capped = ngramCappedShingles(docs)
    // Per-doc set sizes as a TINY aggregate (one row per doc) joined onto
    // the per-pair aggregate — NOT a window over the 20M-row shingle
    // stream: the window form forces a full repartition+sort of every
    // shingle row by doc_id (measured 2.3x the whole query at 200k docs),
    // while this groupBy is map-side combined over the distinct's
    // existing exchange and the join-backs touch only candidate pairs.
    // No broadcast hint: sizes is one row per document and grows with the
    // corpus — AQE picks broadcast exactly while it actually fits.
    // the scale hand-off advisory (see above): the footer doc count
    // runs no job, and the candidate-pair measurement only runs past
    // MinDocs, so the oracle-gated SFs pay ~nothing.
    ngramScaleAdvisory(capped, Domain.footerRows(docs))
    val sizes = capped.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val agged = capped.as("a").join(capped.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      // the pair key is PACKED to one long before the count aggregate —
      // this groupBy's input is the fattest stream of the query (one row
      // per co-occurring pair per shared shingle), so key bytes dominate
      // its shuffle; see [[graft.text.Dedup.packPair]] for the domain
      // guard and the 100 TB note
      .groupBy(graft.text.Dedup.packPair(
        col("a.doc_id"), col("b.doc_id")).as("pk"))
      .agg(count(lit(1)).as("i"))
      .select(graft.text.Dedup.unpackPairA(col("pk")).as("a_id"),
        graft.text.Dedup.unpackPairB(col("pk")).as("b_id"), col("i"))
    // Single-shingle candidate pairs are the corpus-quadratic term: once
    // the corpus is large against its shingle space, RANDOM one-shingle
    // collisions grow ∝ n²/|space|, and the size join-backs shuffle every
    // one of them (the scale probe measured the 500k→5M-doc step going 47×
    // on exactly these). Yet an i=1 pair can clear
    // jaccard = i/(na+nb−i) ≥ τ only when na+nb ≤ (1+τ)/τ — i.e. BOTH
    // docs have ≤ ⌊1/τ⌋ capped shingles — so dropping i=1 pairs whose
    // docs are not both tiny is LOSSLESS (every dropped pair provably
    // fails the exact filter below). The tiny list is a filtered slice
    // of `sizes` left-joined as a broadcast marker BEFORE any shuffle
    // join-back, cutting the quadratic stream to qualifying pairs at the
    // price of one extra linear `capped` evaluation for the slice.
    // Shapes measured at the 500k→5M-doc decade (same probe protocol):
    // no prefilter 17.3 s/815 s (47×); union-of-branches 67.5/866 — each
    // branch re-ran the whole shingle upstream; filters interleaved
    // between the existing size joins 28.6/867 (30×) — join-1 still eats
    // the full i=1 stream; THIS marker shape 37.8/499 (13.2×) — the
    // extra linear pass buys the only form whose join-backs see
    // qualifying pairs alone, and the n² term it removes only grows.
    val tinyEligible = sizes
      .filter(col("n").cast("double") <= lit(1.0 / JaccardThreshold))
      .select(col("doc_id"), lit(true).as("tiny"))
    // no broadcast HINT: on a pathological all-short-docs corpus the tiny
    // list is O(corpus) and a forced broadcast would be a driver-memory
    // cliff — AQE upgrades to broadcast exactly while it actually fits
    // (the same policy as the minhash candIds note)
    agged
      .join(tinyEligible.select(col("doc_id").as("a_id"), col("tiny").as("a_tiny")),
        Seq("a_id"), "left")
      .join(tinyEligible.select(col("doc_id").as("b_id"), col("tiny").as("b_tiny")),
        Seq("b_id"), "left")
      .filter(col("i") >= 2 ||
        (coalesce(col("a_tiny"), lit(false)) && coalesce(col("b_tiny"), lit(false))))
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
      .withColumn("jaccard", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("a_id"), col("b_id"), col("jaccard")).orderBy(col("a_id"), col("b_id"))
  }

  /** Per-document integer text statistics (oracle-exact counts). */
  val txtStats: Q = (s, dir) => {
    val txt = col("text")
    def removed(pattern: String): Column =
      (length(txt) - length(regexp_replace(txt, pattern, ""))).cast("long")
    t(s, dir, "documents").select(
        col("doc_id"),
        length(txt).cast("long").as("n_chars"),
        graft.text.TextAnalysis.alnumTokenCount(txt).as("n_tokens"),
        removed("[A-Z]").as("n_upper"),
        removed("[0-9]").as("n_digit"),
        removed("[!-/:-@\\[-`{-~]").as("n_punct"))
      .orderBy(col("doc_id"))
  }

  /** Heuristic quality score: fraction of C4/Gopher-style rules passed,
    * over whitespace-token statistics (exact rational arithmetic on both
    * engines — indicators sum to n/5).
    */
  val txtQuality: Q = (s, dir) => {
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.text.TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Language id by stopword voting (argmax with lexicographic-desc ties). */
  val txtLangId: Q = (s, dir) => {
    t(s, dir, "documents")
      .select(col("doc_id"),
        graft.text.TextAnalysis.languageId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))
  }

  /** The vec_id=0 probe vector: one point-read job per CONSTRUCTION.
    * Deliberately NOT memoized per dir (r17 tried that; the r17 verdict
    * flagged it): the bench's fixed vec_id=0 parameter is an artifact of
    * the harness — a real serving workload carries a fresh query vector
    * per request, so a memo could never fire in production and its
    * ~50 ms/row saving was measurement-shaping, not optimization.
    */
  private def queryVec(s: SparkSession, emb: DataFrame, dir: String): Seq[Float] = {
    import s.implicits._
    emb.filter(col("vec_id") === 0L).select(col("embedding")).as[Seq[Float]].head()
  }

  /** Brute-force cosine top-10 against the vec_id=0 embedding. */
  val annTopK: Q = (s, dir) => {
    val emb = Domain.embeddings(s, dir)
    val q = queryVec(s, emb, dir)
    graft.vector.Similarity.bruteForceTopK(emb.filter(col("vec_id") =!= 0L), q, 10)
      .withColumn("cosine", round(col("cosine"), 6))
  }

  /** Batch kNN join: top-3 cosine neighbors for each of the first 10
    * vectors, broadcast-probe style (W-family rank + fixed-dim kernel).
    */
  val annKnn: Q = (s, dir) => {
    val emb = Domain.embeddings(s, dir)
    graft.vector.Similarity.topKJoin(
        emb.filter(col("vec_id") >= 10L), emb.filter(col("vec_id") < 10L), k = 3, dim = 64)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Token-budget estimate per doc: ceil(len/4) per alnum run plus ASCII
    * punctuation count — relational (explode + sum) so it scales out.
    */
  val txtTokensEst: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val words = docs.select(col("doc_id"),
        explode(filter(split(lower(col("text")), "[^a-z0-9]+"), x => length(x) > 0)).as("tok"))
      .groupBy(col("doc_id"))
      .agg(sum(ceil(length(col("tok")) / 4.0).cast("long")).as("word_toks"))
    docs.join(words, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("word_toks"), lit(0L)) +
          (length(col("text")) - length(regexp_replace(col("text"), "[!-/:-@\\[-`{-~]", "")))
            .cast("long")).as("token_estimate"))
      .orderBy(col("doc_id"))
  }

  /** As-of join: every non-error event paired with the user's most recent
    * error at-or-before it (union + carry-forward window, one shuffle).
    */
  val evAsof: Q = (s, dir) => {
    val ev = Domain.events(s, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("err_ts"), col("event_id").as("err_id"))
    val probes = ev.filter(col("event_type") =!= "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.operators.AsOfJoin(probes, errors, Seq("user_id"), "ts", "err_ts", Seq("err_id"))
      .select(col("event_id"), col("user_id"),
        expr("CAST(ts DIV 1000000000 AS BIGINT)").as("ts_sec"),
        col("asof_err_id").as("err_id"),
        expr("CAST(asof_err_ts DIV 1000000000 AS BIGINT)").as("err_ts_sec"))
      .orderBy(col("event_id"))
  }

  /** Ordered-progression funnel (view → click → purchase) per user: each
    * stage's timestamp is the FIRST qualifying event strictly after the
    * previous stage (the standard product-analytics funnel, not mere
    * set-membership). Three user-keyed aggregates joined on user_id — all
    * shuffles share the user_id key, so AQE plans them as one
    * co-partitioned chain; no window over the raw event stream is needed.
    */
  val evFunnel: Q = (s, dir) => {
    val ev = Domain.events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = ev.filter(col("event_type") === "click").join(t1, Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase").join(t2, Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    ev.select(col("user_id")).distinct()
      .join(t1, Seq("user_id"), "left")
      .join(t2, Seq("user_id"), "left")
      .join(t3, Seq("user_id"), "left")
      .select(col("user_id"),
        (when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
          .when(col("t1").isNotNull, 1).otherwise(0)).cast("long").as("stage"),
        expr("CAST(t1 DIV 1000000000 AS BIGINT)").as("view_sec"),
        expr("CAST(t2 DIV 1000000000 AS BIGINT)").as("click_sec"),
        expr("CAST(t3 DIV 1000000000 AS BIGINT)").as("purchase_sec"))
      .orderBy(col("user_id"))
  }

  /** Multi-level OLAP rollup over lineitem (returnflag → linestatus →
    * grand total). `grouping_id` disambiguates rolled-up NULLs from data
    * NULLs (bit order matches DuckDB's GROUPING: last column = low bit).
    * Scale shape: Expand feeds ONE hash aggregate — all rollup levels
    * partial-aggregate map-side, a single shuffle regardless of level
    * count. Decimal-exact sums per the oracle parity recipe.
    */
  val qRollup: Q = (s, dir) => {
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_rows"),
        sum(decimal2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(decimal2(col("l_extendedprice"))).cast("double").as("sum_price"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
  }

  /** Window-frame surface: per-customer running total (ROWS unbounded
    * preceding), 3-row moving average, and sequence number. Explicit ROWS
    * frames on both sides — the default RANGE frame includes order-by
    * peers and would diverge on ties. The running sum accumulates in
    * exact decimal and casts to double at the edge (a running DOUBLE sum
    * is order-dependent); the moving average divides two exactly-
    * represented values, so the single double division is IEEE-identical
    * across engines. Scale: one hash-partition per customer, no global
    * sort except the presentation orderBy.
    */
  val wCume: Q = (s, dir) => {
    val o = t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
      col("o_orderdate"), decimal2(col("o_totalprice")).as("p"))
    val ord = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wall = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w3 = ord.rowsBetween(-2, Window.currentRow)
    o.select(col("o_custkey"), col("o_orderkey"),
        sum(col("p")).over(wall).cast("double").as("run_total"),
        (sum(col("p")).over(w3).cast("double") / count(lit(1)).over(w3)).as("mavg3"),
        row_number().over(ord).cast("long").as("seq"))
      .orderBy(col("o_custkey"), col("seq"))
  }

  /** Cohort retention matrix: users bucketed by first-seen day, distinct
    * users counted per (cohort, day-offset) cell — the classic growth
    * analytics triangle. Nanos→day via integer division (both engines
    * truncate identically on the epoch-positive range). Scale: the
    * cohort table is one row per user; AQE broadcasts it when it fits,
    * and the distinct-count shuffles only (cohort_day, offset, user_id).
    */
  val evRetention: Q = (s, dir) => {
    val ev = Domain.events(s, dir)
      .select(col("user_id"), expr("CAST(ts DIV 86400000000000 AS BIGINT)").as("day"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Bounded range join: for every error event, how many views the same
    * user made in the preceding 5 minutes. The user_id clause keeps this
    * an EQUI join (sort-merge/shuffle-hash on user_id); the time bounds
    * ride along as a residual condition — never a cartesian. Left join
    * keeps context-free errors at count 0. The 5-minute bound caps
    * per-row match cost, so the join stays linear in events at any scale.
    */
  val evErrContext: Q = (s, dir) => {
    val ev = Domain.events(s, dir)
    val errs = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"), col("ts").as("err_ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    errs.join(views,
        col("user_id") === col("v_user") &&
          col("v_ts") < col("err_ts") &&
          col("v_ts") >= col("err_ts") - lit(300L * 1000000000L),
        "left")
      .groupBy(col("err_id"))
      .agg(count(col("v_ts")).as("n_views_5m"))
      .orderBy(col("err_id"))
  }

  /** Corpus vocabulary surface: per-token document frequency and corpus
    * share, top-50 by df. The df share is a single division of two
    * exactly-represented doubles (IEEE-identical across engines) —
    * deliberately NOT ln-based IDF, whose libm rounding differs between
    * JVMs and DuckDB. Ties at the limit boundary break on token, so the
    * selected set is deterministic.
    *
    * Scale: per-document token dedup happens IN-ROW (`array_distinct`
    * before the explode), so the only shuffle is the token-count
    * aggregate, which map-side combines to ≤ vocabulary rows per
    * partition. The previous shape — explode to (doc_id, token) rows,
    * then `distinct()` — shuffled the full exploded stream (~100 rows
    * per document) and hit an agg-spill cliff on realistic corpora:
    * the scale probe measured it 25.5× for the 10× 50k→500k step (22.1 s at
    * 500k), vs ~2.6× (2.2 s) for this shape on the same corpus.
    * Result-identical: distinct pairs per doc = distinct tokens per doc
    * — PROVIDED each documents row is one document, which holds here by
    * table contract (doc_id is the documents table's primary key in the
    * testdata, the generated scale corpora, and any store this engine writes;
    * the old global `distinct()` would additionally have collapsed
    * duplicated doc_id ROWS, so a caller feeding a non-keyed frame — say
    * an un-deduplicated union — must pre-dedup on doc_id or df
    * double-counts those docs).
    */
  val txtIdf: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val tok = docs.select(
      explode(array_distinct(filter(split(col("text"), " "), t => t =!= "")))
        .as("token"))
    tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .withColumn("df_share", col("df").cast("double") / col("n_docs").cast("double"))
      .orderBy(col("df").desc, col("token"))
      .limit(50)
  }

  /** Tumbling-window aggregation — the BATCH twin of the streaming
    * `EventWindows` path (same bucketing a watermarked `window()` agg
    * produces, restated as integer-exact hour buckets so DuckDB can
    * oracle it). One map-side-combined aggregate; the bucket column
    * composes with pulse-partition pruning at the scan.
    */
  val evWindowed: Q = (s, dir) => {
    Domain.events(s, dir)
      .groupBy(expr("CAST(ts DIV 3600000000000 AS BIGINT)").as("hour_bucket"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .withColumn("hour_start_sec", col("hour_bucket") * 3600L)
      .orderBy(col("hour_bucket"), col("event_type"))
  }

  /** Distinct-aggregate surface: exact distinct users and value stats per
    * event type (two-phase distinct aggregation under the hood).
    */
  val evUserStats: Q = (s, dir) => {
    Domain.events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** JSON-edge surface: extract props.k and aggregate per event type. */
  val evJsonAgg: Q = (s, dir) => {
    Domain.events(s, dir)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))
  }

  /** Embedding-cosine near-dup pairs, exact all-pairs form — the
    * verification baseline, deliberately bounded to a corpus slice
    * (all-pairs is quadratic; the full corpus goes through the LSH path).
    */
  val ddEmbed: Q = (s, dir) => {
    graft.vector.CosineDedup.exactPairs(
        Domain.embeddings(s, dir).filter(col("vec_id") < 2000L), dim = 64,
        // the NAMED threshold, not a literal: this query is the recall
        // baseline RecallInvariantsSpec bounds dd_embed_lsh against — a
        // retuned EmbLshThreshold must move both pair sets together
        threshold = EmbLshThreshold)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Embedding near-dup via multi-table LSH + exact verify (scale path).
    * (bits, tables) are corpus-sized per run — [[graft.vector.CosineDedup
    * .bitsFor]] minimizes modeled banding+candidate work and
    * [[graft.vector.CosineDedup.tablesFor]] holds the recall floor — so
    * the catalog row IS the 100 TB path (a fixed width saturates its
    * 2^bits buckets and goes quadratic past the corpus it was sized for;
    * measured 26× for a 10× step at sf1 before this wiring). The sizes
    * the query ran with come from [[embLshSizes]], which the replay
    * oracle calls too: it replays the same (bits, tables) with the
    * kernel's own plane weights.
    */
  // LSH parameters — named once, interpolated into query bodies and the
  // generated replay oracles. The threshold and recall target are the
  // FIXED contract; signature geometry is derived from the corpus.
  val EmbLshThreshold = 0.45
  // 0.97, not the library default 0.95: every planted near-dup in the
  // testdata sits within 0.07 of τ (cosines 0.451-0.513), so per-pair
  // collision probability is at its floor ≈ targetRecall and the pinned
  // 0.9 recall invariant (RecallInvariantsSpec) needs design margin —
  // 0.95 measures 12/14 with the kernel's fixed plane seed, 0.97 holds
  // 13/14 deterministically.
  val EmbLshTargetRecall = 0.97
  // aliases the index layer's constant so the catalog, the index layer
  // and the hash-replay oracle can never drift
  val AnnLshBits: Int = graft.vector.AnnIndex.ServedLshBits
  val AnnLshK = 10
  val AnnLshMaxProbes = 16

  /** (n, bits, tables) of dd_embed_lsh's banding on `dir`: n is the
    * corpus row count read from the parquet footers of the embeddings
    * relation's files (metadata only, no Spark job), and the signature
    * geometry is the deterministic corpus-sized choice. The query and
    * [[oracleFor]] both call this, so the replay interpolates the sizes
    * the query ran with.
    */
  def embLshSizes(spark: SparkSession, dir: String): (Long, Int, Int) = {
    val n = math.max(1L, Domain.footerRows(Domain.embeddings(spark, dir)))
    val bits = graft.vector.CosineDedup.bitsFor(n, EmbLshThreshold, EmbLshTargetRecall, dim = 64)
    (n, bits, graft.vector.CosineDedup.tablesFor(EmbLshThreshold, bits, EmbLshTargetRecall))
  }

  val ddEmbedLsh: Q = (s, dir) => {
    // corpus-sized plan constants can't be lazy: bits/tables are
    // literals in the banding expression
    val (n, bits, tables) = embLshSizes(s, dir)
    graft.vector.CosineDedup.lshPairsSized(Domain.embeddings(s, dir), dim = 64,
        threshold = EmbLshThreshold, bits = bits, tables = tables,
        expectedBandedRows = Some(n * tables))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** IVF-pruned ANN top-10 against the PERSISTED cell-partitioned index
    * (built once per dataset; the query reads only its probed cell
    * directories — partition pruning, not a full-corpus rescan).
    */
  // IVF query parameters — named once, interpolated into both query
  // bodies and the generated replay oracles.
  val AnnIvfK = 10
  val AnnIvfProbe = 6
  val AnnIvfKnnK = 3
  val AnnIvfKnnProbe = 8

  val annIvf: Q = (s, dir) => {
    val emb = Domain.embeddings(s, dir)
    val q = queryVec(s, emb, dir)
    val path = graft.vector.AnnIndex.ivfPath(dir)
    graft.vector.AnnIndex.ensureIvf(emb, path)
    // nProbe=6 of 16 cells: measured recall@10 ≈ 0.8 reading ~a third of
    // the corpus on this testdata (neighbor cosines are weak, 0.28-0.37,
    // so harder pruning costs recall — see RecallInvariantsSpec).
    graft.vector.AnnIndex.ivfTopK(s, path, q, AnnIvfK, nProbe = AnnIvfProbe,
      excludeId = Some(0L))
  }

  /** Deterministic train/val/test split assignment (engine-reproducible
    * md5 buckets — stable across runs, machines, partitionings).
    */
  val ddSplit: Q = (s, dir) => {
    graft.text.Sampling.hashSplit(t(s, dir, "documents"),
        "doc_id", Seq("train" -> 8, "val" -> 1, "test" -> 1))
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** The pipeline's FINAL ANSWER: one keep/drop verdict per document,
    * composing every text-side gate in one query — eval-slice exclusion,
    * train-split membership, exact dedup (md5-group min-id keeper),
    * near-dup clusters (the standing pair-graph artifact, min-id keeper),
    * and benchmark decontamination. `reason` names the FIRST failing gate
    * in that fixed order; `keep=1` survives them all. This is the query a
    * training-data user actually runs — everything else in the dd_*
    * family is one of its stages.
    */
  val ddKeepset: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val exact = docs.select(col("doc_id"), md5(col("text")).as("content_hash"))
    val keepers = exact.groupBy(col("content_hash")).agg(min(col("doc_id")).as("keep_id"))
    val exactFlag = exact.join(keepers, Seq("content_hash"))
      .select(col("doc_id"), (col("doc_id") === col("keep_id")).as("exact_keeper"))
    val comps = graft.operators.Components.ensureComponents(s,
      ensureNgramPairs(s, dir), "a_id", "b_id",
      ngramClustersPath(dir))
    val contaminated = graft.text.Decontam.overlapReport(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), n = 4)
      .select(col("doc_id"), lit(true).as("contaminated"))
    val split = graft.text.Sampling.hashSplit(docs, "doc_id",
        Seq("train" -> 8, "val" -> 1, "test" -> 1))
      .select(col("doc_id"), col("split"))
    docs.select(col("doc_id"))
      .join(exactFlag, Seq("doc_id"))
      .join(comps.withColumnRenamed("u", "doc_id"), Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .join(split, Seq("doc_id"))
      .select(col("doc_id"),
        when(col("doc_id") % 50 === 0, "eval_slice")
          .when(col("split") =!= "train", "holdout_split")
          .when(!col("exact_keeper"), "exact_dup")
          .when(col("comp").isNotNull && col("comp") =!= col("doc_id"), "near_dup")
          .when(col("contaminated"), "contaminated")
          .otherwise("keep").as("reason"))
      .withColumn("keep", when(col("reason") === "keep", 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  /** Length-stratified deterministic downsampling — the mix-weighting
    * step of a training-data pipeline: long documents kept whole, medium
    * halved, short decimated, all as a pure function of (doc_id, stratum)
    * so the sample is reproducible on any engine. (The synthetic corpus
    * scores uniformly 1.0 on the quality heuristic, so token length is
    * the stratum signal that actually varies here.)
    */
  val ddStratified: Q = (s, dir) => {
    val nTok = graft.text.TextAnalysis.alnumTokenCount(col("text"))
    val stratum = when(nTok >= 120, "long").when(nTok >= 60, "mid").otherwise("short")
    graft.text.Sampling.stratifiedSample(t(s, dir, "documents"), "doc_id", stratum,
        Seq("long" -> 1.0, "mid" -> 0.5, "short" -> 0.1))
      .select(col("doc_id"), col("stratum"))
      .orderBy(col("doc_id"))
  }

  /** Token-budget shard packing: documents assigned to ~2000-token
    * training shards over 8 parallel packing streams (deterministic
    * hash order — engine-reproducible, scales out with the bucket count).
    */
  val ddPack: Q = (s, dir) => {
    val withTokens = t(s, dir, "documents").select(col("doc_id"),
      graft.text.TextAnalysis.alnumTokenCount(col("text")).as("n_tokens"))
    graft.text.Sampling.packShards(withTokens, "doc_id", "n_tokens",
        tokensPerShard = 2000L, buckets = 8)
      .select(col("doc_id"), col("bucket"), col("shard"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Sketch aggregates (HLL distinct, approximate percentiles) served as
    * a TOLERANCE-VERDICT frame: per group, the exact answers (DuckDB-
    * computable) plus booleans asserting the sketches landed inside their
    * published error bounds — HLL++ at default rsd 0.05 within 3σ = 15%
    * relative, GK at accuracy 1000 within a ±5%-rank window (its bound is
    * n/accuracy ≈ 2 ranks at sf0.01). Spark's sketch internals are not
    * replayable bit-for-bit in DuckDB, but the verdicts ARE hash-exact:
    * the oracle expects every group within tolerance, so a sketch
    * regression (or a broken error bound) turns the row red instead of
    * hiding behind a rows-only check. The deterministic twin
    * [[evSketchDet]] stays the bit-exact replay.
    *
    * Memory note: the verdict frame trades the sketches' constant
    * per-group memory for oracle-checkability — `count_distinct` and the
    * exact `percentile(array(...))` windows buffer each group's values,
    * so THIS catalog form is verify-shaped, not the 100 TB serving
    * shape. A production pipeline serves the sketch columns alone
    * (approx_count_distinct / percentile_approx, both
    * TypedImperativeAggregates with map-side combine) or [[evSketchDet]].
    *
    * Small groups: for n < 20 the ±5%-rank windows collapse between
    * discrete ranks, where an approx percentile (an actual data point)
    * can sit legitimately outside the interpolated window — below that
    * floor the verdict falls back to a CONTAINMENT check (the GK sketch
    * returns one of the observed data points, so membership in the
    * group's exact value set is the invariant that survives degenerate
    * group sizes), never an unconditional TRUE — a broken percentile
    * implementation stays visible to the oracle at every group size.
    */
  val evSketch: Q = (s, dir) => {
    def verdict(approx: Column, loRank: Int, hiRank: Int): Column =
      // coalesce closes the all-null-values corner: approx is null there
      // (array_contains would yield NULL, not a boolean) and a null
      // percentile of a valueless group is vacuously in-bounds
      when(col("n_events") < lit(20),
        coalesce(array_contains(col("value_set"), approx), approx.isNull))
        // the large-group branch needs the same all-null closure: a
        // >=20-row group whose values are all NULL yields NULL windows
        // and a NULL approx, and between(NULL, NULL) is NULL where the
        // static oracle expects TRUE — a null percentile of a valueless
        // group is vacuously in-bounds at any size
        .otherwise(coalesce(
          approx.between(col("rank_windows")(loRank), col("rank_windows")(hiRank)),
          approx.isNull))
    Domain.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id")).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("approx_p50"),
        percentile_approx(col("value"), lit(0.95), lit(1000)).as("approx_p95"),
        expr("percentile(value, array(0.45D, 0.55D, 0.93D, 0.97D))").as("rank_windows"),
        // only consulted on the n<20 branch; like the exact-percentile
        // windows it is verify-shaped buffering (see the memory note)
        collect_set(col("value")).as("value_set"))
      .select(col("event_type"), col("n_events"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * lit(0.15)).as("users_within_tol"),
        verdict(col("approx_p50"), 0, 1).as("p50_within_tol"),
        verdict(col("approx_p95"), 2, 3).as("p95_within_tol"))
      .orderBy(col("event_type"))
  }

  // Deterministic-sketch parameters — shared by query and replay oracle.
  // kDistinct=32 exercises the KMV estimator branch at sf0.01 (150 users);
  // kSample=256 subsamples every event type's ~2000 values.
  val SketchKDistinct = 32
  val SketchKSample = 256
  val SketchQuantiles = Seq(0.5, 0.95)

  /** [[evSketch]]'s deterministic twin: KMV distinct + bottom-k-sample
    * percentiles ([[graft.operators.Sketches]]). Same constant-memory
    * purpose, but the randomness is the engine's own seeded xxhash64 and
    * the estimators avoid libm — so unlike Spark's HLL++/GK internals the
    * whole sketch replays BIT-EXACTLY in the DuckDB oracle.
    */
  val evSketchDet: Q = (s, dir) =>
    graft.operators.Sketches.eventSketch(Domain.events(s, dir),
        group = col("event_type"), key = col("user_id"), value = col("value"),
        sampleId = col("event_id"), kDistinct = SketchKDistinct,
        kSample = SketchKSample, quantiles = SketchQuantiles)
      .withColumnRenamed("g", "event_type")
      .select(col("event_type"), col("kmv_distinct"),
        col("p50_value"), col("p95_value"))
      .orderBy(col("event_type"))

  /** Benchmark decontamination: corpus docs sharing ≥1 word 4-gram with
    * the (broadcast) eval slice doc_id % 50 == 0 — the standard test-set
    * leakage guard of a training pipeline.
    */
  val ddDecontam: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    graft.text.Decontam.overlapReport(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), n = 4)
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition signals (top-bigram share, distinct-token
    * ratio) — the "repetitious document" quality filter family.
    */
  val txtRepetition: Q = (s, dir) =>
    graft.text.TextAnalysis.repetitionSignals(t(s, dir, "documents"))
      .orderBy(col("doc_id"))

  /** Keep/drop filter verdicts with per-rule flags and failure reasons —
    * the composed filtering stage over the same signal definitions
    * txt_quality / txt_repetition report.
    */
  val txtFilter: Q = (s, dir) =>
    graft.text.TextAnalysis.filterVerdicts(t(s, dir, "documents"))
      .orderBy(col("doc_id"))

  /** Training-mix composition: per (source, lang) document/char/token
    * totals and each cell's share of the corpus token budget — the
    * bookkeeping view data-mixing decisions read.
    */
  val txtMix: Q = (s, dir) => {
    val perCell = t(s, dir, "documents")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(graft.text.TextAnalysis.alnumTokenCount(col("text"))).as("total_tokens"))
    // Corpus-wide token total as a 1-row aggregate broadcast onto the
    // per-cell frame — the partial sums ride the same map-side combine as
    // the cell aggregate, and no single-task window appears anywhere.
    val corpus = perCell.agg(sum(col("total_tokens")).as("_corpus_tokens"))
    perCell.crossJoin(broadcast(corpus))
      .withColumn("token_share",
        col("total_tokens").cast("double") / col("_corpus_tokens"))
      .drop("_corpus_tokens")
      .orderBy(col("source"), col("lang"))
  }

  /** Int8 scalar quantization of the embedding corpus (row form). */
  val embQuant: Q = (s, dir) =>
    graft.vector.Quantize.int8Rows(Domain.embeddings(s, dir))
      .orderBy(col("vec_id"), col("dim_i"))

  /** Per-label embedding centroids (ordered-fold mean per dimension). */
  val embCentroids: Q = (s, dir) =>
    graft.vector.Quantize.labelCentroids(Domain.embeddings(s, dir))
      .orderBy(col("label"), col("dim_i"))

  /** Rolling-hash fingerprint (UDF — rows-only check). */
  val txtFingerprint: Q = (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), graft.text.TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** Multimodal frame sampling over the GVF1 container: the row
    * explosion PLUS real per-frame stats — frame count from the
    * container header, width/height from each sampled PNG frame's IHDR,
    * all parsed by native expressions (no UDF, no row decode).
    */
  val mmFrames: Q = (s, dir) => {
    val media = graft.multimodal.Multimodal.syntheticMedia(t(s, dir, "documents"))
    graft.multimodal.Multimodal.sampleFrames(media)
      .orderBy(col("media_id"), col("frame_idx"))
  }

  // ---- rows-only (not SQL-expressible: seeded hash families / UDFs) ----

  // MinHash parameters — shared by the query and its hash-replay oracle.
  val MinhashShingleN = 3
  val MinhashK = 16
  val MinhashBands = 8
  val MinhashThreshold = 0.5

  val ddMinhash: Q = (s, dir) =>
    graft.text.Dedup.minhashPairs(t(s, dir, "documents"), n = MinhashShingleN,
        k = MinhashK, bands = MinhashBands, threshold = MinhashThreshold)
      .orderBy(col("a_id"), col("b_id"))

  // K-means / SemDeDup parameters — named once and interpolated into both
  // the query bodies and the generated oracle SQL, so they cannot drift.
  val KmeansK = 16
  val KmeansIters = 2
  val SemDedupProbe = 2
  val SemDedupThreshold = 0.45

  /** Refined centroids of the embeddings corpus. The xxhash64-ordered
    * seed sample and the Lloyd scans cannot be re-derived in DuckDB, but
    * the RESULT can be replayed exactly: the kernels fold ascending in
    * double ([[graft.vector.expressions.VectorKernels]]), so
    * `list_dot_product` over these literals reproduces every dot
    * bit-for-bit. The queries and [[oracleFor]] each compute them; the
    * result is deterministic in the corpus, so the oracle's literals are
    * the ones the queries ran with. Every construction pays the seeded
    * sample and the Lloyd scans in full: they ARE the work the
    * clustering rows measure (action_rev 3).
    */
  private def kmeansCentroids(emb: DataFrame): Array[Seq[Float]] =
    graft.vector.Clustering.centroids(emb, KmeansK, KmeansIters)

  /** Spherical k-means cluster assignment over the embedding corpus
    * (seeded sample + 2 Lloyd refinements; argmax replayed exactly by the
    * generated centroid-literal oracle).
    */
  val embKmeans: Q = (s, dir) => {
    val emb = Domain.embeddings(s, dir)
    graft.vector.Clustering.assignTo(emb, kmeansCentroids(emb))
      .orderBy(col("vec_id"))
  }

  /** SemDeDup: embedding near-dup pairs verified exactly WITHIN k-means
    * clusters (sub-quadratic semantic dedup; recall vs the all-pairs twin
    * bounded in RecallInvariantsSpec).
    */
  val ddSemdedup: Q = (s, dir) => {
    val emb = Domain.embeddings(s, dir)
    graft.vector.Clustering.semdedupPairsWith(emb, kmeansCentroids(emb),
        dim = 64, threshold = SemDedupThreshold, p = SemDedupProbe)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Linear-path SemDeDup: fixed cluster SIZE via recursive splitting of
    * oversized cells — O(n·maxCell) verification at any corpus size,
    * vs the √n-cell form's O(n^1.5). maxCell=64 forces real splits at
    * sf0.01+ (coarse cells run ~62 soft members there); split softP=3
    * buys margin on this testdata's adversarially weak τ=0.45 pairs
    * (measured at maxCell=64: hard splits 0.64 recall, soft-2 1.0 but
    * only 0.86 at maxCell=48, soft-3 1.0 across the grid). Oracled
    * exactly: the whole split recursion — xxh64-ordered seed sampling,
    * adaptive fanout, freeze check, float-rounded normalization — unrolls
    * level by level in generated SQL
    * ([[graft.functions.HashReplaySql.fixedSemdedupOracle]]);
    * subset/recall/cell-size invariants are additionally bounded in
    * ClusteringSpec.
    */
  val SemDedupMaxCell = 64
  val SemDedupSplitProbe = 3
  val ddSemdedupFixed: Q = (s, dir) => {
    // coarse centroids computed fresh per construction (action_rev 3 —
    // the Lloyd scans are timed work)
    val emb = Domain.embeddings(s, dir)
    graft.vector.Clustering.semdedupPairsFixedWith(emb,
        kmeansCentroids(emb),
        dim = 64, threshold = SemDedupThreshold, maxCell = SemDedupMaxCell,
        k = KmeansK, p = SemDedupProbe, softP = SemDedupSplitProbe)
      .withColumn("cosine", round(col("cosine"), 6))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Parameters-in-path tag for the semdedup cluster artifact — same
    * discipline as [[ngramParamsTag]].
    */
  private def semdedupParamsTag =
    f"k$KmeansK-it$KmeansIters-p$SemDedupProbe-t${(SemDedupThreshold * 100).round}%03d"

  /** SemDeDup's actual pipeline OUTPUT: one keep/drop verdict per corpus
    * vector. Near-dup pairs → connected components (standing artifact,
    * [[graft.operators.Components]]) → keep the minimum id per semantic
    * cluster; singletons keep themselves. Oracled exactly: the pair
    * replay (centroid literals) feeds the same recursive-CTE
    * reachability the dd_clusters oracle uses.
    */
  /** The semdedup components artifact, built by the first query that
    * touches it. Pair construction (incl. the centroid-seeding driver
    * jobs inside kmeansCentroids) is deferred into ensureComponents'
    * by-name param — the warm path reads the artifact without running a
    * single seeding job.
    */
  private def semdedupComponents(s: SparkSession, dir: String): DataFrame = {
    val emb = Domain.embeddings(s, dir)
    graft.operators.Components.ensureComponents(s,
      graft.vector.Clustering.semdedupPairsWith(emb,
        kmeansCentroids(emb), dim = 64, threshold = SemDedupThreshold,
        p = SemDedupProbe),
      "a_id", "b_id",
      graft.vector.AnnIndex.indexRoot(dir) + s"/semdedup-clusters-$semdedupParamsTag")
  }

  val ddSemdedupVerdicts: Q = (s, dir) => {
    val emb = Domain.embeddings(s, dir)
    val comps = semdedupComponents(s, dir)
    emb.select(col("vec_id"))
      .join(comps.withColumnRenamed("u", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("comp"), col("vec_id")).as("cluster_id"),
        when(col("comp").isNull || col("comp") === col("vec_id"), lit(1L))
          .otherwise(lit(0L)).as("keep"))
      .orderBy(col("vec_id"))
  }

  val SimhashRadius = 3
  val ddSimhash: Q = (s, dir) =>
    graft.text.Dedup.simhashPairs(t(s, dir, "documents"), radius = SimhashRadius)
      .orderBy(col("a_id"), col("b_id"))

  /** ann_lsh's margin-ranked probe buckets for query vector `q` — the
    * same call [[graft.vector.AnnIndex.lshTopK]] makes. The heap
    * expansion is driver-side and deterministic, so the replay oracle's
    * bucket list is exactly the prune the query ran.
    */
  private def annLshProbes(q: Seq[Float]): Seq[Long] =
    graft.vector.Similarity.marginProbeBuckets(q, AnnLshBits, maxProbes = AnnLshMaxProbes)

  val annLsh: Q = (s, dir) => {
    val emb = Domain.embeddings(s, dir)
    val q = queryVec(s, emb, dir)
    // 6-bit signatures, margin-ranked 16 of 64 buckets: reads ~25% of the
    // corpus. On this testdata's weak-signal neighbors that buys ~0.6
    // recall@10 — hyperplane LSH cannot reach 0.8 here without giving up
    // pruning (measured: 50% read → 0.7); ann_ivf is the ≥0.8 path.
    val path = graft.vector.AnnIndex.lshPath(dir, bits = AnnLshBits, dim = q.length)
    graft.vector.AnnIndex.ensureLsh(emb, path, dim = q.length, bits = AnnLshBits)
    graft.vector.AnnIndex.lshTopK(s, path, q, AnnLshK, bits = AnnLshBits,
      maxProbes = AnnLshMaxProbes, excludeId = Some(0L))
  }

  /** Batch IVF kNN join: top-3 approximate neighbors for the first 10
    * vectors against the persisted cell-partitioned index — each query
    * reads only its nProbe/nCells corpus fraction (the scale form of
    * `ann_knn`, whose broadcast-probe join scans the full corpus per
    * batch). nProbe=8/16 reads ~half the corpus — the price of recall@3
    * on this noise-floor testdata (neighbor cosines 0.28-0.37); clustered
    * corpora prune much harder at the same recall. Rows-only + recall
    * bound vs the exact join (measured 0.67, bounded ≥0.6).
    */
  val annIvfKnn: Q = (s, dir) => {
    val emb = Domain.embeddings(s, dir)
    val path = graft.vector.AnnIndex.ivfPath(dir)
    graft.vector.AnnIndex.ensureIvf(emb, path)
    graft.vector.AnnIndex.ivfKnnJoin(s, path,
        emb.filter(col("vec_id") < 10L).select(col("vec_id").as("query_id"), col("embedding")),
        k = AnnIvfKnnK, dim = 64, nProbe = AnnIvfKnnProbe,
        corpusFilter = Some(col("vec_id") >= 10L))
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank").cast("long").as("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  val mmFeatures: Q = (s, dir) => {
    // REAL decode, oracle-checked: the fixture round-trips text bytes
    // through genuine containers (gray-8 PNG via ImageIO, 8-bit PCM WAV
    // via AudioSystem, PNG-framed GVF1 for video — all lossless), so the
    // DECODED dimensions and sample sums are arithmetically derivable
    // from the source text and DuckDB can verify the whole codec round
    // trip, video included (n_samples = decoded frame pixels).
    val media = graft.multimodal.Multimodal.syntheticMedia(t(s, dir, "documents"))
    // memo key = source path + its mtime (the raw-parquet analog of a
    // manifest version): the 8-row payload_bytes spot check then runs
    // once per JVM per documents generation instead of per call (r16
    // judge nit — it was new per-query overhead on the hottest
    // multimodal row)
    val docsPath = s"$dir/documents.parquet"
    // an unreadable mtime means no stable identity — skip memoization
    // for the call rather than share a "<path>@-1" key across store
    // generations (review r17)
    val mtime = try {
      val hp = new org.apache.hadoop.fs.Path(docsPath)
      Some(hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getFileStatus(hp).getModificationTime)
    } catch { case scala.util.control.NonFatal(_) => None }
    graft.multimodal.Multimodal.extractFeatures(media,
        metaTrustKey = mtime.map(t => s"$docsPath@$t")).toDF()
      .select(col("media_id"), col("modality"), col("n_samples"),
        col("width"), col("height"), col("sample_sum"))
      .orderBy(col("media_id"))
  }

  // ----------------------------------------------------------------------
  // Catalog
  // ----------------------------------------------------------------------

  /** Catalog rows whose `count()` lets Catalyst drop real work: their
    * output is cardinality-preserving and nothing downstream references
    * the computed columns, so column pruning deletes the Window /
    * Generate / eliminable-Join subtree and a `count()`-based timing
    * measures a bare scan (r17 audit: w_cume "counted" 500M rows in
    * 0.40 s — the three window functions never ran). Timing harnesses
    * route these rows through [[forceAll]]; the set is MECHANICALLY
    * pinned by TimingActionSpec, which recomputes prunability from the
    * plans at sf0.001 and fails when a catalog edit changes it.
    * Correctness is unaffected either way — Verify writes the full
    * output and hash-compares it against the oracle.
    */
  val ForcedActionRows: Set[String] = Set(
    "dd_decontam", "dd_incremental", "dd_keepset", "dd_pack", "emb_quant",
    "ev_asof", "ev_err_context", "ev_funnel", "txt_filter",
    "txt_repetition", "txt_tokens_est", "w_cume")

  /** Timing action that defeats column pruning: hash-fold every output
    * column into one scalar (codegen'd xxhash64, ~ns/row — noise next
    * to the work it forces) so the full computation executes while a
    * single row returns to the driver. The fold is XOR, not sum —
    * ANSI mode (Spark 4 default) faults a Long-sum overflow, which
    * 64-bit hashes reach almost immediately. Returns the row count
    * like `count()` does.
    */
  def forceAll(df: DataFrame): Long =
    df.agg(count(lit(1)).as("n"),
        bit_xor(xxhash64(df.columns.map(col): _*)).as("h"))
      .head().getLong(0)

  /** The ONE timing action every harness uses for catalog rows: plain
    * `count()` where that already executes the full query, [[forceAll]]
    * where it would not.
    */
  def timingAction(name: String, df: DataFrame): Long =
    if (ForcedActionRows(name)) forceAll(df) else df.count()

  val catalog: Map[String, Q] = Map(
    "q1_agg" -> q1Agg,
    "q3_topk" -> q3TopK,
    "q5_region" -> q5Region,
    "w_topk_per_group" -> wTopKPerGroup,
    "ev_sessions" -> evSessions,
    "be_records_page" -> beRecordsPage,
    "be_lifeline" -> beLifeline,
    "be_lifeline_idx" -> beLifelineIdx,
    "be_pulses_page" -> bePulsesPage,
    "be_pulse_chain" -> bePulseChain,
    "be_jet_drops_page" -> beJetDropsPage,
    "be_jet_tree" -> beJetTree,
    "be_records_total" -> beRecordsTotal,
    "be_pulses_total" -> bePulsesTotal,
    "be_drops_total" -> beDropsTotal,
    "be_pulses_offset" -> bePulsesOffset,
    "be_missing_pulses" -> beMissingPulses,
    "be_completeness" -> beCompleteness,
    "be_exporter_next" -> beExporterNext,
    "be_jet_links" -> beJetLinks,
    "be_jet_links_hash" -> beJetLinksHash,
    "dd_exact" -> ddExact,
    "dd_ngram_jaccard" -> ddNgramJaccard,
    "txt_stats" -> txtStats,
    "txt_langid" -> txtLangId,
    "txt_quality" -> txtQuality,
    "ann_topk" -> annTopK,
    "ann_knn" -> annKnn,
    "txt_tokens_est" -> txtTokensEst,
    "ev_json_agg" -> evJsonAgg,
    "ev_user_stats" -> evUserStats,
    "ev_funnel" -> evFunnel,
    "q_rollup" -> qRollup,
    "w_cume" -> wCume,
    "ev_retention" -> evRetention,
    "ev_err_context" -> evErrContext,
    "ev_windowed" -> evWindowed,
    "txt_idf" -> txtIdf,
    "txt_filter" -> txtFilter,
    "dd_incremental" -> ddIncremental,
    "dd_clusters" -> ddClusters,
    "ev_asof" -> evAsof,
    "ev_sketch" -> evSketch,
    "ev_sketch_det" -> evSketchDet,
    "txt_fingerprint" -> txtFingerprint,
    "dd_decontam" -> ddDecontam,
    "txt_repetition" -> txtRepetition,
    "txt_mix" -> txtMix,
    "emb_quant" -> embQuant,
    "emb_centroids" -> embCentroids,
    "emb_kmeans" -> embKmeans,
    "dd_semdedup" -> ddSemdedup,
    "dd_semdedup_fixed" -> ddSemdedupFixed,
    "dd_semdedup_verdicts" -> ddSemdedupVerdicts,
    "dd_embed" -> ddEmbed,
    "dd_split" -> ddSplit,
    "dd_keepset" -> ddKeepset,
    "dd_stratified" -> ddStratified,
    "dd_pack" -> ddPack,
    "dd_embed_lsh" -> ddEmbedLsh,
    "ann_ivf" -> annIvf,
    "mm_frames" -> mmFrames,
    "dd_minhash" -> ddMinhash,
    "dd_simhash" -> ddSimhash,
    "ann_lsh" -> annLsh,
    "ann_ivf_knn" -> annIvfKnn,
    "mm_features" -> mmFeatures
  )

  // ----------------------------------------------------------------------
  // DuckDB oracle SQL
  // ----------------------------------------------------------------------

  /** records view: MUST mirror [[Domain.records]] bit-for-bit. */
  private val R =
    """records AS (
      |  SELECT event_id AS reference,
      |         CASE WHEN event_type IN ('view','click') THEN 'state'
      |              WHEN event_type IN ('signup','purchase') THEN 'request'
      |              ELSE 'result' END AS type,
      |         user_id AS object_reference,
      |         epoch_ns(ts) // 3600000000000 AS pulse_number,
      |         epoch_ns(ts) // 1000000000 AS ts_sec,
      |         lpad(bin(((user_id % 8) + 8) % 8), 3, '0') AS jet_id,
      |         event_type, value,
      |         CAST(row_number() OVER (
      |           PARTITION BY epoch_ns(ts) // 3600000000000, lpad(bin(((user_id % 8) + 8) % 8), 3, '0')
      |           ORDER BY ts, event_id) AS BIGINT) AS "order"
      |  FROM events)""".stripMargin

  private val P =
    """pulses AS (
      |  SELECT pulse_number,
      |         pulse_number - 1 AS prev_pulse_number,
      |         pulse_number + 1 AS next_pulse_number,
      |         count(DISTINCT CASE WHEN pulse_number % 4 = 0
      |                             THEN substring(jet_id, 1, 2)
      |                             ELSE jet_id END) AS jet_drop_amount,
      |         count(*) AS record_amount,
      |         min(ts_sec) AS "timestamp",
      |         count(DISTINCT jet_id) = 8 AS is_complete
      |  FROM records GROUP BY pulse_number),
      |pstat AS (
      |  SELECT *,
      |         min(CASE WHEN is_complete THEN 1 ELSE 0 END) OVER (
      |           ORDER BY pulse_number
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS is_sequential
      |  FROM pulses)""".stripMargin

  /** drops view: MUST mirror [[Domain.jetDrops]] — every 4th pulse merges
    * to depth-2 drops with TWO parent hashes (the jet-merge case).
    */
  private val D =
    """drops0 AS (
      |  SELECT pulse_number,
      |         CASE WHEN pulse_number % 4 = 0 THEN substring(jet_id, 1, 2)
      |              ELSE jet_id END AS jet_id,
      |         count(*) AS record_amount, min(ts_sec) AS "timestamp"
      |  FROM records GROUP BY 1, 2),
      |drops AS (
      |  SELECT pulse_number, jet_id, record_amount, "timestamp",
      |         md5(jet_id || ':' || pulse_number) AS hash,
      |         CASE WHEN pulse_number % 4 = 0
      |                THEN md5(jet_id || '0' || ':' || (pulse_number - 1))
      |              WHEN pulse_number % 4 = 1
      |                THEN md5(substring(jet_id, 1, 2) || ':' || (pulse_number - 1))
      |              ELSE md5(jet_id || ':' || (pulse_number - 1)) END AS first_prev_hash,
      |         CASE WHEN pulse_number % 4 = 0
      |                THEN md5(jet_id || '1' || ':' || (pulse_number - 1))
      |              ELSE CAST(NULL AS VARCHAR) END AS second_prev_hash
      |  FROM drops0)""".stripMargin

  /** Every oracle entry for the corpus at `dir`: the static entries plus
    * the generated families, whose literals (k-means and IVF centroids,
    * the LSH geometry and probe list) this computes from the corpus with
    * the same functions the queries call. A family whose literals throw
    * is logged and left out, so its queries are checked rows-only.
    */
  def oracleFor(spark: SparkSession, dir: String): Map[String, String] = {
    def family(name: String)(entries: => Map[String, String]): Map[String, String] =
      try entries catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[graft] $name oracle left out (rows-only): ${e.getMessage}")
        Map.empty
      }
    def emb = Domain.embeddings(spark, dir)
    oracle ++
      family("centroid")(centroidOracle(kmeansCentroids(emb))) ++
      family("ivf")(ivfOracle(
        graft.vector.AnnIndex.ensureIvf(emb, graft.vector.AnnIndex.ivfPath(dir)))) ++
      family("lsh")(lshOracle(embLshSizes(spark, dir),
        annLshProbes(queryVec(spark, emb, dir))))
  }

  /** Centroids as one DOUBLE[] literal per cell — exact decimal
    * renderings of the float32 values, so the doubles DuckDB parses are
    * bit-identical to what the engine multiplies.
    */
  private def centsListsSql(cs: Array[Seq[Float]]): String =
    cs.iterator.zipWithIndex.map { case (c, cell) =>
      s"($cell,CAST(${c.iterator.map(_.toDouble).mkString("[", ",", "]")} AS DOUBLE[]))"
    }.mkString(",")

  /** Shared replay prefix: per-vector dots to every centroid literal and
    * the (dot DESC, cell DESC) affinity ranking — the tie-break of both
    * [[graft.vector.Ivf.cellOf]] (array_max over struct) and
    * [[graft.vector.Ivf.topCells]] (reversed ascending struct sort).
    *
    * Dots run through `list_dot_product` on DOUBLE[] casts — verified
    * bit-identical to the kernel's ascending double fold (and to the
    * ordered-SUM unnest form this replaced) — which keeps every replay
    * in this family O(vectors·cells + candidates): the per-pair
    * ordered-SUM shape buffered sorted per-group state for every
    * candidate pair and exceeded the oracle node's ~63 GB commit limit
    * at sf1 (ann_ivf_knn was the one non-green sf1 row in round 14).
    */
  private def affinityPrefix(cs: Array[Seq[Float]]): String =
    s"""WITH cents AS (SELECT * FROM (VALUES ${centsListsSql(cs)}) AS t(cell, cv)),
       |ed AS (
       |  SELECT vec_id, CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS v FROM embeddings),
       |dots AS (
       |  SELECT ed.vec_id, c.cell, list_dot_product(ed.v, c.cv) AS dot
       |  FROM ed CROSS JOIN cents c),
       |ranked AS (
       |  SELECT vec_id, cell,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell DESC) AS rk
       |  FROM dots)""".stripMargin

  /** DuckDB replay of argmax/cosine against the k-means centroid literals `cs`.
    *
    * Exactness argument: the Spark side computes every dot as an ascending
    * double fold over float values (VectorKernels); DuckDB's
    * `list_dot_product` over DOUBLE[] performs the identical operation
    * sequence on identical doubles — the embedding column is
    * float-normalized FIRST (`CAST(… AS FLOAT[])`, mirroring
    * [[graft.model.DriftAdapters.normalizeEmbeddings]]) and the literals
    * are exact decimal renderings of the float32 centroids — so argmax
    * comparisons and the `>= threshold` filter see bit-identical values.
    * Tie-breaks: [[graft.vector.Ivf.cellOf]] takes array_max over
    * struct(dot, cell) = highest cell on equal dot → `ORDER BY dot DESC,
    * cell DESC`; [[graft.vector.Ivf.topCells]] reverses an ascending
    * struct sort → same ordering for the soft top-p.
    */
  private def centroidOracle(cs: Array[Seq[Float]]): Map[String, String] = {
    val assignRanked = affinityPrefix(cs)
    // soft assignment → co-bucketed pairs → exact cosine, shared by the
    // pair query and the verdict query's component stage
    val semPairs =
      s"""assign AS (SELECT vec_id, cell FROM ranked WHERE rk <= $SemDedupProbe),
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
         |  FROM assign a JOIN assign b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |scored AS (
         |  SELECT p.a_id, p.b_id,
         |    CASE WHEN sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)) = 0
         |         THEN 0.0
         |         ELSE list_dot_product(ea.v, eb.v) /
         |              (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) END AS c
         |  FROM pairs p
         |  JOIN ed ea ON ea.vec_id = p.a_id
         |  JOIN ed eb ON eb.vec_id = p.b_id)""".stripMargin
    Map(
      "emb_kmeans" ->
        s"""$assignRanked
           |SELECT vec_id, CAST(cell AS INT) AS cluster FROM ranked
           |WHERE rk = 1 ORDER BY vec_id""".stripMargin,
      "dd_semdedup" ->
        s"""$assignRanked,
           |$semPairs
           |SELECT a_id, b_id, round(c, 6) AS cosine FROM scored
           |WHERE c >= $SemDedupThreshold ORDER BY a_id, b_id""".stripMargin,
      "dd_semdedup_fixed" -> graft.functions.HashReplaySql.fixedSemdedupOracle(
        centsListsSql(cs), SemDedupMaxCell, SemDedupProbe,
        SemDedupSplitProbe, softLevels = 1, SemDedupThreshold),
      "dd_semdedup_verdicts" ->
        s"""${assignRanked.replaceFirst("^WITH ", "WITH RECURSIVE ")},
           |$semPairs,
           |-- MATERIALIZED: the recursive reach loop references edges
           |-- every iteration, and DuckDB inlines plain CTEs — without
           |-- the hint each iteration re-evaluates the whole pair
           |-- pipeline (scored/pd/...), which exhausts memory at 10x
           |-- the gate SF. The hint is semantics-neutral
           |sp AS MATERIALIZED (SELECT a_id, b_id FROM scored WHERE c >= $SemDedupThreshold),
           |edges AS MATERIALIZED (SELECT a_id AS u, b_id AS v FROM sp
           |          UNION SELECT b_id, a_id FROM sp),
           |reach AS (
           |  SELECT u, u AS comp FROM (SELECT DISTINCT u FROM edges)
           |  UNION
           |  SELECT g.u, r.comp FROM edges g JOIN reach r ON g.v = r.u),
           |comp AS (SELECT u, min(comp) AS comp FROM reach GROUP BY u)
           |SELECT em.vec_id,
           |  coalesce(cm.comp, em.vec_id) AS cluster_id,
           |  CAST(CASE WHEN cm.comp IS NULL OR cm.comp = em.vec_id
           |       THEN 1 ELSE 0 END AS BIGINT) AS keep
           |FROM (SELECT vec_id FROM embeddings) em
           |LEFT JOIN comp cm ON cm.u = em.vec_id
           |ORDER BY em.vec_id""".stripMargin)
  }

  /** Replay oracles for the persisted-IVF read paths: probe selection
    * (driver-side [[graft.vector.Ivf.cellsByAffinity]] sorts by (-dot,
    * -cell) — same ascending double fold, so `dot DESC, cell DESC` replays
    * it), build-time cell assignment, pruned candidate set, and exact
    * cosine re-rank, all recomputed from the index's centroid literals `cs`.
    * The raw (unrounded) ann_ivf cosine hash-matches because every double
    * op happens in the same sequence on both engines.
    */
  private def ivfOracle(cs: Array[Seq[Float]]): Map[String, String] = {
    val prefix = affinityPrefix(cs)
    Map(
      "ann_ivf" ->
        s"""$prefix,
           |q AS (SELECT v AS qv FROM ed WHERE vec_id = 0),
           |qn AS (SELECT sqrt(list_dot_product(qv, qv)) AS nq FROM q),
           |qcell AS (
           |  SELECT c.cell, list_dot_product(q.qv, c.cv) AS dot
           |  FROM q CROSS JOIN cents c),
           |probed AS (
           |  SELECT cell FROM (
           |    SELECT cell, row_number() OVER (ORDER BY dot DESC, cell DESC) AS rk
           |    FROM qcell) WHERE rk <= $AnnIvfProbe),
           |cand AS (
           |  SELECT r.vec_id FROM ranked r JOIN probed p USING (cell)
           |  WHERE r.rk = 1 AND r.vec_id <> 0),
           |scored AS (
           |  SELECT ed.vec_id,
           |    list_dot_product(ed.v, q.qv) AS dot,
           |    sqrt(list_dot_product(ed.v, ed.v)) AS na
           |  FROM ed JOIN cand ON cand.vec_id = ed.vec_id CROSS JOIN q)
           |SELECT vec_id,
           |  CASE WHEN na * qn.nq = 0 THEN 0.0 ELSE dot / (na * qn.nq) END AS cosine
           |FROM scored, qn ORDER BY cosine DESC, vec_id LIMIT $AnnIvfK""".stripMargin,
      "ann_ivf_knn" ->
        s"""$prefix,
           |qprobe AS (
           |  SELECT vec_id AS query_id, cell FROM ranked
           |  WHERE vec_id < 10 AND rk <= $AnnIvfKnnProbe),
           |corpus AS (
           |  SELECT vec_id AS neighbor_id, cell FROM ranked
           |  WHERE rk = 1 AND vec_id >= 10),
           |cand AS (
           |  SELECT q.query_id, c.neighbor_id FROM qprobe q JOIN corpus c USING (cell)),
           |scored AS (
           |  SELECT cd.query_id, cd.neighbor_id,
           |    CASE WHEN sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)) = 0
           |         THEN 0.0
           |         ELSE list_dot_product(ea.v, eb.v) /
           |              (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) END AS c
           |  FROM cand cd
           |  JOIN ed ea ON ea.vec_id = cd.query_id
           |  JOIN ed eb ON eb.vec_id = cd.neighbor_id),
           |rk AS (
           |  SELECT query_id, neighbor_id, c,
           |    CAST(row_number() OVER (
           |      PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS BIGINT) AS rank
           |  FROM scored)
           |SELECT query_id, neighbor_id, round(c, 6) AS cosine, rank
           |FROM rk WHERE rank <= $AnnIvfKnnK ORDER BY query_id, rank""".stripMargin)
  }

  /** Replay oracles for the hyperplane-LSH paths. dd_embed_lsh replays
    * the corpus-sized (bits, tables) of `sizes` ([[embLshSizes]], the
    * call the query makes) with the native kernel's own Rademacher plane
    * weights (±1 exactly representable; `VectorKernels.planeWeights`);
    * ann_lsh replays the margin-ranked bucket list `probes`.
    * Signature bits compare `dot >= 0` on bit-identical doubles; the bit
    * sum is integer arithmetic.
    */
  private def lshOracle(sizes: (Long, Int, Int), probes: Seq[Long]): Map[String, String] = {
    // One row per (table, bit) whose plane is a DOUBLE[] literal, flat
    // (table·bits + bit)·dim + j kernel layout. list_dot_product on
    // DOUBLE[] casts accumulates sequentially in double — verified
    // bit-identical to the kernel's ascending fold (and to the ordered-SUM
    // unnest form) — and keeps the replay O(vectors·planes + candidates)
    // instead of the per-pair ordered-SUM shape that exceeds the oracle
    // node's commit limit once τ=0.45 makes half of all pairs candidates.
    def kernelPlaneLists(tables: Int, bits: Int, seed: Long): String = {
      val w = graft.vector.expressions.VectorKernels.planeWeights(seed, tables, bits, 64)
      (0 until tables).iterator.flatMap { t =>
        (0 until bits).iterator.map { b =>
          val base = (t * bits + b) * 64
          val lst = (0 until 64).map(j => w(base + j).toDouble).mkString("[", ",", "]")
          s"($t,$b,CAST($lst AS DOUBLE[]))"
        }
      }.mkString(",")
    }
    val (_, bits, tables) = sizes
    val embedLshEntry = "dd_embed_lsh" ->
      s"""WITH planes AS (
         |  SELECT * FROM (VALUES ${kernelPlaneLists(tables, bits, 42L)})
         |  AS t(tbl, bit, pv)),
         |ed AS (
         |  SELECT vec_id, CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS v FROM embeddings),
         |sigs AS (
         |  SELECT ed.vec_id, p.tbl,
         |    CAST(SUM(CASE WHEN list_dot_product(ed.v, p.pv) >= 0
         |                  THEN CAST(1 AS BIGINT) << p.bit
         |                  ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
         |  FROM ed CROSS JOIN planes p GROUP BY ed.vec_id, p.tbl),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
         |  FROM sigs x JOIN sigs y
         |    ON x.tbl = y.tbl AND x.sig = y.sig AND x.vec_id < y.vec_id),
         |scored AS (
         |  SELECT c.a_id, c.b_id,
         |    CASE WHEN sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)) = 0
         |         THEN 0.0
         |         ELSE list_dot_product(ea.v, eb.v) /
         |              (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) END AS c
         |  FROM cand c
         |  JOIN ed ea ON ea.vec_id = c.a_id
         |  JOIN ed eb ON eb.vec_id = c.b_id)
         |SELECT a_id, b_id, c AS cosine FROM scored
         |WHERE c >= $EmbLshThreshold ORDER BY a_id, b_id""".stripMargin
    // the served index's Gaussian plane family, one DOUBLE[] per bit
    // (exact decimal renderings of the float weights)
    def gaussianPlaneLists(bits: Int, seed: Long): String = {
      val ps = graft.vector.Similarity.lshPlanes(64, bits, seed)
      ps.iterator.zipWithIndex.map { case (p, b) =>
        s"($b,CAST(${p.iterator.map(_.toDouble).mkString("[", ",", "]")} AS DOUBLE[]))"
      }.mkString(",")
    }
    val annLshEntry = "ann_lsh" ->
      s"""WITH planes AS (
         |  SELECT * FROM (VALUES ${gaussianPlaneLists(AnnLshBits, 42L)})
         |  AS t(bit, pv)),
         |ed AS (
         |  SELECT vec_id, CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS v
         |  FROM embeddings),
         |q AS (SELECT v AS qv FROM ed WHERE vec_id = 0),
         |qn AS (SELECT sqrt(list_dot_product(qv, qv)) AS nq FROM q),
         |sigs AS (
         |  SELECT ed.vec_id,
         |    CAST(SUM(CASE WHEN list_dot_product(ed.v, p.pv) >= 0
         |                  THEN CAST(1 AS BIGINT) << p.bit
         |                  ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
         |  FROM ed CROSS JOIN planes p GROUP BY ed.vec_id),
         |cand AS (
         |  SELECT vec_id FROM sigs
         |  WHERE sig IN (${probes.mkString(",")}) AND vec_id <> 0),
         |scored AS (
         |  SELECT ed.vec_id,
         |    list_dot_product(ed.v, q.qv) AS dot,
         |    sqrt(list_dot_product(ed.v, ed.v)) AS na
         |  FROM ed JOIN cand ON cand.vec_id = ed.vec_id CROSS JOIN q)
         |SELECT vec_id,
         |  CASE WHEN na * qn.nq = 0 THEN 0.0 ELSE dot / (na * qn.nq) END AS cosine
         |FROM scored, qn ORDER BY cosine DESC, vec_id LIMIT $AnnLshK""".stripMargin
    Map(embedLshEntry, annLshEntry)
  }

  /** The oracle entries that need no literals from the corpus. The
    * generated families ([[oracleFor]]) are added by Verify when it
    * writes `oracle_sql.json`.
    */
  val oracle: Map[String, String] = Map(
    // full MinHash-LSH replay — token/shingle/signature/band hashes all
    // reproduced bit-exactly via graft.functions.HashReplaySql
    "dd_minhash" -> graft.functions.HashReplaySql.minhashOracle(
      MinhashShingleN, MinhashK, MinhashBands, MinhashThreshold),

    // the end-to-end keep-list: composes the proven dd_clusters
    // (3-gram pairs + reachability), dd_decontam (4-gram overlap),
    // dd_exact (md5 keeper) and dd_split (md5 bucket) oracle fragments
    "dd_keepset" ->
      s"""WITH RECURSIVE raw AS (
         |  SELECT doc_id,
         |         unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS tok,
         |         generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
         |  FROM documents),
         |toks AS (
         |  SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
         |  FROM raw WHERE tok <> ''),
         |shn3 AS (
         |  SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS sh
         |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
         |sh3a AS (SELECT DISTINCT doc_id, sh FROM shn3 WHERE sh IS NOT NULL),
         |sh3 AS (SELECT doc_id, sh FROM sh3a
         |        QUALIFY count(*) OVER (PARTITION BY sh) <= $NgramMaxDf),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh3 GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
         |  FROM sh3 a JOIN sh3 b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |prs AS (
         |  SELECT a_id, b_id FROM inter
         |  JOIN sizes sa ON sa.doc_id = a_id
         |  JOIN sizes sb ON sb.doc_id = b_id
         |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= $JaccardThreshold),
         |edges AS (SELECT a_id AS u, b_id AS v FROM prs
         |          UNION SELECT b_id, a_id FROM prs),
         |reach AS (
         |  SELECT u, u AS comp FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT g.u, r.comp FROM edges g JOIN reach r ON g.v = r.u),
         |comp AS (SELECT u, min(comp) AS comp FROM reach GROUP BY u),
         |shn4 AS (
         |  SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w4 || ' ' || lead(tok, 2) OVER w4
         |           || ' ' || lead(tok, 3) OVER w4 AS sh
         |  FROM toks WINDOW w4 AS (PARTITION BY doc_id ORDER BY p)),
         |sh4 AS (SELECT DISTINCT doc_id, sh FROM shn4 WHERE sh IS NOT NULL),
         |contaminated AS (
         |  SELECT DISTINCT c.doc_id
         |  FROM sh4 c JOIN (SELECT sh FROM sh4 WHERE doc_id % 50 = 0) e ON c.sh = e.sh
         |  WHERE c.doc_id % 50 <> 0),
         |keepers AS (SELECT md5(text) AS h, min(doc_id) AS keep_id FROM documents GROUP BY 1),
         |exactf AS (
         |  SELECT d.doc_id, k.keep_id FROM documents d JOIN keepers k ON md5(d.text) = k.h),
         |splt AS (
         |  SELECT doc_id,
         |    CASE WHEN bucket < 8 THEN 'train' WHEN bucket < 9 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |          CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS INT) AS bucket
         |        FROM documents)),
         |verd AS (
         |  SELECT d.doc_id,
         |    CASE WHEN d.doc_id % 50 = 0 THEN 'eval_slice'
         |         WHEN s.split <> 'train' THEN 'holdout_split'
         |         WHEN e.keep_id <> d.doc_id THEN 'exact_dup'
         |         WHEN c.comp IS NOT NULL AND c.comp <> d.doc_id THEN 'near_dup'
         |         WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
         |         ELSE 'keep' END AS reason
         |  FROM documents d
         |  JOIN exactf e ON e.doc_id = d.doc_id
         |  LEFT JOIN comp c ON c.u = d.doc_id
         |  LEFT JOIN contaminated ct ON ct.doc_id = d.doc_id
         |  JOIN splt s ON s.doc_id = d.doc_id)
         |SELECT doc_id, reason,
         |  CAST(CASE WHEN reason = 'keep' THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM verd ORDER BY doc_id""".stripMargin,

    // SimHash replay — same token-hash prefix, per-bit votes, band LSH,
    // bit_count hamming
    "dd_simhash" -> graft.functions.HashReplaySql.simhashOracle(SimhashRadius),

    // deterministic KMV/bottom-k sketch replay
    "ev_sketch_det" -> graft.functions.HashReplaySql.kmvSketchOracle(
      SketchKDistinct, SketchKSample, SketchQuantiles),

    // the sketch verdict frame: exact counts are DuckDB's own; the
    // within-tolerance booleans are expected TRUE for every group — a
    // sketch drifting outside its error bound hash-mismatches the row
    "ev_sketch" ->
      """SELECT event_type,
        | count(*) AS n_events,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        | TRUE AS users_within_tol,
        | TRUE AS p50_within_tol,
        | TRUE AS p95_within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the multimodal decode is REAL (gray-8 PNG via ImageIO, 8-bit PCM
    // WAV via AudioSystem, PNG-framed GVF1 video — all lossless), and
    // because the fixture round-trips the text bytes through those
    // containers, the DECODED width/height/frame-count/sample-sum are
    // pure arithmetic over the source text: width = ceil(sqrt(n)) gray
    // pixels laid out by the encoder, sample_sum = the byte sum (ord()
    // equals the byte on the all-ASCII corpus, same argument as
    // txt_fingerprint). Video n_samples = decoded pixels across the
    // container's frames: full 4096-byte chunks decode as exact 64x64
    // rasters, the tail chunk as its own ceil(sqrt) layout, and an
    // empty payload still carries one 1x1 zero frame.
    "mm_features" ->
      """WITH media AS (
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio'
        |         ELSE 'video' END AS modality,
        |    strlen(text) AS n,
        |    coalesce(list_sum(list_transform(string_split(text, ''), x -> ord(x))), 0) AS s
        |  FROM documents),
        |dims AS (
        |  -- greatest(1, ...) mirrors the encoder's clamps: an empty doc
        |  -- still encodes to a 1x1 zero image. vw is the tail video
        |  -- frame's width over the tail chunk length
        |  SELECT media_id, modality, n, s,
        |    greatest(1, CAST(ceil(sqrt(CAST(n AS DOUBLE))) AS BIGINT)) AS w,
        |    greatest(1, CAST(ceil(sqrt(CAST(n % 4096 AS DOUBLE))) AS BIGINT)) AS vw
        |  FROM media)
        |SELECT media_id, modality,
        |  CAST(CASE WHEN modality = 'image' THEN w * greatest(1, (n + w - 1) // w)
        |            WHEN modality = 'audio' THEN n
        |            ELSE (n // 4096) * 4096 +
        |                 CASE WHEN n = 0 THEN 1
        |                      WHEN n % 4096 = 0 THEN 0
        |                      ELSE vw * ((n % 4096 + vw - 1) // vw) END
        |       END AS BIGINT) AS n_samples,
        |  CASE WHEN modality = 'image' THEN w END AS width,
        |  CASE WHEN modality = 'image' THEN greatest(1, (n + w - 1) // w) END AS height,
        |  CAST(s AS BIGINT) AS sample_sum
        |FROM dims ORDER BY media_id""".stripMargin,

    // FNV-1a replay, one recursive-CTE step per character. The Spark
    // kernel hashes UTF-8 BYTES while ord() yields code points — equal on
    // the all-ASCII corpus (asserted: the testdata matches [ -~]*); the
    // UBIGINT/HUGEINT dance emulates Java's wrapping 64-bit multiply, and
    // the final CASE maps the unsigned value back to two's-complement.
    "txt_fingerprint" ->
      """WITH RECURSIVE fnv AS (
        |  SELECT doc_id, text, 0 AS pos,
        |         CAST('14695981039346656037' AS UBIGINT) AS h
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, text, pos + 1,
        |    CAST((CAST(xor(h, CAST(ord(substring(text, pos + 1, 1)) AS UBIGINT)) AS HUGEINT)
        |          * 1099511628211) % CAST('18446744073709551616' AS HUGEINT) AS UBIGINT)
        |  FROM fnv WHERE pos < length(text))
        |SELECT doc_id,
        |  CAST(CASE WHEN h >= CAST('9223372036854775808' AS UBIGINT)
        |       THEN CAST(h AS HUGEINT) - CAST('18446744073709551616' AS HUGEINT)
        |       ELSE CAST(h AS HUGEINT) END AS BIGINT) AS fp
        |FROM fnv WHERE pos = length(text) ORDER BY doc_id""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4)) * CAST(1 + l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_charge,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_topk" ->
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '2000-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '2000-03-15 00:00:00'
        |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q5_region" ->
      """SELECT n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "w_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "ev_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_ns(ts) - epoch_ns(lag(ts) OVER w) > 1800000000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_idx
        |  FROM flagged)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |       min(epoch_ns(ts)) // 1000000000 AS start_sec,
        |       max(epoch_ns(ts)) // 1000000000 AS end_sec
        |FROM sess GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    "be_records_page" ->
      s"""WITH $R
         |SELECT reference, type, object_reference, pulse_number, "order",
         |       pulse_number || ':' || "order" AS idx
         |FROM records
         |WHERE pulse_number BETWEEN 473500 AND 473900
         |  AND (pulse_number < 473700 OR (pulse_number = 473700 AND "order" <= 5))
         |ORDER BY pulse_number DESC, "order" DESC, reference DESC LIMIT 100""".stripMargin,

    "be_lifeline" ->
      s"""WITH $R
         |SELECT reference, type, object_reference, pulse_number, "order",
         |       pulse_number || ':' || "order" AS idx
         |FROM records
         |WHERE object_reference = 7 AND type = 'state'
         |  AND (pulse_number > 473400 OR (pulse_number = 473400 AND "order" >= 1))
         |ORDER BY pulse_number, "order", reference LIMIT 50""".stripMargin,

    "be_lifeline_idx" ->
      s"""WITH $R
         |SELECT reference, type, object_reference, pulse_number, "order",
         |       pulse_number || ':' || "order" AS idx
         |FROM records
         |WHERE object_reference = 7 AND type = 'state'
         |ORDER BY pulse_number, "order", reference LIMIT 50""".stripMargin,

    "be_pulses_page" ->
      s"""WITH $R, $P
         |SELECT pulse_number,
         |  CASE WHEN lag(pulse_number) OVER w = pulse_number - 1
         |       THEN pulse_number - 1 ELSE -1 END AS prev_pulse_number,
         |  CASE WHEN lead(pulse_number) OVER w = pulse_number + 1
         |       THEN pulse_number + 1 ELSE -1 END AS next_pulse_number,
         |  jet_drop_amount, record_amount, "timestamp", is_complete, is_sequential
         |FROM pstat WINDOW w AS (ORDER BY pulse_number)
         |ORDER BY pulse_number DESC LIMIT 20""".stripMargin,

    "be_pulse_chain" ->
      s"""WITH $R, $P
         |SELECT pulse_number,
         |  CASE WHEN lag(pulse_number) OVER w = pulse_number - 1
         |       THEN pulse_number - 1 ELSE -1 END AS prev_pulse_number,
         |  CASE WHEN lead(pulse_number) OVER w = pulse_number + 1
         |       THEN pulse_number + 1 ELSE -1 END AS next_pulse_number,
         |  is_sequential
         |FROM pstat WINDOW w AS (ORDER BY pulse_number)
         |ORDER BY pulse_number""".stripMargin,

    "be_jet_drops_page" ->
      s"""WITH $R, $D
         |SELECT jet_id || ':' || pulse_number AS jet_drop_id,
         |       pulse_number, jet_id, record_amount, "timestamp", hash
         |FROM drops
         |WHERE pulse_number BETWEEN 473600 AND 473700 AND jet_id >= '010'
         |ORDER BY pulse_number, jet_id LIMIT 200""".stripMargin,

    "be_jet_tree" ->
      s"""WITH $R, $D
         |SELECT pulse_number, jet_id, record_amount
         |FROM drops
         |WHERE pulse_number BETWEEN 473400 AND 473800
         |  AND (jet_id LIKE '10%' OR jet_id IN ('1'))
         |ORDER BY pulse_number ASC, jet_id DESC LIMIT 300""".stripMargin,

    "be_records_total" ->
      s"""WITH $R
         |SELECT reference, pulse_number, "order",
         |       CAST(count(*) OVER () AS BIGINT) AS total
         |FROM records WHERE object_reference = 7
         |ORDER BY pulse_number DESC, "order" DESC, reference DESC LIMIT 10""".stripMargin,

    "be_pulses_total" ->
      s"""WITH $R, $P
         |SELECT pulse_number, "timestamp", record_amount,
         |       CAST(count(*) OVER () AS BIGINT) AS total
         |FROM pstat
         |WHERE "timestamp" BETWEEN 1704636000 AND 1704959999
         |ORDER BY pulse_number DESC LIMIT 10""".stripMargin,

    "be_drops_total" ->
      s"""WITH $R, $D
         |SELECT jet_id || ':' || pulse_number AS jet_drop_id, jet_id, record_amount,
         |       CAST(count(*) OVER () AS BIGINT) AS total
         |FROM drops WHERE pulse_number = 473650
         |ORDER BY jet_id LIMIT 5""".stripMargin,

    "be_pulses_offset" ->
      s"""WITH $R, $P
         |SELECT pulse_number, record_amount, jet_drop_amount
         |FROM pstat ORDER BY pulse_number LIMIT 15 OFFSET 30""".stripMargin,

    "be_missing_pulses" ->
      s"""WITH $R,
         |b AS (SELECT min(pulse_number) AS mn, max(pulse_number) AS mx FROM records),
         |expected AS (SELECT unnest(generate_series(mn, mx)) AS pulse_number FROM b),
         |present AS (SELECT DISTINCT pulse_number FROM records WHERE type = 'result')
         |SELECT e.pulse_number FROM expected e
         |LEFT JOIN present p USING (pulse_number)
         |WHERE p.pulse_number IS NULL ORDER BY e.pulse_number""".stripMargin,

    "be_completeness" ->
      s"""WITH $R, $P
         |SELECT pulse_number, is_complete, is_sequential FROM pstat
         |ORDER BY pulse_number""".stripMargin,

    "be_exporter_next" ->
      s"""WITH $R, $P
         |SELECT p.pulse_number, p.prev_pulse_number, c.record_amount
         |FROM pstat p
         |JOIN (SELECT pulse_number, count(*) AS record_amount FROM records
         |      WHERE event_type = 'purchase' GROUP BY pulse_number) c USING (pulse_number)
         |WHERE p.is_complete AND p.pulse_number > 473400
         |ORDER BY p.pulse_number LIMIT 1""".stripMargin,

    "be_jet_links" ->
      """WITH vdrops AS (
        |  SELECT pulse_number, jet_id, count(*) AS record_amount
        |  FROM (SELECT epoch_ns(ts) // 3600000000000 AS pulse_number,
        |               CAST(1 + ((user_id % 3) + 3) % 3 AS INT) AS depth,
        |               lpad(bin(((user_id % (1 << depth)) + (1 << depth)) % (1 << depth)),
        |                    depth, '0') AS jet_id
        |        FROM events)
        |  GROUP BY 1, 2),
        |page AS (SELECT * FROM vdrops WHERE pulse_number BETWEEN 473500 AND 473520),
        |wp AS (
        |  SELECT d.pulse_number, d.jet_id, d.record_amount, count(n.jet_id) AS prev_count
        |  FROM page d LEFT JOIN vdrops n
        |    ON n.pulse_number = d.pulse_number - 1
        |   AND (n.jet_id = d.jet_id
        |     OR n.jet_id = CASE WHEN length(d.jet_id) <= 1 THEN '' ELSE substring(d.jet_id, 1, length(d.jet_id) - 1) END
        |     OR n.jet_id = d.jet_id || '0' OR n.jet_id = d.jet_id || '1')
        |  GROUP BY d.pulse_number, d.jet_id, d.record_amount)
        |SELECT w.pulse_number, w.jet_id, w.record_amount, w.prev_count,
        |       count(m.jet_id) AS next_count
        |FROM wp w LEFT JOIN vdrops m
        |  ON m.pulse_number = w.pulse_number + 1
        | AND (m.jet_id = w.jet_id
        |   OR m.jet_id = CASE WHEN length(w.jet_id) <= 1 THEN '' ELSE substring(w.jet_id, 1, length(w.jet_id) - 1) END
        |   OR m.jet_id = w.jet_id || '0' OR m.jet_id = w.jet_id || '1')
        |GROUP BY w.pulse_number, w.jet_id, w.record_amount, w.prev_count
        |ORDER BY w.pulse_number, w.jet_id""".stripMargin,

    "be_jet_links_hash" ->
      s"""WITH $R, $D,
         |p AS (SELECT jet_id || ':' || pulse_number AS jet_drop_id, *
         |      FROM drops WHERE pulse_number BETWEEN 473600 AND 473610),
         |nbr AS (SELECT jet_id || ':' || pulse_number AS nid, hash, first_prev_hash
         |        FROM drops WHERE pulse_number BETWEEN 473599 AND 473611),
         |nx AS (SELECT p.jet_drop_id, string_agg(n.nid, ',' ORDER BY n.nid) AS next_ids
         |       FROM p JOIN nbr n ON n.first_prev_hash = p.hash GROUP BY p.jet_drop_id),
         |pv AS (SELECT p.jet_drop_id, string_agg(n.nid, ',' ORDER BY n.nid) AS prev_ids
         |       FROM p JOIN nbr n ON p.first_prev_hash = n.hash OR p.second_prev_hash = n.hash
         |       GROUP BY p.jet_drop_id)
         |SELECT p.jet_drop_id, p.pulse_number, p.jet_id,
         |       coalesce(pv.prev_ids, '') AS prev_ids,
         |       coalesce(nx.next_ids, '') AS next_ids
         |FROM p LEFT JOIN nx USING (jet_drop_id) LEFT JOIN pv USING (jet_drop_id)
         |ORDER BY p.pulse_number, p.jet_id""".stripMargin,

    "dd_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin,

    "dd_clusters" ->
      """WITH RECURSIVE raw AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
        |  FROM raw WHERE tok <> ''),
        |shn AS (
        |  SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS sh
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
        |sh0 AS (SELECT DISTINCT doc_id, sh FROM shn WHERE sh IS NOT NULL),
        |sh AS (SELECT doc_id, sh FROM sh0
        |       QUALIFY count(*) OVER (PARTITION BY sh) <= 64),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS (
        |  SELECT a_id, b_id FROM inter
        |  JOIN sizes sa ON sa.doc_id = a_id
        |  JOIN sizes sb ON sb.doc_id = b_id
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
        |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
        |          UNION SELECT b_id, a_id FROM pairs),
        |reach AS (
        |  SELECT u, u AS comp FROM (SELECT DISTINCT u FROM edges)
        |  UNION
        |  SELECT e.u, r.comp FROM edges e JOIN reach r ON e.v = r.u)
        |SELECT u AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY u
        |ORDER BY doc_id""".stripMargin,

    "dd_incremental" ->
      """WITH idx AS (
        |  SELECT md5(text) AS content_hash FROM documents WHERE source <> 'src0' GROUP BY 1),
        |batch AS (
        |  SELECT doc_id, md5(text) AS content_hash,
        |    CASE WHEN row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) > 1
        |         THEN 1 ELSE 0 END AS dup_batch
        |  FROM documents WHERE source = 'src0')
        |SELECT b.doc_id,
        |  CAST(CASE WHEN i.content_hash IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS dup_corpus,
        |  CAST(b.dup_batch AS BIGINT) AS dup_batch,
        |  CAST(CASE WHEN i.content_hash IS NULL AND b.dup_batch = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM batch b LEFT JOIN idx i USING (content_hash)
        |ORDER BY b.doc_id""".stripMargin,

    "dd_ngram_jaccard" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
        |  FROM raw WHERE tok <> ''),
        |shn AS (
        |  SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS sh
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
        |sh0 AS (SELECT DISTINCT doc_id, sh FROM shn WHERE sh IS NOT NULL),
        |sh AS (SELECT doc_id, sh FROM sh0
        |       QUALIFY count(*) OVER (PARTITION BY sh) <= 64),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT a_id, b_id, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = a_id
        |JOIN sizes sb ON sb.doc_id = b_id
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,

    "txt_stats" ->
      """SELECT doc_id,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tokens,
        | CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS BIGINT) AS n_upper,
        | CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        | CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS BIGINT) AS n_punct
        |FROM documents ORDER BY doc_id""".stripMargin,

    "txt_quality" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS DOUBLE) AS len,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks,
        |    length(regexp_replace(trim(text), '\s+', '', 'g')) AS nonws,
        |    length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS np,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS nd,
        |    length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS nu
        |  FROM documents)
        |SELECT doc_id,
        |  (  CASE WHEN toks >= 5 THEN 1.0 ELSE 0.0 END
        |   + CASE WHEN (CASE WHEN toks = 0 THEN 0.0 ELSE CAST(nonws AS DOUBLE) / toks END)
        |          BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END
        |   + CASE WHEN (CASE WHEN len = 0 THEN 0.0 ELSE np / len END) < 0.3 THEN 1.0 ELSE 0.0 END
        |   + CASE WHEN (CASE WHEN len = 0 THEN 0.0 ELSE nd / len END) < 0.3 THEN 1.0 ELSE 0.0 END
        |   + CASE WHEN (CASE WHEN len = 0 THEN 0.0 ELSE nu / len END) < 0.4 THEN 1.0 ELSE 0.0 END
        |  ) / 5 AS quality
        |FROM f ORDER BY doc_id""".stripMargin,

    "txt_langid" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
        |  FROM documents),
        |cnt AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN tok IN ('the','and','of','to','a','in','is','that','it','for') THEN 1 ELSE 0 END) AS BIGINT) AS en,
        |    CAST(sum(CASE WHEN tok IN ('der','die','das','und','ist','nicht','ein','mit','von','zu') THEN 1 ELSE 0 END) AS BIGINT) AS de,
        |    CAST(sum(CASE WHEN tok IN ('le','la','les','et','est','une','des','dans','que','pour') THEN 1 ELSE 0 END) AS BIGINT) AS fr,
        |    CAST(sum(CASE WHEN tok IN ('el','la','los','y','es','una','del','en','que','por') THEN 1 ELSE 0 END) AS BIGINT) AS es
        |  FROM toks GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN coalesce(greatest(en, de, fr, es), 0) = 0 THEN 'und'
        |       WHEN fr >= es AND fr >= en AND fr >= de THEN 'fr'
        |       WHEN es >= en AND es >= de THEN 'es'
        |       WHEN en >= de THEN 'en'
        |       ELSE 'de' END AS lang_pred
        |FROM documents d LEFT JOIN cnt ON cnt.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "ann_topk" ->
      """WITH ed AS (
        |  SELECT vec_id, CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS v
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM ed WHERE vec_id = 0),
        |scored AS (
        |  SELECT ed.vec_id,
        |    CASE WHEN sqrt(list_dot_product(ed.v, ed.v)) * sqrt(list_dot_product(q.qv, q.qv)) = 0
        |         THEN 0.0
        |         ELSE list_dot_product(ed.v, q.qv) /
        |              (sqrt(list_dot_product(ed.v, ed.v)) * sqrt(list_dot_product(q.qv, q.qv))) END AS c
        |  FROM ed CROSS JOIN q WHERE ed.vec_id <> 0)
        |SELECT vec_id, round(c, 6) AS cosine FROM scored
        |ORDER BY c DESC, vec_id LIMIT 10""".stripMargin,

    "ann_knn" ->
      """WITH ed AS (
        |  SELECT vec_id, CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS v
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |    CASE WHEN sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v)) = 0
        |         THEN 0.0
        |         ELSE list_dot_product(e.v, q.v) /
        |              (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v))) END AS c
        |  FROM ed q JOIN ed e ON q.vec_id < 10 AND e.vec_id >= 10),
        |ranked AS (
        |  SELECT query_id, neighbor_id, c,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT query_id, neighbor_id, round(c, 6) AS cosine, rank
        |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    "txt_tokens_est" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
        |  FROM documents),
        |wt AS (
        |  SELECT doc_id, CAST(sum(CAST(ceil(length(tok) / 4.0) AS BIGINT)) AS BIGINT) AS word_toks
        |  FROM toks GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(word_toks, 0) + length(text)
        |       - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS BIGINT) AS token_estimate
        |FROM documents d LEFT JOIN wt USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    "dd_split" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS INT) AS bucket
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN bucket < 8 THEN 'train'
        |       WHEN bucket < 9 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    "dd_stratified" ->
      """WITH t1 AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN toks >= 120 THEN 'long'
        |         WHEN toks >= 60 THEN 'mid' ELSE 'short' END AS stratum,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS bucket
        |  FROM t1)
        |SELECT doc_id, stratum FROM s
        |WHERE CASE stratum WHEN 'long' THEN bucket < 10000
        |                   WHEN 'mid' THEN bucket < 5000
        |                   ELSE bucket < 1000 END
        |ORDER BY doc_id""".stripMargin,

    "dd_pack" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS bucket
        |  FROM toks),
        |c AS (
        |  SELECT doc_id, bucket, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY bucket
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM b)
        |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
        |       CAST(bucket * 4294967296 + (cum - n_tokens) // 2000 AS BIGINT) AS shard,
        |       n_tokens
        |FROM c ORDER BY doc_id""".stripMargin,

    // all-pairs over the bounded slice in list_dot_product form (the
    // same bit-exact ascending double fold as the unnest + ordered-SUM
    // shape it replaced, minus the per-pair sorted-group buffers that
    // timed the replay out at sf1)
    "dd_embed" ->
      s"""WITH ed AS (
        |  SELECT vec_id, CAST(CAST(embedding AS FLOAT[]) AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 2000),
        |scored AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    CASE WHEN sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) = 0
        |         THEN 0.0
        |         ELSE list_dot_product(a.v, b.v) /
        |              (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) END AS c
        |  FROM ed a JOIN ed b ON a.vec_id < b.vec_id)
        |SELECT a_id, b_id, round(c, 6) AS cosine FROM scored
        |WHERE c >= $EmbLshThreshold ORDER BY a_id, b_id""".stripMargin,

    "ev_asof" ->
      """SELECT l.event_id, l.user_id,
        |       epoch_ns(l.ts) // 1000000000 AS ts_sec,
        |       r.err_id,
        |       epoch_ns(r.err_ts) // 1000000000 AS err_ts_sec
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type <> 'error') l
        |ASOF LEFT JOIN (SELECT event_id AS err_id, user_id, ts AS err_ts
        |                FROM events WHERE event_type = 'error') r
        |  ON l.user_id = r.user_id AND l.ts >= r.err_ts
        |ORDER BY l.event_id""".stripMargin,

    "ev_funnel" ->
      """WITH t1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view'
        |  GROUP BY user_id),
        |t2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN t1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN t2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY e.user_id)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t3.t3 IS NOT NULL THEN 3 WHEN t2.t2 IS NOT NULL THEN 2
        |            WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage,
        |  epoch_ns(t1.t1) // 1000000000 AS view_sec,
        |  epoch_ns(t2.t2) // 1000000000 AS click_sec,
        |  epoch_ns(t3.t3) // 1000000000 AS purchase_sec
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN t1 USING (user_id)
        |LEFT JOIN t2 USING (user_id)
        |LEFT JOIN t3 USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        | count(*) AS n_rows,
        | CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,

    "w_cume" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER wall AS DOUBLE) AS run_total,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w3 AS DOUBLE) / count(*) OVER w3 AS mavg3,
        | CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS seq
        |FROM orders
        |WINDOW wall AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |       w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, seq""".stripMargin,

    "ev_windowed" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
        | count(*) AS n_events,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        | (epoch_ns(ts) // 3600000000000) * 3600 AS hour_start_sec
        |FROM events GROUP BY 1, 2, 6 ORDER BY 1, 2""".stripMargin,

    "ev_retention" ->
      """WITH ev AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
        |cohort AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id)
        |SELECT c.cohort_day, e.day - c.cohort_day AS day_offset,
        | CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM ev e JOIN cohort c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ev_err_context" ->
      """SELECT e.event_id AS err_id, count(v.v_ts) AS n_views_5m
        |FROM (SELECT event_id, user_id, epoch_ns(ts) AS err_ts FROM events
        |      WHERE event_type = 'error') e
        |LEFT JOIN (SELECT user_id, epoch_ns(ts) AS v_ts FROM events
        |           WHERE event_type = 'view') v
        |  ON e.user_id = v.user_id AND v.v_ts < e.err_ts
        | AND v.v_ts >= e.err_ts - 300000000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "txt_filter" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS DOUBLE) AS len,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS toks,
        |    length(regexp_replace(trim(text), '\s+', '', 'g')) AS nonws,
        |    length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS np,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS nd,
        |    length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS nu
        |  FROM documents),
        |raw AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
        |  FROM raw WHERE tok <> ''),
        |tk AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |              count(DISTINCT tok) AS n_distinct
        |       FROM toks GROUP BY doc_id),
        |big AS (SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w AS sh
        |        FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
        |cnt AS (SELECT doc_id, sh, count(*) AS c FROM big WHERE sh IS NOT NULL
        |        GROUP BY doc_id, sh),
        |top AS (SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS total,
        |               row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, sh DESC) AS rn
        |        FROM cnt),
        |rep AS (SELECT d.doc_id,
        |  CASE WHEN coalesce(tk.n_tokens, 0) = 0 THEN 0.0
        |       ELSE CAST(tk.n_distinct AS DOUBLE) / tk.n_tokens END AS distinct_ratio,
        |  coalesce(CAST(t.c AS DOUBLE) / t.total, 0.0) AS top_bigram_frac
        |  FROM documents d
        |  LEFT JOIN tk USING (doc_id)
        |  LEFT JOIN (SELECT * FROM top WHERE rn = 1) t USING (doc_id)),
        |rules AS (
        |  SELECT f.doc_id,
        |    CASE WHEN f.toks >= 5 THEN 1 ELSE 0 END AS r_min_tokens,
        |    CASE WHEN (CASE WHEN f.toks = 0 THEN 0.0 ELSE CAST(f.nonws AS DOUBLE) / f.toks END)
        |         BETWEEN 2.0 AND 12.0 THEN 1 ELSE 0 END AS r_word_len,
        |    CASE WHEN (CASE WHEN f.len = 0 THEN 0.0 ELSE f.np / f.len END) < 0.3 THEN 1 ELSE 0 END AS r_punct,
        |    CASE WHEN (CASE WHEN f.len = 0 THEN 0.0 ELSE f.nd / f.len END) < 0.3 THEN 1 ELSE 0 END AS r_digit,
        |    CASE WHEN (CASE WHEN f.len = 0 THEN 0.0 ELSE f.nu / f.len END) < 0.4 THEN 1 ELSE 0 END AS r_upper,
        |    CASE WHEN rep.top_bigram_frac <= 0.2 THEN 1 ELSE 0 END AS r_repetition,
        |    CASE WHEN rep.distinct_ratio >= 0.3 THEN 1 ELSE 0 END AS r_distinct
        |  FROM f JOIN rep ON f.doc_id = rep.doc_id)
        |SELECT doc_id,
        |  CAST(r_min_tokens AS BIGINT) AS r_min_tokens, CAST(r_word_len AS BIGINT) AS r_word_len,
        |  CAST(r_punct AS BIGINT) AS r_punct, CAST(r_digit AS BIGINT) AS r_digit,
        |  CAST(r_upper AS BIGINT) AS r_upper, CAST(r_repetition AS BIGINT) AS r_repetition,
        |  CAST(r_distinct AS BIGINT) AS r_distinct,
        |  CAST(r_min_tokens * r_word_len * r_punct * r_digit * r_upper * r_repetition * r_distinct AS BIGINT) AS keep,
        |  concat_ws(',',
        |    CASE WHEN r_min_tokens = 0 THEN 'min_tokens' END,
        |    CASE WHEN r_word_len = 0 THEN 'word_len' END,
        |    CASE WHEN r_punct = 0 THEN 'punct' END,
        |    CASE WHEN r_digit = 0 THEN 'digit' END,
        |    CASE WHEN r_upper = 0 THEN 'upper' END,
        |    CASE WHEN r_repetition = 0 THEN 'repetition' END,
        |    CASE WHEN r_distinct = 0 THEN 'distinct' END) AS reasons
        |FROM rules ORDER BY doc_id""".stripMargin,

    "txt_idf" ->
      """WITH raw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |tok AS (SELECT DISTINCT doc_id, token FROM raw WHERE token <> ''),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT token, count(*) AS df, n.n_docs,
        | CAST(count(*) AS DOUBLE) / CAST(n.n_docs AS DOUBLE) AS df_share
        |FROM tok, n GROUP BY token, n.n_docs
        |ORDER BY df DESC, token LIMIT 50""".stripMargin,

    "ev_user_stats" ->
      """SELECT event_type,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ev_json_agg" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "dd_decontam" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
        |  FROM raw WHERE tok <> ''),
        |shn AS (
        |  SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
        |           || ' ' || lead(tok, 3) OVER w AS sh
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
        |sh AS (SELECT DISTINCT doc_id, sh FROM shn WHERE sh IS NOT NULL),
        |ev AS (SELECT doc_id AS eval_id, sh FROM sh WHERE doc_id % 50 = 0)
        |SELECT c.doc_id,
        |       CAST(count(DISTINCT c.sh) AS BIGINT) AS n_hit_ngrams,
        |       CAST(count(DISTINCT e.eval_id) AS BIGINT) AS n_eval_docs
        |FROM sh c JOIN ev e ON c.sh = e.sh AND c.doc_id % 50 <> 0
        |GROUP BY c.doc_id ORDER BY doc_id""".stripMargin,

    "txt_repetition" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS tok,
        |         generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
        |  FROM raw WHERE tok <> ''),
        |tk AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |              count(DISTINCT tok) AS n_distinct
        |       FROM toks GROUP BY doc_id),
        |big AS (SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w AS sh
        |        FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
        |cnt AS (SELECT doc_id, sh, count(*) AS c FROM big WHERE sh IS NOT NULL
        |        GROUP BY doc_id, sh),
        |top AS (SELECT doc_id, sh, c, sum(c) OVER (PARTITION BY doc_id) AS total,
        |               row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, sh DESC) AS rn
        |        FROM cnt)
        |SELECT d.doc_id,
        |  coalesce(tk.n_tokens, 0) AS n_tokens,
        |  CASE WHEN coalesce(tk.n_tokens, 0) = 0 THEN 0.0
        |       ELSE CAST(tk.n_distinct AS DOUBLE) / tk.n_tokens END AS distinct_ratio,
        |  coalesce(t.sh, '') AS top_bigram,
        |  coalesce(CAST(t.c AS DOUBLE) / t.total, 0.0) AS top_bigram_frac
        |FROM documents d
        |LEFT JOIN tk USING (doc_id)
        |LEFT JOIN (SELECT * FROM top WHERE rn = 1) t USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "txt_mix" ->
      """WITH cell AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |         CAST(sum(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |                                  x -> x <> ''))) AS BIGINT) AS total_tokens
        |  FROM documents GROUP BY source, lang)
        |SELECT source, lang, n_docs, total_chars, total_tokens,
        |       CAST(total_tokens AS DOUBLE) / sum(total_tokens) OVER () AS token_share
        |FROM cell ORDER BY source, lang""".stripMargin,

    "emb_quant" ->
      """WITH e AS (
        |  SELECT vec_id, unnest(CAST(embedding AS FLOAT[])) AS v,
        |         generate_subscripts(embedding, 1) - 1 AS i
        |  FROM embeddings),
        |s AS (SELECT vec_id, max(abs(CAST(v AS DOUBLE))) AS mx FROM e GROUP BY vec_id)
        |SELECT e.vec_id, CAST(e.i AS BIGINT) AS dim_i,
        |       CAST(CASE WHEN s.mx = 0 THEN 0
        |                 ELSE floor(CAST(e.v AS DOUBLE) * (127.0 / s.mx)) END AS BIGINT) AS q
        |FROM e JOIN s USING (vec_id)
        |ORDER BY vec_id, dim_i""".stripMargin,

    "emb_centroids" ->
      """WITH e AS (
        |  SELECT label, vec_id, unnest(CAST(embedding AS FLOAT[])) AS v,
        |         generate_subscripts(embedding, 1) - 1 AS i
        |  FROM embeddings)
        |SELECT label, CAST(i AS BIGINT) AS dim_i,
        |       sum(CAST(v AS DOUBLE) ORDER BY vec_id) / count(*) AS centroid
        |FROM e GROUP BY label, i
        |ORDER BY label, dim_i""".stripMargin,

    // GVF1 frame sampling replay: frame count = ceil(bytes/4096) with an
    // empty payload still carrying one frame; every 10th frame sampled,
    // at most 16; a sampled frame's decoded dims are 64x64 for full
    // chunks and the tail chunk's own ceil(sqrt) layout — the same
    // arithmetic the encoder's PNG IHDRs carry, which is what the Spark
    // side reads back from the REAL container bytes.
    "mm_frames" ->
      """WITH media AS (
        |  SELECT doc_id AS media_id, strlen(text) AS n
        |  -- NOT IN (0,1), not "= 2": both engines' % keeps the dividend's
        |  -- sign, and the Scala side's fall-through arm classifies a
        |  -- NEGATIVE doc_id (% of -1/-2) as video too
        |  FROM documents WHERE doc_id % 3 NOT IN (0, 1)),
        |m AS (
        |  SELECT media_id, n, greatest(1, (n + 4095) // 4096) AS nf FROM media),
        |f AS (
        |  SELECT media_id, n, nf,
        |         unnest(generate_series(0, CAST(nf - 1 AS BIGINT), 10)) AS j
        |  FROM m),
        |lim AS (
        |  SELECT *, row_number() OVER (PARTITION BY media_id ORDER BY j) AS rn
        |  FROM f),
        |d AS (
        |  SELECT media_id, j AS frame_idx, nf,
        |    CASE WHEN n = 0 THEN 0
        |         WHEN j < n // 4096 THEN 4096
        |         ELSE n % 4096 END AS len
        |  FROM lim WHERE rn <= 16),
        |w AS (
        |  SELECT *, greatest(1, CAST(ceil(sqrt(CAST(len AS DOUBLE))) AS BIGINT)) AS fw
        |  FROM d)
        |SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(nf AS BIGINT) AS n_frames, CAST(fw AS BIGINT) AS frame_w,
        |  CAST(greatest(1, (len + fw - 1) // fw) AS BIGINT) AS frame_h
        |FROM w ORDER BY media_id, frame_idx""".stripMargin
  )
}
