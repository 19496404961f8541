package graft

import org.apache.spark.sql.functions._

/** Bounds for the approximate (rows-only) catalog queries against their
  * exact twins on the real testdata — converts "no oracle" into a checked
  * invariant: approximations must be SUBSETS of (or within tolerance of)
  * the exact answers, with quantified recall.
  */
class RecallInvariantsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("a_id").cast("long"), col("b_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("dd_minhash pairs are a subset of exact n-gram Jaccard pairs with recall >= 0.9") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // Exact twin WITHOUT the stop-shingle cap: minhash verifies true
    // (uncapped) Jaccard, so the uncapped exact set is the ground truth.
    val sh = graft.text.Dedup.shingleRows(docs, "doc_id", "text", 3)
      .withColumnRenamed("id", "doc_id")
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val exact = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), Seq("b_id"))
      .filter(col("i").cast("double") / (col("na") + col("nb") - col("i")) >= 0.5)
    val exactPairs = pairSet(exact)
    val mh = pairSet(graft.text.Dedup.minhashPairs(docs, threshold = 0.5))
    assert(mh.subsetOf(exactPairs),
      s"minhash produced non-duplicate pairs: ${mh.diff(exactPairs).take(5)}")
    assert(exactPairs.nonEmpty, "testdata must contain planted near-dups")
    val recall = mh.size.toDouble / exactPairs.size
    assert(recall >= 0.9, s"minhash recall $recall < 0.9 (${mh.size}/${exactPairs.size})")
  }

  test("dd_embed_lsh pairs are a subset of exact cosine pairs with recall >= 0.9") {
    // Compare the CATALOG queries (tables sized by tablesFor for τ=0.45)
    // against the exact all-pairs twin on the same corpus slice.
    val exact = pairSet(Queries.catalog("dd_embed")(spark, dir))
    val lsh = pairSet(Queries.catalog("dd_embed_lsh")(spark, dir))
    assert(lsh.subsetOf(exact), s"LSH produced pairs below threshold: ${lsh.diff(exact).take(5)}")
    assert(exact.nonEmpty, "testdata must contain planted embedding near-dups")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"embedding-LSH recall $recall < 0.9 (${lsh.size}/${exact.size})")
  }

  test("dd_embed_lsh oracle replays exactly the corpus-sized geometry the " +
      "query ran with") {
    // the catalog row sizes (bits, tables) with Queries.embLshSizes, and
    // the generated replay must interpolate the same sizes — one plane
    // row per (table, bit), each a dim-64 DOUBLE[] literal
    val (n, bits, tables) = Queries.embLshSizes(spark, dir)
    assert(n == spark.read.parquet(s"$dir/embeddings.parquet").count(),
      "the footer corpus size must equal the table's row count")
    assert(bits == graft.vector.CosineDedup.bitsFor(
      n, Queries.EmbLshThreshold, Queries.EmbLshTargetRecall, dim = 64),
      "bits must equal the deterministic corpus-sized choice")
    assert(tables == graft.vector.CosineDedup.tablesFor(
      Queries.EmbLshThreshold, bits, Queries.EmbLshTargetRecall),
      "tables must equal the recall-holding choice")
    // count the oracle's plane rows by their full (table,bit,CAST([ shape
    // so an unrelated DOUBLE[] literal added to this oracle later cannot
    // inflate the count (ADVICE r15)
    val sql = Queries.oracleFor(spark, dir).getOrElse("dd_embed_lsh",
      fail("dd_embed_lsh oracle absent"))
    val planeRows = "\\(\\d+,\\s*\\d+,\\s*CAST\\(\\[".r.findAllIn(sql).length
    assert(planeRows == tables * bits,
      s"oracle has $planeRows plane rows, query ran ${tables}x$bits")
  }

  test("ev_sketch verdict frame: every sketch lands inside its error bound") {
    // the query ITSELF now carries the tolerance verdicts (the oracle
    // expects TRUE per group); assert them here too, plus that the exact
    // columns agree with the independently-computed ev_user_stats
    val rows = Queries.catalog("ev_sketch")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val et = r.getAs[String]("event_type")
      assert(r.getAs[Boolean]("users_within_tol"), s"$et: HLL outside 15% of exact")
      assert(r.getAs[Boolean]("p50_within_tol"), s"$et: approx p50 outside the 45-55% rank window")
      assert(r.getAs[Boolean]("p95_within_tol"), s"$et: approx p95 outside the 93-97% rank window")
    }
    val exact = Queries.catalog("ev_user_stats")(spark, dir)
      .select("event_type", "n_users", "n_events").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.foreach { r =>
      val (users, events) = exact(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("exact_users") == users)
      assert(r.getAs[Long]("n_events") == events)
    }
  }

  test("ann_ivf_knn batch join recall against the exact kNN join") {
    def byQuery(name: String): Map[Long, Set[Long]] =
      Queries.catalog(name)(spark, dir)
        .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = byQuery("ann_knn")
    val approx = byQuery("ann_ivf_knn")
    assert(exact.nonEmpty && exact.keySet == approx.keySet,
      "every query must produce neighbors")
    val recalls = exact.map { case (q, ex) => approx(q).intersect(ex).size.toDouble / ex.size }
    val mean = recalls.sum / recalls.size
    info(s"ann_ivf_knn mean recall@3 = $mean")
    // nProbe=8/16 cells ≈ half the corpus read; top-3 at these weak
    // cosines (0.28-0.37, near the 64-dim noise floor) is harder than
    // ann_ivf's top-10 — measured 0.67 here vs 0.5 at nProbe=6.
    assert(mean >= 0.6, s"batch IVF kNN mean recall $mean < 0.6")
  }

  test("ann_ivf recall >= 0.8 and ann_lsh recall >= 0.5 against brute-force top-10") {
    // The query vector's true top-10 sit at cosine 0.28-0.37 on this data —
    // barely above the 64-dim random background (σ≈0.125) — so pruning and
    // recall trade off steeply. Measured probe curves: IVF reaches
    // 0.8 reading ~34% (nProbe=6/16 cells); single-table hyperplane LSH
    // tops out near 0.7 even reading half the corpus, so its catalog
    // config keeps honest 4× pruning and is bounded at 0.5 here instead —
    // ann_ivf is the ≥0.8 scale path.
    val exact = Queries.catalog("ann_topk")(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    for ((name, floor) <- Seq("ann_lsh" -> 0.5, "ann_ivf" -> 0.8)) {
      val approx = Queries.catalog(name)(spark, dir)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val recall = approx.intersect(exact).size.toDouble / exact.size
      assert(recall >= floor, s"$name recall $recall < $floor ($approx vs $exact)")
    }
  }

  test("dd_simhash pairs all have hamming distance within the radius and cover exact dups") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val pairs = graft.text.Dedup.simhashPairs(docs, radius = 3)
    val bad = pairs.filter(col("hamming") > 3).count()
    assert(bad == 0, "simhashPairs must respect the radius")
    assert(pairs.count() > 0)
    // the coverage HALF of the title, actually computed: identical texts
    // have identical fingerprints, so every exact-dup pair (same text,
    // distinct ids) must appear in the output at hamming 0 — a banding
    // bug that drops distance-0 pairs while keeping some near-dups would
    // otherwise pass on count()>0 alone
    // the coverage HALF of the title, made deterministic by PLANTING an
    // exact duplicate (this sf has near-dups, not byte-identical texts):
    // an identical text fingerprints identically, so the planted pair
    // MUST come back at hamming 0 — a banding bug that drops distance-0
    // pairs while keeping some near-dups would otherwise pass on
    // count()>0 alone
    val base = docs.select(col("doc_id"), col("text"))
    val first = base.orderBy("doc_id").head()
    val dupId = 999999999L
    val dup = spark.createDataFrame(java.util.Arrays.asList(
      org.apache.spark.sql.Row(dupId, first.getString(1))), base.schema)
    val planted = graft.text.Dedup.simhashPairs(base.union(dup), radius = 3)
      .filter(col("hamming") === 0 &&
        col("a_id") === first.getLong(0) && col("b_id") === dupId)
    assert(planted.count() == 1,
      "a planted exact duplicate must surface as a hamming-0 pair")
  }

  test("txt_fingerprint is deterministic and collision-consistent with exact dedup") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val fp = Queries.catalog("txt_fingerprint")(spark, dir)
    // same text → same fingerprint: group by text, count distinct fps
    val inconsistent = docs.join(fp, "doc_id")
      .groupBy(col("text")).agg(countDistinct(col("fp")).as("nfp"))
      .filter(col("nfp") > 1).count()
    assert(inconsistent == 0)
  }
}
