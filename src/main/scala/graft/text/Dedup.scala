package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text corpora.
  *
  * Four tiers, all shuffle-shaped for 100 TB:
  *  - exact: one hash-partitioned groupBy on a 64-bit content hash — the
  *    canonical "map-side combine then shuffle tiny digests" pattern; the
  *    full text never shuffles, only (hash, id).
  *  - MinHash + LSH: shingles → K-wide signature → b bands; only band
  *    buckets with >1 member produce candidate pairs, so the self-join is
  *    on bucket keys (bounded fan-out), never all-pairs.
  *  - SimHash: 64-bit near-dup fingerprint; hamming-ball grouping by
  *    rotated prefix bands.
  *  - exact n-gram Jaccard: verification kernel used on LSH candidates.
  *
  * Everything except the SimHash bit-twiddling is pure Catalyst column
  * algebra (codegen'd, null-safe); SimHash is one scalar UDF over a token
  * array.
  */
object Dedup {

  // ---------- exact ----------

  /** Exact dedup: keep the smallest id per identical text. Shuffles only
    * (hash, id) pairs, not the documents.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), xxhash64(col(textCol)).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Ids to drop (everything but the keeper of each duplicate class). */
  def exactDropList(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val keep = exact(docs, idCol, textCol).filter(col("n_copies") > 1)
    docs.select(col(idCol), xxhash64(col(textCol)).as("content_hash"))
      .join(keep, "content_hash")
      .filter(col(idCol) =!= col("keep_id"))
      .select(col(idCol).as("drop_id"), col("keep_id"))
  }

  // ---------- incremental (batch-vs-standing-corpus) ----------

  /** Persist the corpus content-hash set (one row per distinct hash, with
    * its keeper id) — the standing index incremental dedup joins against.
    * At 100 TB you never re-hash the corpus per arriving batch: the index
    * is maintained once (append the kept hashes of each admitted batch)
    * and each increment joins only its OWN hashes against it. md5 keys
    * match the DuckDB oracle bit-for-bit.
    */
  def ensureHashIndex(
      corpus: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): Unit =
    // IN-PLACE commit protocol (cached positive marker, per-path build
    // lock), NOT the tmp+rename one: the index is append-able — batch=N
    // partitions admitted by appendHashBatch may already exist under this
    // path and must survive the base build. appendHashBatch is
    // write-idempotent (dynamic overwrite of its own partition), so a
    // crashed retry rewrites batch 0 to the same bytes before the marker
    // lands.
    graft.sources.StandingArtifact.ensureMarkedInPlace(
      corpus.sparkSession, path, marker = "batch=0/_done") {
      appendHashBatch(
        corpus.select(md5(col(textCol)).as("content_hash"), col(idCol))
          .groupBy(col("content_hash")).agg(min(col(idCol)).as("corpus_keep_id")),
        path, batchId = 0L)
    }

  /** Admit one micro-batch's KEPT hashes into the standing index —
    * continuous corpus admission for a streaming ingest. The batch id is
    * a partition directory overwritten atomically, so a foreachBatch
    * retry rewrites the same directory to the same bytes instead of
    * double-appending (the same idempotent-redelivery contract the pulse
    * writer uses).
    */
  def appendHashBatch(keptHashes: DataFrame, path: String, batchId: Long): Unit = {
    keptHashes
      .withColumn("batch", lit(batchId))
      .write.mode("overwrite")
      // per-writer, NOT spark.conf.set: a session-global flip would
      // silently switch every later partitioned overwrite in the session
      // to dynamic semantics (stale partitions surviving a full rewrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch").parquet(path)
    graft.sources.RelationCache.invalidate(path)
  }

  /** Dedup verdicts for a NEW batch against a persisted corpus hash index
    * (the production shape — the daily increment, not the whole corpus,
    * is what gets deduped). Per new doc: `dup_corpus` (its content hash
    * already exists in the standing index), `dup_batch` (an earlier doc
    * of the same batch shares the hash — first id wins), and `keep`.
    * Only (hash, id) pairs shuffle; the batch side is the small side and
    * AQE broadcasts whichever fits.
    */
  def incrementalVerdicts(
      batch: DataFrame,
      indexPath: String,
      idCol: String = "doc_id",
      textCol: String = "text"
  ): DataFrame = {
    val spark = batch.sparkSession
    val idx = graft.sources.RelationCache.parquet(spark, indexPath)
      .select(col("content_hash"), lit(1L).as("in_corpus"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_hash")).orderBy(col(idCol))
    batch.select(col(idCol), md5(col(textCol)).as("content_hash"))
      .withColumn("dup_batch", (row_number().over(w) > 1).cast("long"))
      .join(idx, Seq("content_hash"), "left")
      .select(col(idCol),
        coalesce(col("in_corpus"), lit(0L)).as("dup_corpus"),
        col("dup_batch"),
        (col("in_corpus").isNull && col("dup_batch") === 0).cast("long").as("keep"))
  }

  // ---------- shingles / n-grams ----------

  /** Normalized word tokens (lowercase, alnum runs). */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => length(t) > 0)

  /** Distinct word n-gram shingles of a text column (array form).
    *
    * NOTE: array higher-order functions are interpreted (not codegen'd) in
    * Spark, and lambda bodies re-evaluate their captured expressions per
    * element — fine for occasional use, but the hot dedup paths use the
    * relational [[shingleRows]] instead.
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = tokens(text)
    array_distinct(
      when(size(toks) < n, array(array_join(toks, " ")))
        .otherwise(transform(
          sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " "))))
  }

  /** Relational distinct shingles: one row per (id, shingle). posexplode +
    * windowed lead keeps everything in whole-stage codegen; the window
    * partitions by document so it scales out with the corpus. Matches
    * [[shingles]] for texts with >= n tokens (shorter texts yield their
    * full-text join in the array form but no row here).
    */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    shingleRowsRaw(docs, idCol, textCol, n).distinct()

  /** [[shingleRows]] without the final distinct — one row per shingle
    * OCCURRENCE. Duplicate-insensitive consumers (MinHash signatures: `min`
    * over a multiset equals `min` over its support) read this form and skip
    * the distinct's extra shuffle entirely.
    */
  def shingleRowsRaw(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val raw = docs.select(col(idCol).as("id"),
        posexplode(split(lower(col(textCol)), "[^a-z0-9]+")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    val parts = col("tok") +: (1 until n).flatMap(i => Seq(lit(" "), lead(col("tok"), i).over(w)))
    raw.withColumn("sh", concat(parts: _*))
      .filter(col("sh").isNotNull)
      .select(col("id"), col("sh"))
  }

  /** Hashed shingle rows: one row per (id, shingle-hash) OCCURRENCE,
    * computed by the native one-pass [[graft.functions.expressions.ShingleHashes]]
    * kernel — no token rows, no per-document window sort; the shingle
    * stage lives inside the scan's codegen loop and the first shuffle in
    * any consumer is already aggregation-sized. Replaces
    * [[shingleRowsRaw]] + string-hashing on the dedup hot paths; distinct
    * counts over these hashes equal counts over the shingle strings
    * absent a 64-bit collision (the usual argument — the DuckDB oracles
    * keep strings, so the correctness gate would surface one).
    */
  def shingleHashRows(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(graft.functions.expressions.TextExpressions.shingleHashes(col(textCol), n)).as("h"))

  /** Stop-shingle cap: drop rows whose `keyCol` value occurs in more than
    * `maxDf` rows. A shingle with document frequency d alone produces
    * d²/2 candidate rows out of the inverted-index self-join, so one
    * boilerplate phrase ("all rights reserved …") makes the join quadratic
    * in corpus size; capping df bounds per-key fan-out at maxDf²/2 and, by
    * the LSH literature's standard argument, ultra-common shingles carry no
    * dedup signal anyway.
    *
    * Skew shape: the df count is a hash aggregate (map-side combine
    * collapses hot keys before the shuffle), and the cap is applied as a
    * BROADCAST LEFT-ANTI join against the HOT key list — `rows` is never
    * shuffled at all, so the hot key cannot create a straggler task. The
    * inner-join-the-rare-keys alternative both shuffles the full rows
    * frame AND lands outside AQE's skew rewrite (OptimizeSkewedJoin only
    * matches Sort+Shuffle directly under the join; an intermediate
    * aggregate defeats it — verified in SkewSpec). The hot list is small
    * by construction: at most n/maxDf keys can exceed maxDf, and real
    * boilerplate is far rarer.
    */
  def capDf(rows: DataFrame, keyCol: String, maxDf: Int): DataFrame = {
    val hot = rows.groupBy(col(keyCol)).agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDf)
    rows.join(broadcast(hot.select(col(keyCol))), Seq(keyCol), "left_anti")
  }

  /** Corpus-vs-shingle-space statistics for the exact n-gram Jaccard
    * path — the measured basis of its scale advisory. The candidate
    * stream out of the inverted-index self-join is EXACTLY
    * Σ_sh C(df_sh, 2) rows; once the corpus is large against its
    * distinct-shingle space, RANDOM single-shingle collisions make that
    * sum grow ∝ n²/|space| (the r15 500k→5M-doc probe measured the step
    * at 13.2× even after the lossless i=1 prefilter), and the honest
    * at-scale near-dup path is MinHash ([[minhashPairs]]), whose band
    * buckets hash a 2^64 domain and cannot saturate this way. This
    * aggregate turns that documented advice into a measured, loggable
    * verdict: one map-side-combined pass over the capped shingle rows
    * (≤ distinct-shingle rows reach the reduce side).
    */
  final case class NgramScaleStats(nDocs: Long, distinctShingles: Long,
      candidatePairs: Double) {
    def pairsPerDoc: Double = candidatePairs / math.max(1L, nDocs).toDouble
  }

  def ngramScaleStats(capped: DataFrame, keyCol: String, nDocs: Long): NgramScaleStats = {
    val r = capped.groupBy(col(keyCol)).agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("d"),
        sum(col("df").cast("double") * (col("df") - lit(1)).cast("double") / 2.0)
          .as("pairs"))
      .head()
    NgramScaleStats(nDocs,
      if (r.isNullAt(0)) 0L else r.getLong(0),
      if (r.isNullAt(1)) 0.0 else r.getDouble(1))
  }

  /** Pack an ordered candidate pair (a < b) into ONE long grouping key —
    * the candidate-count aggregate is the widest shuffle of the near-dup
    * pipelines (one row per co-occurring pair per shingle before the
    * map-side combine), and a single 8-byte key both halves the key bytes
    * on the wire and replaces a two-column hash/compare with a single
    * long op in the aggregate's codegen. The id domain must fit 32 bits
    * (4.29 B documents per corpus — beyond that, widen back to the
    * two-column groupBy); the guard makes an overflow LOUD instead of
    * silently merging unrelated pairs.
    */
  def packPair(a: Column, b: Column): Column =
    when(a >= 0 && a < (1L << 32) && b >= 0 && b < (1L << 32),
      shiftleft(a, 32).bitwiseOR(b))
      .otherwise(raise_error(concat(
        lit("packPair: doc id out of the packed 32-bit domain: "), a, lit(","), b)))

  /** The two halves of a [[packPair]] key. */
  def unpackPairA(pk: Column): Column = shiftrightunsigned(pk, 32)
  def unpackPairB(pk: Column): Column = pk.bitwiseAND(lit(0xffffffffL))

  /** Exact Jaccard similarity of two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(1.0)).otherwise(inter / uni)
  }

  // ---------- MinHash + LSH ----------

  /** K-wide MinHash signature from two base hashes per shingle: the
    * classic h_i = h1 + i*h2 family (Indyk/Broder-style), so each shingle
    * is hashed twice and the K "permutations" are pure arithmetic —
    * one codegen'd pass per slot over cached hash arrays, not K rehashes.
    */
  def minhashSignature(shingleCol: Column, k: Int = 32): Column = {
    // Hash each shingle string ONCE, then derive the K permutations by
    // re-hashing the 8-byte value with the slot index — fixed-width hashing
    // is ~free next to string hashing, and stays ANSI-safe (no overflow).
    val h1 = transform(shingleCol, s => xxhash64(s))
    array((0 until k).map { i =>
      array_min(transform(h1, h => xxhash64(h, lit(i))))
    }: _*)
  }

  /** LSH candidate pairs, shaped for whole-stage codegen at corpus scale:
    *
    *  1. explode shingles → one row per (id, shingle-hash); the K-slot
    *     signature is K `min(xxhash64(h, i))` HASH-AGGREGATE columns with
    *     map-side partial aggregation — all scalar codegen. (Array
    *     higher-order functions are interpreted in Spark; K array
    *     traversals per doc were ~30× slower.)
    *  2. band buckets from the K signature columns via one variadic
    *     xxhash64 per band; the self-join and pair-distinct carry ONLY
    *     (id, band, bucket).
    *  3. exact-Jaccard verification re-attaches shingle sets to the small
    *     surviving candidate set — the wide payload never shuffles.
    *
    * Sizing (bands b, rows-per-band r = k/b): candidate probability for
    * a pair at Jaccard s is 1 − (1 − s^r)^b; recall R at threshold τ
    * needs b ≥ ln(1−R)/ln(1−τ^r), so the defaults (r=2, b=8) hold
    * R ≈ 0.90 at τ=0.5 — measured ≥ 0.9 on the testdata
    * (RecallInvariantsSpec). Unlike fixed hyperplane buckets (the class
    * the embedding dedup retired in r15), band buckets hash into a 2^64
    * domain, so there is NO structural saturation with corpus size: cost
    * is signature work (n·k) plus candidates admitted by the S-curve,
    * and the scale probe measured 1.2× for a 10× step at the 50k→500k-doc
    * decade with a realistic vocabulary. The ceiling is the corpus's
    * MODERATE-similarity mass: r=2 admits s=0.3 pairs with p≈0.53, so a
    * boilerplate-dense corpus with super-linear near-threshold mass
    * needs r=3 (b=23) or r=4 (b=47) to hold R=0.95 at τ=0.5 — steeper
    * S-curve, k=69–188 signature slots as the price. The verification
    * semi-join bounds the damage either way (candidates are verified
    * against exact Jaccard before anything wide shuffles).
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      n: Int = 3,
      k: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.7
  ): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    // Signature pass reads the RAW (non-distinct) native hash stream: min
    // over a multiset equals min over its support, so no distinct is
    // needed, and the one-pass kernel means the FIRST shuffle of the whole
    // query is the map-side-combined signature aggregate (K partial mins
    // per doc — bytes, not shingles).
    val exRaw = shingleHashRows(docs, idCol, textCol, n)
    val sig = exRaw.groupBy(col("id"))
      .agg(min(xxhash64(col("h"), lit(0))).as("m0"),
        (1 until k).map(i => min(xxhash64(col("h"), lit(i))).as(s"m$i")): _*)
    // Band buckets are derived map-side from the one-row-per-doc signature;
    // only (id, band, bh) ever shuffles. The pair dedup is a hash aggregate
    // on the (tiny) candidate set, not a distinct over a wide row.
    val banded = sig.select(
      col("id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          xxhash64((b * rows until (b + 1) * rows).map(i => col(s"m$i")) :+ lit(b): _*).as("bh"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bh"))
    val pairs = banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      // packed pair key (see [[packPair]]): the per-band co-occurrence
      // stream is the fattest shuffle here, and one long key halves it
      .groupBy(packPair(col("a.id"), col("b.id")).as("pk"))
      .agg(count(lit(1)).as("_nb"))
      .select(unpackPairA(col("pk")).as("a_id"), unpackPairB(col("pk")).as("b_id"))
    // exact Jaccard on the surviving candidates ONLY: the verification
    // side semi-joins the shingle stream down to candidate documents
    // before the distinct/size pass, so its cost scales with the
    // candidate set, not the corpus. No broadcast HINT on the id list:
    // on a duplication-heavy corpus candIds is O(corpus) and a forced
    // broadcast would be a driver-memory cliff — AQE upgrades the
    // shuffle semi-join to broadcast at runtime exactly when the list
    // is actually small.
    val candIds = pairs
      .select(explode(array(col("a_id"), col("b_id"))).as("id"))
      .distinct()
    val ex = exRaw.join(candIds, Seq("id"), "left_semi").distinct()
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))))
    pairs
      .join(ex.select(col("id").as("a_id"), col("h"), col("n").as("na")), Seq("a_id"))
      .join(ex.select(col("id").as("b_id"), col("h"), col("n").as("nb")), Seq("b_id", "h"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("i"), first(col("na")).as("na"), first(col("nb")).as("nb"))
      .withColumn("jaccard", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  // ---------- SimHash ----------

  /** SimHash fingerprints: (id, simhash). Near-dups = small hamming
    * distance; group candidates by 16-bit prefix bands (4 rotations) so
    * pairs within hamming distance 3 share at least one band.
    * The fingerprint is a native Catalyst expression (one-pass tokenize +
    * per-bit vote inside whole-stage codegen — no token array, no UDF).
    */
  def simhashes(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      graft.functions.expressions.TextExpressions.simhash64(col(textCol)).as("simhash"))

  /** Hamming distance between two long fingerprints (column expr). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within a hamming radius via 4×16-bit band LSH.
    *
    * Token-less documents (no [a-z0-9] after lowercasing — whitespace/
    * punctuation/markup-only, common in web corpora) are EXCLUDED before
    * banding: they all fingerprint to 0, so every one of them would share
    * every band bucket and pair with every other at hamming 0 — m(m-1)/2
    * false near-dups and a quadratic candidate blowup. The DuckDB twin
    * emits no signature row for such docs, so exclusion is also what
    * keeps the parity gate exact.
    */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text", radius: Int = 3): DataFrame = {
    val fp = simhashes(docs.filter(lower(col(textCol)).rlike("[a-z0-9]")), idCol, textCol)
    val banded = fp.select(
      col(idCol).as("id"), col("simhash"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"), shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xffffL)).as("bh"))
      }: _*)).as("bk"))
      .select(col("id"), col("simhash"), col("bk.band"), col("bk.bh"))
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        hamming(col("a.simhash"), col("b.simhash")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= radius)
  }
}
