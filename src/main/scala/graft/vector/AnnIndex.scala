package graft.vector

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted ANN indexes — the write-path/query-path split the per-query
  * forms in [[Ivf]]/[[Similarity]] lack at scale.
  *
  * Write path (one corpus scan each, idempotent):
  *  - IVF: nearest-centroid cell per vector, parquet PARTITIONED BY cell,
  *    centroids stored alongside. A query then reads only its probed cell
  *    directories — partition pruning visible in the scan's
  *    `PartitionFilters`, touching nProbe/nCells of the data.
  *  - LSH: random-hyperplane signature per vector, parquet partitioned by
  *    signature bucket; multi-probe queries read only the probed buckets.
  *
  * At 100 TB the index write is a map-only job (no shuffle — cell/sig are
  * per-row projections; the partitioned write hash-splits within tasks)
  * and each query reads a bounded fraction of the corpus. Rebuilds are
  * deterministic: centroid choice is a seeded hash-order sample and the
  * hyperplanes are seeded, so a lost index re-materializes bit-identically.
  */
object AnnIndex {

  // indexRoot runs on every catalog-query invocation: reuse the active
  // session's live Hadoop configuration (no copy) — a bare Configuration
  // would lack spark.hadoop.* settings (object-store credentials,
  // defaultFS), making listStatus fail and the fingerprint collapse to a
  // constant, which silently disables stale-index invalidation
  // getActiveSession is THREAD-local: a pool thread that never set one
  // would otherwise fall through to a credential-less bare Configuration
  // and resolve a different fingerprint than the driver thread — the
  // process-wide default session is the correct fallback
  private def fingerprintConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  // ---------------- IVF ----------------

  /** Build (if absent) the IVF index under `path`: `vectors/` partitioned
    * by cell + `centroids/`. Returns the centroid set (normalized — cell
    * assignment is true cosine-argmax).
    *
    * The two datasets commit as ONE artifact
    * ([[graft.sources.StandingArtifact.ensureCommitted]] — side-directory
    * build, atomic rename): a reader can never observe vectors without
    * centroids, and a crash between the writes leaves the path absent —
    * rebuilt next call — instead of permanently half-built.
    */
  def ensureIvf(
      embeddings: DataFrame,
      path: String,
      nCells: Int = 16,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): Array[Seq[Float]] = {
    val spark = embeddings.sparkSession
    graft.sources.StandingArtifact.ensureCommitted(spark, path) { tmp =>
      val cents = Ivf.centroids(embeddings, nCells, idCol, vecCol)
      embeddings
        .withColumn("cell", Ivf.cellOf(col(vecCol), cents))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$tmp/vectors")
      import spark.implicits._
      cents.zipWithIndex.toSeq.map { case (c, i) => (i, c) }
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/centroids")
    }
    readCentroids(spark, path)
  }

  /** Centroid sets are tiny and immutable once written — memoize per path
    * so repeated queries don't pay a Spark job just to reload them.
    * Eviction rides [[graft.sources.RelationCache.onInvalidate]] (the hook
    * registered below), so "writer rewrote the path" stays ONE
    * invalidation call for every cache keyed by it — a wipe site that
    * remembers RelationCache.invalidate but forgets this memo would
    * otherwise probe a rebuilt index with the OLD centroid array, the
    * silent kNN corruption [[forgetCached]] warns about.
    */
  private val centroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Seq[Float]]]()

  graft.sources.RelationCache.onInvalidate { p =>
    if (p == null) centroidCache.clear() else forgetCached(p)
  }

  def readCentroids(spark: SparkSession, path: String): Array[Seq[Float]] = {
    // load OUTSIDE the map: computeIfAbsent holds the bin lock for the
    // mapping function's duration, and this one is a whole Spark job —
    // an unrelated key hashing to the same bin would block behind it.
    // The load is deterministic and idempotent, so a racing double-load
    // costs one redundant job, not correctness (putIfAbsent keeps the
    // first published copy).
    val cached = centroidCache.get(path)
    if (cached != null) cached
    else {
      import spark.implicits._
      val loaded = spark.read.parquet(s"$path/centroids")
        .orderBy("cell").select("centroid").as[Seq[Float]].collect()
      val prev = centroidCache.putIfAbsent(path, loaded)
      if (prev != null) prev else loaded
    }
  }

  /** Drop memoized centroids at or under `prefix` (trailing slash
    * normalized, like the sibling eviction routines). Wipe-and-rebuild
    * harnesses must invalidate the wiped root (one
    * [[graft.sources.RelationCache.invalidate]] call reaches here via the
    * hook): probing a rebuilt index with the OLD centroid array silently
    * corrupts kNN (cell ids would no longer correspond to the pruning
    * centroids).
    */
  def forgetCached(prefix0: String): Unit = {
    val prefix = if (prefix0.endsWith("/")) prefix0.dropRight(1) else prefix0
    val it = centroidCache.keySet().iterator()
    while (it.hasNext) {
      val k = it.next()
      if (k == prefix || k.startsWith(prefix + "/")) it.remove()
    }
  }

  /** IVF top-k against a persisted index: prune to the query's nProbe best
    * cells (partition pruning — only those directories are read), exact
    * cosine re-rank inside.
    */
  def ivfTopK(
      spark: SparkSession,
      path: String,
      query: Seq[Float],
      k: Int,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      excludeId: Option[Long] = None
  ): DataFrame = {
    val cents = readCentroids(spark, path)
    val probed = Ivf.cellsByAffinity(query, cents).take(nProbe)
    val scan = graft.sources.RelationCache.parquet(spark, s"$path/vectors")
      .filter(col("cell").isin(probed: _*))
    excludeId.fold(scan)(id => scan.filter(col(idCol) =!= id))
      .select(col(idCol), Similarity.cosineLit(col(vecCol), query).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** Batch kNN JOIN against the persisted IVF index — the scale twin of
    * [[Similarity.topKJoin]], which compares every query against the FULL
    * corpus. Here each query row explodes to its `nProbe` nearest cells,
    * the query side equi-joins the cell-partitioned corpus on the cell
    * key, and the per-query top-k rank window sees only the probed
    * nProbe/nCells fraction. The join is deliberately UN-hinted: a small
    * query batch gets broadcast by AQE at runtime (when it actually
    * fits), while a huge batch — where a forced broadcast would be a
    * driver-memory cliff — probes essentially every cell anyway, so the
    * shuffle join IS the right plan there (the same reasoning as the
    * dedup pipelines' un-hinted candidate joins). A corpus vector lives
    * in exactly one cell and probe cells are distinct, so no pair dedup
    * is needed. Approximate by construction — recall vs the exact join
    * is bounded in RecallInvariantsSpec.
    *
    * NOTE unlike [[Similarity.topKJoin]], there is NO implicit self-pair
    * exclusion (the query and corpus id columns are independently named,
    * so identity is not decidable here): a query drawn from the indexed
    * corpus returns itself at cosine 1.0 rank 1 unless the caller
    * excludes it via `corpusFilter` (as every in-repo call site does).
    */
  def ivfKnnJoin(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      dim: Int,
      nProbe: Int = 4,
      qIdCol: String = "query_id",
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      corpusFilter: Option[org.apache.spark.sql.Column] = None
  ): DataFrame = {
    val cents = readCentroids(spark, path)
    val q = queries.select(col(qIdCol).as("query_id"), col(vecCol).as("q_v"),
      explode(Ivf.topCells(col(vecCol), cents, nProbe)).as("cell"))
    val scan0 = graft.sources.RelationCache.parquet(spark, s"$path/vectors")
    val corpus = corpusFilter.fold(scan0)(scan0.filter)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_v"), col("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    q.join(corpus, Seq("cell"))
      .withColumn("cosine", Similarity.cosineFixed(col("q_v"), col("c_v"), dim))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  // ---------------- hyperplane LSH ----------------

  /** Build (if absent) the LSH index: signature bucket per vector, parquet
    * partitioned by `sig` (2^bits directories — keep bits ≤ ~10).
    */
  def ensureLsh(
      embeddings: DataFrame,
      path: String,
      dim: Int,
      bits: Int = 8,
      seed: Long = 42L,
      vecCol: String = "embedding"
  ): Unit =
    graft.sources.StandingArtifact.ensureCommitted(embeddings.sparkSession, path) { tmp =>
      embeddings
        .withColumn("sig", Similarity.lshSignature(col(vecCol), dim, bits, seed))
        .write.mode("overwrite").partitionBy("sig").parquet(s"$tmp/vectors")
    }

  /** Multi-probe LSH top-k against a persisted index: reads only the
    * `maxProbes` margin-ranked buckets (the flip-sets a true neighbour is
    * most likely to land in — see [[Similarity.marginProbeBuckets]]).
    */
  def lshTopK(
      spark: SparkSession,
      path: String,
      query: Seq[Float],
      k: Int,
      bits: Int = 8,
      maxProbes: Int = 48,
      seed: Long = 42L,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      excludeId: Option[Long] = None
  ): DataFrame = {
    val probes = Similarity.marginProbeBuckets(query, bits, seed, maxProbes)
    val scan = graft.sources.RelationCache.parquet(spark, s"$path/vectors")
      .filter(col("sig").isin(probes: _*))
    excludeId.fold(scan)(id => scan.filter(col(idCol) =!= id))
      .select(col(idCol), Similarity.cosineLit(col(vecCol), query).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  // ---------------- catalog plumbing ----------------

  // dir → (resolved-at nanos, root). indexRoot runs on EVERY catalog
  // query (the spine and every standing index derive their path from
  // it), and its fingerprint listing was the one per-request filesystem
  // call left on the serving path — on an object store, a LIST per
  // request, the same steady-state cost class ArtifactCache removes for
  // commit markers. Source corpora are write-once here, so a resolution
  // is cached with a bounded TTL: serving amortizes the LIST to once per
  // TTL per dataset, while a long-lived service pointed at re-generated
  // data still re-fingerprints within the TTL and rebuilds under the new
  // path.
  private val rootCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()
  @volatile private[vector] var rootTtlNanos: Long = 60L * 1000000000L
  private val failTtlNanos: Long = 5L * 1000000000L

  /** Scratch location for per-dataset indexes (cache-on-first-use by the
    * catalog queries; any durable deployment would point this at the
    * warehouse). The path embeds a fingerprint of the source files
    * (name, size, mtime), so regenerated source data can NEVER silently
    * serve a stale index — the path changes and the index rebuilds
    * (within [[rootTtlNanos]] of the change; the fingerprint listing is
    * TTL-cached per dataset, see [[rootCache]]).
    */
  def indexRoot(dir: String): String = {
    val now = System.nanoTime()
    val cached = rootCache.get(dir)
    // entries carry their resolution time; the TTL applies at read time
    if (cached != null && now - cached._1 < rootTtlNanos) return cached._2
    // list through the Hadoop FS API, not java.io.File: on a non-local
    // source dir a local listing returns null, the fingerprint collapses
    // to a constant, and stale-index invalidation silently turns off.
    // Dataset ENTRIES that are directories (Spark-written `t.parquet/`
    // trees) report len 0 and, on object stores, no stable mtime — so the
    // fingerprint descends one level and hashes the contained files,
    // whose (name, len, mtime) DO move on regeneration. The extra LISTs
    // are amortized by the TTL cache.
    var listingFailed = false
    val sig = try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(fingerprintConf)
      fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
        .flatMap { s =>
          // a directory ENTRY contributes its name only — its own
          // len/mtime are exactly the values declared unreliable above,
          // and transient child churn (a .spark-staging dir) bumps dir
          // mtime without a data change; the descended FILES carry the
          // len/mtime that move on regeneration
          if (!s.isDirectory)
            Array(s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
          else s.getPath.getName +: fs.listStatus(s.getPath).filter(_.isFile)
            .sortBy(_.getPath.getName)
            .map(f => s"${s.getPath.getName}/${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
        }
        .mkString("|")
    } catch { case _: java.io.IOException => listingFailed = true; "" }
    val h = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(sig))
    val root = sys.env.getOrElse("GRAFT_INDEX_DIR", "/tmp/graft-index") + "/" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_") + "-" + h
    // A failed listing must not pin its constant-fingerprint root for the
    // positive TTL (across a regeneration it would resolve to the SAME
    // bogus root — silent staleness), but it must not re-LIST per request
    // either (a persistent store outage would put a failing round-trip on
    // every serving call). Failed resolutions get a short negative TTL:
    // backdate the entry so it expires failTtl from now.
    val resolvedAt =
      if (listingFailed) now - (rootTtlNanos - math.min(failTtlNanos, rootTtlNanos))
      else now
    rootCache.put(dir, (resolvedAt, root))
    root
  }

  /** The signature width every served LSH index uses — ONE constant
    * shared by the catalog query (`Queries.AnnLshBits` aliases it,
    * including its hash-replay oracle) and the index layer, so the two
    * can never drift.
    */
  val ServedLshBits = 6

  /** Canonical index paths — the build PARAMETERS are part of the path,
    * so a parameter change at any call site can never silently read an
    * index built with different ones (wrong bits against wrong partition
    * values — or hyperplanes generated for a different embedding
    * DIMENSION, hence `dim` in the LSH tag — would return near-empty
    * results without an error).
    */
  def ivfPath(dir: String, nCells: Int = 16): String =
    indexRoot(dir) + s"/ivf-c$nCells"
  def lshPath(dir: String, bits: Int, dim: Int, seed: Long = 42L): String =
    indexRoot(dir) + s"/lsh-b$bits-d$dim-s$seed"
}
