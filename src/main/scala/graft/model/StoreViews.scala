package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Serving views over an INGEST-WRITTEN store — the records/ jet_drops/
  * pulses/ layout the [[graft.Ingest]] daemon and
  * [[graft.ingest.PulseWriter]] maintain — so the HTTP API serves the
  * store the ETL wrote, exactly like the reference API reading the
  * Postgres tables its block-explorer binary populated (the loop the
  * reference's heavy_mock suites close, the `test/api` endpoint tests).
  *
  * [[graft.model.Domain]] routes `served*` here whenever `dir` is a
  * store ([[isStore]]); the testdata corpus path (views derived from
  * `events.parquet`) is untouched. The adapter maps the storage schema
  * ([[Schemas.records]], the drop rows [[graft.ingest.PulseWriter]]
  * commits, and [[Schemas.pulses]]) onto the column contract the
  * [[graft.api.Endpoints]] functions already serve:
  *
  *  - '''identity references become 64-bit keys''' (xxhash64 of the
  *    stored bytes, nulls preserved): the serving layer keys objects and
  *    records by long everywhere (the testdata domain's `event_id`/
  *    `user_id`), so the lifeline/search endpoints' long-keyed
  *    predicates work unchanged over a store. Content bytes (payload,
  *    hash) stay binary and render base64 at the JSON edge (F6).
  *  - '''drop hashes are derived''', md5 over (jet_id, pulse) with the
  *    parent pulse taken from the pulses CHAIN (a broadcast join against
  *    the tiny dimension), the same convention [[Domain.jetDrops]] uses —
  *    the store's write path does not persist content hashes (the
  *    reference's exporter supplies them on the wire; ours reserves the
  *    column).
  *  - `pulse_number` partition directories read back as their inferred
  *    integer type; every view casts it to LongType so predicates and
  *    JSON stay type-stable. Pulse-bounded endpoint predicates prune
  *    PARTITION DIRECTORIES on this layout — at 100 TB a pulse-bounded
  *    page lists a handful of directories instead of scanning anything.
  *
  * Isolation contract: reads resolve through the store's COMMIT
  * MANIFESTS ([[graft.ingest.TableManifest]]) — each request plans over
  * the explicit file set some committed version defined, superseded
  * files stay on disk for the manifest's retention window, and a read
  * racing a hot-pulse rewrite therefore always serves a committed page: no
  * lost-file 500s, no torn or silently-short pages (StoreServeSpec's
  * racing-rewrite test pins ZERO failures; the reference gets the same
  * guarantee from Postgres MVCC, `etl/dbconn/connection.go:13-22`).
  * The resolved relations are cached per manifest VERSION — an
  * unchanged store pays ONE bounded `_manifests/` dir listing + one
  * small JSON read per table per request (the change signal; the
  * Postgres analog is snapshot acquisition) and zero DATA-directory
  * listings or schema probes, and staleness is structurally impossible
  * because the version moves with every commit. A table with no
  * committed manifest serves as empty; a store written before manifests
  * is not read.
  */
object StoreViews {

  private val layoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private val warnedAbsent =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** True when `dir` holds an ingest store (a `records/` table directory
    * and no testdata `events.parquet`). An EMPTY/ambiguous dir — a store
    * base probed before the daemon's first commit creates `records/`
    * (the startup window can last a full head pause plus the first
    * fetch) — also answers STORE: the store path serves schema-stable
    * `{total:0}` pages from the empty-frame machinery below, where the
    * corpus path would throw on the missing `events.parquet` and turn
    * the whole window into 500s (a corpus dir always carries
    * `events.parquet`, so nothing real routes differently). The verdict
    * is cached only once the directory has RESOLVED to one of the two
    * layouts — a store stays a store and a corpus stays a corpus — so an
    * ambiguous answer is re-checked, never frozen.
    */
  def isStore(spark: SparkSession, dir: String): Boolean = {
    val cached = layoutCache.get(dir)
    if (cached != null) cached.booleanValue
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      val records = new org.apache.hadoop.fs.Path(s"$dir/records")
      val fs = records.getFileSystem(conf)
      val hasRecords = fs.exists(records) && fs.getFileStatus(records).isDirectory
      val isCorpus = fs.exists(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      // a base dir that does not EXIST at all is a different animal from
      // the genuine startup window (exists, not yet committed): a typo'd
      // serving dir would otherwise serve healthy-looking `{total:0}`
      // 200s forever, and since the ambiguous verdict is never cached the
      // misconfiguration never fails loud anywhere. Still answer store
      // (the daemon may create the dir moments later), but leave one
      // trace per dir for the operator.
      // probe-once ordering: add() short-circuits to true only on the
      // FIRST ambiguous sighting of a dir, so the extra exists() RPC is
      // paid at most once per dir — not on every request hammering a
      // misconfigured (still-ambiguous, hence uncached) serving dir
      if (!hasRecords && !isCorpus && warnedAbsent.add(dir) &&
          !fs.exists(new org.apache.hadoop.fs.Path(dir)))
        System.err.println(s"[serve] base dir does not exist (typo'd " +
          s"SPARK_GRAFT_SF_DIR? serving empty store pages until it appears): $dir")
      // corpus wins when both markers exist (unchanged precedence); an
      // ambiguous dir (neither) answers store, uncached
      val is = !isCorpus
      if (hasRecords || isCorpus) layoutCache.put(dir, is)
      is
    }
  }

  /** Identity bytes → the serving layer's 64-bit key space, nulls kept
    * (an empty reference is P2-normalized to null upstream and must stay
    * an OMITTED field at the JSON edge, not hash to a phantom key).
    */
  private def refKey(c: Column): Column =
    when(c.isNull, lit(null).cast("long")).otherwise(xxhash64(c))

  // Canonical serving schemas, for the EMPTY-TABLE branch below: a brand
  // new store serves `{total:0}` pages from a schema-stable empty frame
  // until the daemon's first commit/flush lands — the records table is
  // written at commit time but the pulses dimension only on the first
  // maintainer flush (up to a pulse period later), and an endpoint must
  // not 500 in that window.
  private val RecordsServingSchema = org.apache.spark.sql.types.StructType(Seq(
    field("reference", "long"), field("type", "string"),
    field("object_reference", "long"), field("prototype_reference", "long"),
    field("prev_record_reference", "long"), field("payload", "binary"),
    field("hash", "binary"), field("jet_id", "string"),
    field("pulse_number", "long"), field("order", "int"), field("ts_sec", "long")))
  private val DropsServingSchema = org.apache.spark.sql.types.StructType(Seq(
    field("pulse_number", "long"), field("jet_id", "string"),
    field("record_amount", "int"), field("timestamp", "long"),
    field("hash", "string"), field("first_prev_hash", "string"),
    field("second_prev_hash", "string")))
  private val PulsesServingSchema = org.apache.spark.sql.types.StructType(Seq(
    field("pulse_number", "long"), field("prev_pulse_number", "long"),
    field("next_pulse_number", "long"), field("is_complete", "boolean"),
    field("is_sequential", "boolean"), field("timestamp", "long"),
    field("jet_drop_amount", "long"), field("record_amount", "long"),
    field("result_amount", "long")))

  private def field(name: String, t: String) =
    org.apache.spark.sql.types.StructField(name,
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(t))

  private def emptyFrame(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  /** The records fact in the endpoints' serving shape. A table with no
    * committed data — including a just-created or mid-first-write
    * directory — serves as the schema-stable empty frame instead of
    * failing schema inference (same for the two views below).
    */
  def records(spark: SparkSession, dir: String): DataFrame =
    graft.ingest.TableManifest.readTable(spark, s"$dir/records")
      .fold(emptyFrame(spark, RecordsServingSchema))(_.select(
        refKey(col("reference")).as("reference"),
        col("type"),
        refKey(col("object_reference")).as("object_reference"),
        refKey(col("prototype_reference")).as("prototype_reference"),
        refKey(col("prev_record_reference")).as("prev_record_reference"),
        col("payload"),
        col("hash"),
        col("jet_id"),
        col("pulse_number").cast("long").as("pulse_number"),
        col("order"),
        col("timestamp").as("ts_sec")))

  /** The jet_drops dimension with the serving hash convention derived
    * over the pulses chain (broadcast — one row per pulse).
    */
  def jetDrops(spark: SparkSession, dir: String): DataFrame =
    graft.ingest.TableManifest.readTable(spark, s"$dir/jet_drops")
      .fold(emptyFrame(spark, DropsServingSchema)) { raw =>
        val drops = raw.select(
          col("pulse_number").cast("long").as("pulse_number"),
          col("jet_id"),
          col("record_amount"),
          col("timestamp"))
        val chain = pulses(spark, dir)
          .select(col("pulse_number").as("pn"), col("prev_pulse_number").as("prev_pn"))
        drops.join(broadcast(chain), col("pulse_number") === col("pn"), "left")
          .withColumn("hash", md5(concat_ws(":", col("jet_id"), col("pulse_number"))))
          .withColumn("first_prev_hash",
            when(col("prev_pn").isNull, lit(null).cast("string"))
              .otherwise(md5(concat_ws(":", col("jet_id"), col("prev_pn")))))
          .withColumn("second_prev_hash", lit(null).cast("string"))
          .drop("pn", "prev_pn")
      }

  /** The daemon-maintained pulses dimension in the serving shape (the
    * bucket partition column is a flush concern, never served).
    */
  def pulses(spark: SparkSession, dir: String): DataFrame =
    graft.ingest.TableManifest.readTable(spark, s"$dir/pulses")
      .fold(emptyFrame(spark, PulsesServingSchema)) { raw =>
      raw.select(
        col("pulse_number").cast("long").as("pulse_number"),
        col("prev_pulse_number"),
        col("next_pulse_number"),
        col("is_complete"),
        col("is_sequential"),
        col("timestamp"),
        col("jet_drop_amount").cast("long").as("jet_drop_amount"),
        col("record_amount"),
        // the per-type counter the gap/status views consume — the corpus
        // spine carries it too, so the SERVED schema is layout-stable
        col("result_amount"))
    }
}
