package graft.model

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.ingest.TableManifest

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
  * MANIFESTS ([[TableManifest]]) — each request reads the explicit file
  * set some committed version defined, superseded files stay on disk for
  * the manifest's retention window, and a read racing a hot-pulse
  * rewrite therefore always serves a committed page: no lost-file 500s,
  * no torn or silently-short pages (StoreServeSpec's racing-rewrite
  * tests pin ZERO failures; the reference gets the same guarantee from
  * Postgres MVCC, `etl/dbconn/connection.go:13-22`). A manifest is
  * resolved by one `_manifests/` listing (the change signal; the
  * Postgres analog is snapshot acquisition; the parsed manifest is
  * memoized by version), with no data-directory listing or schema
  * probe. Two read shapes compute the same serving columns:
  *
  *  - the Spark views ([[records]], [[jetDrops]], [[pulses]]) plan over
  *    the snapshot's file list, their relations cached per manifest
  *    VERSION, so staleness is structurally impossible;
  *  - the pulse-keyed reads ([[recordsOf]], [[jetDropsOf]],
  *    [[pulsesOf]], [[pulseLinks]]) read only the partitions their key
  *    names, in the driver, and return the serving rows themselves
  *    ([[Rows]]), built in Scala: the reference's indexed
  *    `WHERE pulse_number = ?` (`etl/storage/storage.go:475-494`) with no
  *    Spark job, no Catalyst plan and nothing cached but the manifest.
  *    The routes built on them (`/pulses` without timestamp bounds,
  *    `/pulses/{pulse}`, `/pulses/{pulse}/jet-drops`, `/jet-drops/{id}`,
  *    `/jet-drops/{id}/records`) page and present those rows in the
  *    driver too, and pay ONE `_manifests/` listing per table they read:
  *    the pulses table's is the chain index's
  *    ([[Domain.pulseChainIndex]]), whose snapshot they read from. The
  *    two routes still planned over the Spark views (a timestamp-bounded
  *    `/pulses` page, `/jets/{jet}/jet-drops`) read the pulses view from
  *    that same snapshot, so they list the pulses manifests once too.
  *
  * A table with no committed manifest serves as empty; a store written
  * before manifests is not read.
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

  // Canonical serving schemas: the schema of the driver reads' rows, and
  // of the EMPTY-TABLE branch of the views below: a brand new store
  // serves `{total:0}` pages from a schema-stable empty frame until the
  // daemon's first commit/flush lands — the records table is written at
  // commit time but the pulses dimension only on the first maintainer
  // flush (up to a pulse period later), and an endpoint must not 500 in
  // that window.
  private val RecordsServingSchema = StructType(Seq(
    field("reference", "long"), field("type", "string"),
    field("object_reference", "long"), field("prototype_reference", "long"),
    field("prev_record_reference", "long"), field("payload", "binary"),
    field("hash", "binary"), field("jet_id", "string"),
    field("pulse_number", "long"), field("order", "int"), field("ts_sec", "long")))
  private val DropsServingSchema = StructType(Seq(
    field("pulse_number", "long"), field("jet_id", "string"),
    field("record_amount", "int"), field("timestamp", "long"),
    field("hash", "string"), field("first_prev_hash", "string"),
    field("second_prev_hash", "string")))
  private val PulsesServingSchema = StructType(Seq(
    field("pulse_number", "long"), field("prev_pulse_number", "long"),
    field("next_pulse_number", "long"), field("is_complete", "boolean"),
    field("is_sequential", "boolean"), field("timestamp", "long"),
    field("jet_drop_amount", "long"), field("record_amount", "long"),
    field("result_amount", "long")))

  private def field(name: String, t: String) =
    StructField(name, org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(t))

  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  /** The records fact in the endpoints' serving shape. A table with no
    * committed data — including a just-created or mid-first-write
    * directory — serves as the schema-stable empty frame instead of
    * failing schema inference (same for the two views below).
    */
  def records(spark: SparkSession, dir: String): DataFrame =
    TableManifest.readTable(spark, s"$dir/records")
      .fold(emptyFrame(spark, RecordsServingSchema))(servingRecords)

  private def servingRecords(raw: DataFrame): DataFrame = raw.select(
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
    col("timestamp").as("ts_sec"))

  /** The jet_drops dimension with the serving hash convention derived
    * over the pulses chain (broadcast — one row per pulse).
    */
  def jetDrops(spark: SparkSession, dir: String): DataFrame =
    jetDrops(spark, dir, TableManifest.snapshot(spark, s"$dir/pulses"))

  /** [[jetDrops]] with the chain taken from the pulses snapshot
    * `pulsesSnap`: a request holding the chain index's snapshot
    * ([[Domain.PulseChainIndex.pulses]]) hashes its drops over the same
    * version its links come from.
    */
  def jetDrops(spark: SparkSession, dir: String,
      pulsesSnap: Option[TableManifest.Snapshot]): DataFrame =
    TableManifest.readTable(spark, s"$dir/jet_drops")
      .fold(emptyFrame(spark, DropsServingSchema)) { raw =>
        val drops = raw.select(
          col("pulse_number").cast("long").as("pulse_number"),
          col("jet_id"),
          col("record_amount"),
          col("timestamp"))
        val chain = pulses(spark, dir, pulsesSnap)
          .select(col("pulse_number").as("pn"), col("prev_pulse_number").as("prev_pn"))
        withDropHashes(drops.join(broadcast(chain), col("pulse_number") === col("pn"), "left")
          .drop("pn"))
      }

  /** The drop hashes over drop rows carrying their pulse's stored prev as
    * `prev_pn` (null when the pulse is not in the pulses table), which
    * leaves the output.
    */
  private def withDropHashes(drops: DataFrame): DataFrame = drops
    .withColumn("hash", md5(concat_ws(":", col("jet_id"), col("pulse_number"))))
    .withColumn("first_prev_hash",
      when(col("prev_pn").isNull, lit(null).cast("string"))
        .otherwise(md5(concat_ws(":", col("jet_id"), col("prev_pn")))))
    .withColumn("second_prev_hash", lit(null).cast("string"))
    .drop("prev_pn")

  /** The daemon-maintained pulses dimension in the serving shape (the
    * bucket partition column is a flush concern, never served).
    */
  def pulses(spark: SparkSession, dir: String): DataFrame =
    pulses(spark, dir, TableManifest.snapshot(spark, s"$dir/pulses"))

  /** [[pulses]] of the pulses snapshot `snap` (a request's chain index's,
    * [[Domain.PulseChainIndex.pulses]]).
    */
  def pulses(spark: SparkSession, dir: String, snap: Option[TableManifest.Snapshot]): DataFrame =
    TableManifest.readTable(spark, s"$dir/pulses", snap)
      .fold(emptyFrame(spark, PulsesServingSchema))(servingPulses)

  private def servingPulses(raw: DataFrame): DataFrame = raw.select(
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

  // ---- driver reads for the pulse-keyed routes ----------------------------
  //
  // Each reads only the partitions the key names from ONE snapshot of its
  // table, in the driver ([[TableManifest.readRows]]), and builds the rows
  // of the serving shape above from them as plain Scala: the same keys,
  // hashes and casts the Spark views compute, row by row, with no Catalyst
  // plan and no Spark job. A key narrower than the partition (a drop's jet)
  // filters the stored rows before anything is hashed. The pulses snapshot
  // is the chain index's own ([[Domain.PulseChainIndex.pulses]]), so the
  // pulses rows and drop hashes a request serves agree with the links the
  // index answers. A table with no manifest reads as no rows.

  // the stored columns the serving rows are built from: all but the
  // partition column and the records' unserved raw_data
  private val RecordColumns =
    Schemas.records.fieldNames.toSeq.filterNot(Set("raw_data", "pulse_number"))
  private val PulseColumns = Schemas.pulses.fieldNames.toSeq.filterNot(_ == "pulse_bucket")
  private val DropColumns = Seq("jet_id", "record_amount", "timestamp")

  /** The rows of `partitions` of `table` as `snap` lists them, read in
    * the driver: `columns` of the stored `schema`, then `partCol`.
    */
  private def stored(spark: SparkSession, dir: String, table: String,
      snap: Option[TableManifest.Snapshot], schema: StructType, partCol: String,
      columns: Seq[String])(partitions: TableManifest.Snapshot => Iterable[String])
      : Vector[InternalRow] = {
    val s = snap.getOrElse(TableManifest.Snapshot(0L, Map.empty, Nil))
    TableManifest.readRows(spark, s"$dir/$table", s, partitions(s), partCol, schema, columns)
  }

  /** Scala values of `row` in the stored `columns` of `schema`, then the
    * partition column as a long.
    */
  private def toScala(schema: StructType, columns: Seq[String]): InternalRow => Row =
    CatalystTypeConverters.createToScalaConverter(StructType(
      columns.map(schema(_)) :+ StructField("partition", LongType)))
      .asInstanceOf[InternalRow => Row]

  /** The serving key of identity bytes: xxhash64 with seed 42, what
    * `functions.xxhash64` computes for one binary column (the views'
    * column `refKey`). Nulls stay null.
    */
  def refKey(ref: Array[Byte]): java.lang.Long =
    if (ref == null) null
    else XXH64.hashUnsafeBytes(ref, Platform.BYTE_ARRAY_OFFSET, ref.length, 42L)

  /** `md5(concat_ws(":", jet, pulse))`, the serving drop hash: a null jet
    * is skipped like `concat_ws` skips it.
    */
  private def dropHash(jet: String, pulse: Long): String =
    DigestUtils.md5Hex(if (jet == null) pulse.toString else s"$jet:$pulse")

  /** The records of drop (`pulse`, `jet`) in [[records]]' serving shape,
    * read from the pulse's one `pulse_number` partition in the driver and
    * filtered by jet before their references are hashed.
    */
  def recordsOf(spark: SparkSession, dir: String, pulse: Long, jet: String): Rows = {
    val jetAt = RecordColumns.indexOf("jet_id")
    val key = UTF8String.fromString(jet)
    val toRow = toScala(Schemas.records, RecordColumns)
    val at = (RecordColumns :+ "pulse_number").zipWithIndex.toMap
    val rows = stored(spark, dir, "records", TableManifest.snapshot(spark, s"$dir/records"),
      Schemas.records, "pulse_number", RecordColumns)(_ => Seq(s"pulse_number=$pulse"))
      .filter(r => !r.isNullAt(jetAt) && r.getUTF8String(jetAt) == key)
    Rows(RecordsServingSchema, rows.map { raw =>
      val r = toRow(raw)
      def ref(c: String) = refKey(r.getAs[Array[Byte]](at(c)))
      Rows.row(RecordsServingSchema, Seq(ref("reference"), r.get(at("type")),
        ref("object_reference"), ref("prototype_reference"), ref("prev_record_reference"),
        r.get(at("payload")), r.get(at("hash")), r.get(at("jet_id")), r.get(at("pulse_number")),
        r.get(at("order")), r.get(at("timestamp"))))
    })
  }

  /** The drops of `pulses` in [[jetDrops]]' serving shape, from one
    * jet_drops snapshot read in the driver; with `jets`, only the drops of
    * those jets. Each pulse's stored prev, which the hashes need, comes
    * from `chain`.
    */
  def jetDropsOf(spark: SparkSession, dir: String, chain: Domain.PulseChainIndex,
      pulses: Seq[Long], jets: Option[Set[String]] = None): Rows = {
    val toRow = toScala(Schemas.jetDrops, DropColumns)
    val rows = stored(spark, dir, "jet_drops", TableManifest.snapshot(spark, s"$dir/jet_drops"),
      Schemas.jetDrops, "pulse_number", DropColumns)(_ => pulses.distinct.map(p => s"pulse_number=$p"))
      .map(toRow).filter(r => jets.forall(js => !r.isNullAt(0) && js(r.getString(0))))
    Rows(DropsServingSchema, rows.map { r =>
      val (jet, pulse) = (r.getString(0), r.getLong(3))
      Rows.row(DropsServingSchema, Seq(pulse, jet, r.get(1), r.get(2), dropHash(jet, pulse),
        chain.storedPrev(pulse).map(dropHash(jet, _)).orNull, null))
    })
  }

  /** The rows of `pulses` in `chain`'s pulses snapshot, in [[pulses]]'
    * serving shape, read in the driver from their `pulse_bucket`
    * partitions at the span the manifest's summary records, or, in a
    * table whose manifest has no summary (written before summaries
    * existed), from every live partition.
    */
  def pulsesOf(spark: SparkSession, dir: String, chain: Domain.PulseChainIndex,
      pulses: Seq[Long]): Rows = {
    val wanted = pulses.toSet
    val toRow = toScala(Schemas.pulses, PulseColumns)
    val at = PulseColumns.zipWithIndex.toMap
    val rows = stored(spark, dir, "pulses", chain.pulses, Schemas.pulses, "pulse_bucket",
      PulseColumns) { snap =>
      snap.summary.fold(snap.partitions.keys)(s => pulses.map(p => s"pulse_bucket=${p / s.span}"))
    }.map(toRow).filter(r => !r.isNullAt(0) && wanted(r.getLong(0)))
    Rows(PulsesServingSchema, rows.map { r =>
      def v(c: String) = r.get(at(c))
      Rows.row(PulsesServingSchema, Seq(v("pulse_number"), v("prev_pulse_number"),
        v("next_pulse_number"), v("is_complete"), v("is_sequential"), v("timestamp"),
        if (r.isNullAt(at("jet_drop_amount"))) null else r.getInt(at("jet_drop_amount")).toLong,
        v("record_amount"), v("result_amount")))
    })
  }

  /** Every live pulse's (pulse_number, stored prev_pulse_number) in the
    * pulses snapshot `snap`, read in the driver: the chain index's input.
    */
  def pulseLinks(spark: SparkSession, dir: String,
      snap: Option[TableManifest.Snapshot]): Array[(Long, Long)] =
    stored(spark, dir, "pulses", snap, Schemas.pulses, "pulse_bucket",
      Seq("pulse_number", "prev_pulse_number"))(_.partitions.keys)
      .iterator.map(r => (r.getLong(0), r.getLong(1))).toArray
}
