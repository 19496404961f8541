package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic constant-memory sketches: KMV (k-minimum-values)
  * distinct counting and bottom-k-sample percentiles.
  *
  * Spark's own `approx_count_distinct` / `percentile_approx` ride
  * internal HLL++/GK state that no other engine reproduces, so queries
  * built on them can only ever be rows-only checked. These sketches make
  * the opposite trade: the "randomness" is the engine's seeded xxhash64
  * (exactly replayable — see [[graft.functions.HashReplaySql]]), the
  * estimators are plain arithmetic with a pinned operation order, and no
  * libm call (ln/log2, which differ across platforms in the last ulp)
  * appears anywhere — so the DuckDB oracle matches the estimates
  * BIT-EXACTLY, not within tolerance.
  *
  * Scale shape: both sketches are ONE hash aggregate whose per-group
  * state is a size-capped heap ([[graft.functions.expressions.BoundedMinK]] /
  * [[graft.functions.expressions.BoundedMinKSample]]) — O(k) memory per
  * group regardless of group size, associative partial merge (map-side
  * combine), no per-group sort anywhere. A window-rank formulation was
  * the first cut and sorts every group end to end; the k smallest hashes
  * are order-free, so the aggregate form computes the identical estimate.
  */
object Sketches {

  /** Signed column that orders like the UNSIGNED value of xxhash64(c):
    * flipping the sign bit maps unsigned order onto signed order, so
    * `ORDER BY u` ranks hashes uniformly in [0, 2^64).
    */
  private def unsignedOrderHash(c: Column): Column =
    xxhash64(c).bitwiseXOR(lit(Long.MinValue))

  private val Two63 = 9.223372036854775808e18 // exactly 2^63 in double
  private val Two64 = 1.8446744073709551616e19 // exactly 2^64 in double

  /** Per-`group` KMV distinct estimate of `key` plus interpolated
    * percentiles of `value` over a deterministic bottom-`kSample` row
    * sample (sampled by hash of `sampleId`). Output: (group,
    * kmv_distinct, p&lt;q&gt;... ) — one row per group.
    *
    * KMV: the k-th smallest of n uniform hashes sits near k/n of the
    * range, so n̂ = (k−1) / (v_k / 2^64); with fewer than k distinct
    * hashes the sketch holds them all and the count is exact.
    * Percentiles: exact interpolated order statistics OF THE SAMPLE —
    * pos = q·(m−1), linear between the two neighbouring sample values.
    */
  def eventSketch(
      df: DataFrame,
      group: Column,
      key: Column,
      value: Column,
      sampleId: Column,
      kDistinct: Int,
      kSample: Int,
      quantiles: Seq[Double]
  ): DataFrame = {
    require(kDistinct >= 2 && kSample >= 2, "sketch sizes must be >= 2")
    import graft.functions.expressions.SketchAggregates.{boundedMinK, boundedMinKSample}

    // ---- KMV distinct: k smallest distinct hashes per group ----
    // the distinct() is itself a map-side-combined aggregate; fewer than
    // kDistinct survivors means the sketch saw every distinct key
    val kmv = df.select(group.as("g"), unsignedOrderHash(key).as("u")).distinct()
      .groupBy(col("g"))
      .agg(boundedMinK(col("u"), kDistinct).as("us"))
      .select(col("g"),
        when(size(col("us")) < kDistinct, size(col("us")).cast("double"))
          .otherwise(lit((kDistinct - 1).toDouble) /
            ((element_at(col("us"), kDistinct).cast("double") + lit(Two63)) / lit(Two64)))
          .as("kmv_distinct"))

    // ---- bottom-k row sample (by id hash, id tiebreak), payloads
    // returned value-sorted → interpolated order statistics by index ----
    val pcts = df.select(group.as("g"), value.as("v"), sampleId.as("sid"))
      .groupBy(col("g"))
      .agg(boundedMinKSample(
        unsignedOrderHash(col("sid")), col("sid"), col("v"), kSample).as("vs"))
    val pctCols = quantiles.map { q =>
      val m = size(col("vs"))
      val pos = lit(q) * (m - 1).cast("double")
      val lo = floor(pos)
      val frac = pos - lo
      val vLo = element_at(col("vs"), (lo + 1).cast("int"))
      val vHi = element_at(col("vs"), least(lo + 2, m.cast("double")).cast("int"))
      // all-null value/id inputs leave an empty sample: index 0 would
      // throw at runtime ("SQL array indices start at 1") where the
      // relational answer is NULL (CaseWhen leaves the untaken branch
      // unevaluated, so the guard is enough)
      when(m === 0, lit(null).cast("double"))
        .otherwise(vLo + (vHi - vLo) * frac).as(s"p${(q * 100).round}_value")
    }

    // null-safe equality: a NULL group key is a real group (both
    // aggregates emit a row for it), and a plain equi-join on "g" would
    // silently drop it — <=> keeps the join a hash join AND keeps the
    // NULL group
    val p = pcts.select(col("g").as("_pg") +: pctCols: _*)
    kmv.join(p, col("g") <=> col("_pg")).drop("_pg")
  }
}
