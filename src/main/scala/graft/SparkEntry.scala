package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The real surface lives in [[Queries]]; this object just adapts it.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.catalog

  /** The static oracle entries: ANSI SQL runnable by DuckDB on the same
    * parquet tables, for every query whose oracle needs no literals from
    * the corpus. Omitted for non-SQL-expressible ops (seeded hash
    * families, typed flatMapGroups) → rows-only check. The generated
    * entries (centroid, IVF and LSH replays) depend on the corpus; Verify
    * assembles them with [[Queries.oracleFor]] when it writes
    * `oracle_sql.json`.
    */
  def oracleSql: Map[String, String] = Queries.oracle
}
