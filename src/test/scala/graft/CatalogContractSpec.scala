package graft

/** Driver-contract invariants: every oracle key must name a catalog
  * query (an orphan oracle would make the driver's DuckDB pass fail on a
  * missing parquet dump), oracle SQL must stay single-statement ANSI-ish
  * text the dump layer can JSON-escape, and the oracled set must not
  * shrink.
  */
class CatalogContractSpec extends SparkSpec {

  test("every oracle key has a catalog query") {
    val orphans = Queries.oracle.keySet.diff(Queries.catalog.keySet)
    assert(orphans.isEmpty, s"oracle entries without a catalog query: $orphans")
  }

  test("oracled coverage stays at the declared level") {
    // rows-only queries are the deliberate exceptions (seeded hash
    // families, approximations); everything else must keep its oracle so
    // the driver's correctness gate stays strong. The generated families
    // (centroid, IVF and LSH replays) are part of the snapshot Verify
    // writes, so every catalog query is oracled there.
    val oracled = Queries.oracleFor(spark, "/root/testdata/sf0.001").keySet
    val rowsOnly = Queries.catalog.keySet.diff(oracled)
    val declared = Set.empty[String]
    assert(rowsOnly == declared,
      s"rows-only set drifted: extra=${rowsOnly.diff(declared)} missing=${declared.diff(rowsOnly)}")
    assert(oracled.subsetOf(Queries.catalog.keySet),
      s"generated oracle entries without a catalog query: ${oracled.diff(Queries.catalog.keySet)}")
  }

  test("oracle SQL contains no statement separators") {
    Queries.oracle.foreach { case (name, sql) =>
      assert(!sql.contains(";"), s"$name oracle must be a single statement")
    }
  }
}
