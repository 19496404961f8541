package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Corpus sizes the catalog plans with come from parquet footers, per
  * call, with no per-dir state: the footer sum equals `count()`, and a
  * rewritten corpus is seen by the next call once the writer invalidates
  * the path (the table itself or an ancestor dir), both by
  * dd_embed_lsh's sizing and by the oracle's replay of it.
  */
class CorpusSizesSpec extends SparkSpec {

  private def planeRows(sql: String): Int =
    "\\(\\d+,\\s*\\d+,\\s*CAST\\(\\[".r.findAllIn(sql).length

  test("the footer row count equals count() for documents and embeddings, " +
      "and sums every part file of a multi-file table") {
    for (sf <- Seq("sf0.001", "sf0.01"); name <- Seq("documents", "embeddings")) {
      val df = graft.model.Domain.table(spark, s"/root/testdata/$sf", name)
      assert(graft.model.Domain.footerRows(df) == df.count(), s"$sf/$name")
    }
    val dir = Files.createTempDirectory("footer-rows").toString
    spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").repartition(3)
      .write.parquet(s"$dir/embeddings.parquet")
    val parts = graft.model.Domain.embeddings(spark, dir)
    assert(parts.inputFiles.length == 3, parts.inputFiles.toSeq)
    assert(graft.model.Domain.footerRows(parts) == parts.count())
  }

  /** Write a 500-row corpus to a fresh dir, size it, rewrite it with 2,000
    * rows, `invalidate` the path `invalidated(dir)` names, and check that
    * `embLshSizes` and the dd_embed_lsh oracle follow the new corpus.
    */
  private def followsRewrite(invalidated: String => String): Unit = {
    val dir = Files.createTempDirectory("corpus-sizes").toString
    val path = s"$dir/embeddings.parquet"
    val src = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    src.write.parquet(path)
    val (n0, bits0, tables0) = Queries.embLshSizes(spark, dir)
    assert(n0 == 500L)
    assert(planeRows(Queries.oracleFor(spark, dir)("dd_embed_lsh")) == bits0 * tables0)

    (0 until 4).map(k => src.withColumn("vec_id", col("vec_id") + k * 500L))
      .reduce(_ union _)
      .write.mode("overwrite").parquet(path)
    graft.sources.RelationCache.invalidate(invalidated(dir))
    val (n1, bits1, tables1) = Queries.embLshSizes(spark, dir)
    assert(n1 == 2000L, "the sizing must read the rewritten corpus")
    assert(bits1 == graft.vector.CosineDedup.bitsFor(
      n1, Queries.EmbLshThreshold, Queries.EmbLshTargetRecall, dim = 64))
    assert(tables1 == graft.vector.CosineDedup.tablesFor(
      Queries.EmbLshThreshold, bits1, Queries.EmbLshTargetRecall))
    assert(planeRows(Queries.oracleFor(spark, dir)("dd_embed_lsh")) == bits1 * tables1,
      "the oracle must replay the rewritten corpus's geometry")
    assert((bits1, tables1) != ((bits0, tables0)),
      s"4x the corpus must move the geometry off $bits0 bits x $tables0 tables")
  }

  test("a rewritten corpus resizes dd_embed_lsh and its oracle after the " +
      "table path is invalidated") {
    followsRewrite(dir => s"$dir/embeddings.parquet")
  }

  test("a rewritten corpus resizes dd_embed_lsh and its oracle after an " +
      "ancestor dir is invalidated") {
    followsRewrite(dir => dir)
  }
}
