package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF-style ANN: partition the corpus into cells around centroids,
  * search only the `nProbe` cells nearest the query, exact re-rank
  * inside. The cell assignment is the write-side index pass (one scan);
  * queries prune to nProbe/nCells of the corpus.
  *
  * Centroids here are a deterministic seeded sample of corpus vectors
  * (hash-ordered, unit-normalized) — a k-means refinement would slot into
  * `centroids` without touching assignment or search, which only see
  * (cell → vector). The scale path persists the assignment once and reads
  * only probed cell partitions per query — see [[AnnIndex]]; `topK` here
  * is the index-free form for small/ad-hoc corpora.
  */
object Ivf {

  /** Deterministic centroid sample: nCells corpus vectors in xxhash64
    * order of their ids (TakeOrderedAndProject — per-partition top-k +
    * driver merge, no full sort), L2-NORMALIZED so that dot-product argmax
    * against them is true cosine-argmax.
    */
  def centroids(
      embeddings: DataFrame,
      nCells: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): Array[Seq[Float]] = {
    import embeddings.sparkSession.implicits._
    embeddings
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(nCells)
      .select(col(vecCol)).as[Seq[Float]].collect()
      .map { c =>
        val n = math.sqrt(c.map(v => v.toDouble * v.toDouble).sum)
        if (n == 0) c else c.map(v => (v / n).toFloat)
      }
  }

  /** Spherical k-means refinement of a centroid set: assign cells, take
    * the per-cell mean (via posexplode + per-(cell, dim) average — one
    * scan per iteration, all map-side-combined), re-normalize to unit
    * length. Empty cells keep their seed. On corpora with real cluster
    * structure this tightens cells around the clusters; NOTE measured on
    * the near-uniform synthetic testdata it etches cells too evenly and
    * LOWERS recall at a fixed probe budget (0.8 → 0.7 at nProbe=6/16
    * cells), so [[AnnIndex.ensureIvf]] stays on sample
    * centroids by default and callers opt in for clustered data.
    */
  def refineCentroids(
      embeddings: DataFrame,
      cents: Array[Seq[Float]],
      iterations: Int = 1,
      vecCol: String = "embedding"
  ): Array[Seq[Float]] = {
    var cs = cents
    for (_ <- 0 until iterations) {
      val means = embeddings
        .withColumn("cell", cellOf(col(vecCol), cs))
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("i", "v")))
        .groupBy(col("cell"), col("i")).agg(avg(col("v")).as("m"))
        .collect()
      val byCell = means.groupBy(_.getInt(0))
      cs = cs.indices.map { c =>
        byCell.get(c).fold(cs(c)) { rows =>
          val arr = new Array[Double](rows.map(_.getInt(1)).max + 1)
          rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
          val n = math.sqrt(arr.map(v => v * v).sum)
          (if (n == 0) arr else arr.map(_ / n)).map(_.toFloat).toSeq
        }
      }.toArray
    }
    cs
  }

  /** Nearest-centroid cell id for a vector column: argmax dot over the
    * (small, driver-held, unit-norm) centroid set = argmax cosine. One
    * native-kernel dot per centroid — an index-build pass, same
    * planning-cost reasoning as the LSH signature.
    */
  def cellOf(vec: Column, cents: Array[Seq[Float]]): Column = {
    val scored = cents.zipWithIndex.map { case (c, i) =>
      struct(
        graft.vector.expressions.VectorExpressions.vecDot(vec, typedlit(c.toArray)).as("dot"),
        lit(i).as("cell"))
    }
    array_max(array(scored: _*)).getField("cell")
  }

  /** Array of the `p` nearest cell ids for a vector column (struct-sorted
    * by dot descending against the unit-norm centroid set = cosine order;
    * ties break on the higher cell id, deterministic). The column form of
    * [[cellsByAffinity]]`.take(p)` — used for soft assignment (SemDeDup)
    * and batch IVF probing.
    */
  def topCells(vec: Column, cents: Array[Seq[Float]], p: Int): Column = {
    val scored = array(cents.zipWithIndex.map { case (c, i) =>
      struct(
        graft.vector.expressions.VectorExpressions.vecDot(vec, typedlit(c.toArray)).as("dot"),
        lit(i).as("cell"))
    }: _*)
    slice(reverse(sort_array(scored)), 1, p).getField("cell")
  }

  /** Driver-side mirror of [[cellOf]] for the query vector. */
  def cellsByAffinity(q: Seq[Float], cents: Array[Seq[Float]]): Seq[Int] =
    cents.zipWithIndex
      .map { case (c, i) => (c.zip(q).map { case (a, b) => a.toDouble * b }.sum, i) }
      .sortBy { case (d, i) => (-d, -i) }
      .map(_._2)

  /** IVF top-k: assign, prune to the query's nProbe best cells, exact
    * re-rank with the codegen'd kernel.
    */
  def topK(
      embeddings: DataFrame,
      query: Seq[Float],
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val cents = centroids(embeddings, nCells, idCol, vecCol)
    val probed = cellsByAffinity(query, cents).take(nProbe)
    embeddings
      .withColumn("cell", cellOf(col(vecCol), cents))
      .filter(col("cell").isin(probed: _*))
      .select(col(idCol), Similarity.cosineLit(col(vecCol), query).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }
}
