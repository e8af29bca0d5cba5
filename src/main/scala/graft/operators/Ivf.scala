package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** IVF (inverted-file) approximate nearest neighbor: the second scale
  * path beside hyperplane LSH (SURVEY.md §7.1 step 10).
  *
  * Index build is a batch job (the north-star decomposition: batch
  * index build fits Spark; assignment is a narrow map): train a small
  * centroid codebook on a driver-side sample (deterministic k-means,
  * spherical/cosine variant), then assign every corpus row to its
  * nearest centroid cell as a column. A corpus written
  * `partitionBy("ivf_cell")` turns query-time cell selection into
  * partition pruning: a query scans nprobe/nlist of the data.
  *
  * Query: score the codebook on the driver (nlist ≪ corpus, O(nlist·dim)),
  * keep the top `nprobe` cells, filter + exact cosine top-k within.
  */
object Ivf {

  case class IvfModel(centroids: Array[Array[Double]]) {
    def nlist: Int = centroids.length
    def dim: Int = centroids.head.length

    private def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }

    /** Cells ranked by centroid-query cosine (centroids are unit
      * norm, so dot = cosine up to the query's constant norm). */
    def rankCells(query: Array[Double]): Array[Int] =
      centroids.zipWithIndex
        .map { case (c, i) => (dot(c, query), i) }
        .sortBy { case (d, i) => (-d, i) }
        .map(_._2)
  }

  private def l2n(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** Deterministic spherical k-means on a sampled subset. The sample
    * is the `sampleSize` lowest-id rows (stable across runs and
    * partitionings); init = evenly strided sample vectors. Driver-side
    * by design: the codebook is tiny and training data is a sample —
    * this is index BUILD, not a per-query cost. */
  def train(
      corpus: DataFrame, idCol: String, embCol: String,
      nlist: Int, iters: Int = 5, sampleSize: Int = 2048): IvfModel = {
    val sample = corpus
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .orderBy(idCol)
      .limit(sampleSize)
      .collect()
      .map(r => l2n(r.getSeq[Double](1).toArray))
    require(sample.length >= nlist, s"sample ${sample.length} < nlist $nlist")

    var centroids = Array.tabulate(nlist)(i =>
      sample(i * sample.length / nlist))
    for (_ <- 0 until iters) {
      val model = IvfModel(centroids)
      val assigned = sample.groupBy(v => model.rankCells(v).head)
      centroids = Array.tabulate(nlist) { c =>
        assigned.get(c) match {
          case Some(vs) =>
            val acc = new Array[Double](vs.head.length)
            vs.foreach { v =>
              var i = 0; while (i < acc.length) { acc(i) += v(i); i += 1 }
            }
            l2n(acc)
          case None => centroids(c) // empty cell keeps its centroid
        }
      }
    }
    IvfModel(centroids)
  }

  /** Nearest-centroid cell as a column expression: array_max over
    * (dot, -idx) structs — all codegen'd dot products, no UDF. */
  def cellOf(emb: Column, model: IvfModel): Column = {
    val scored = array(model.centroids.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      struct(
        VectorFunctions.dot_product(emb, typedLit(c)).as("score"),
        lit(-i).as("negidx"))
    }: _*)
    (-array_max(scored).getField("negidx")).cast("int")
  }

  /** The row's top-`p` nearest cells as an array<int> — multi-probe
    * ASSIGNMENT (the index-side dual of query-time nprobe): a vector
    * sitting on a cell boundary is indexed under both neighbors, so a
    * near-dup pair split by the boundary still shares a cell. Work
    * scales linearly in p (p copies of each row in the cell join),
    * recall rises much faster — the boundary loss is the dominant
    * miss mode for cell-pruned pair detection. */
  def topCellsOf(emb: Column, model: IvfModel, p: Int): Column = {
    val scored = array(model.centroids.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      struct(
        VectorFunctions.dot_product(emb, typedLit(c)).as("score"),
        lit(-i).as("negidx"))
    }: _*)
    transform(slice(sort_array(scored, asc = false), 1, p),
      s => (-s.getField("negidx")).cast("int"))
  }

  /** Assign every row its IVF cell (write with partitionBy("ivf_cell")
    * for partition-pruned search). */
  def assign(corpus: DataFrame, embCol: String, model: IvfModel): DataFrame =
    corpus.withColumn("ivf_cell", cellOf(col(embCol), model))

  /** Ingest-time index build: train the codebook, write the corpus
    * cell-partitioned (query-time cell selection = partition pruning),
    * and persist the codebook as a `_model` sidecar (underscore dirs
    * are invisible to partition discovery) so a fresh process can
    * search without retraining. */
  def buildIndex(
      corpus: DataFrame, idCol: String, embCol: String, path: String,
      nlist: Int, iters: Int = 5, sampleSize: Int = 2048): IvfModel = {
    val model = train(corpus, idCol, embCol, nlist, iters, sampleSize)
    assign(corpus, embCol, model)
      // one writer task per cell → one file per partition dir (at
      // larger scale raise this to a few tasks per hot cell)
      .repartition(col("ivf_cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("ivf_cell")
      .parquet(path)
    saveModel(corpus.sparkSession, model, s"$path/_model")
    model
  }

  /** Incremental index maintenance: assign NEW rows with the EXISTING
    * codebook and append them cell-partitioned — O(new data), no
    * retrain, no rewrite of resident cells. This is IVF's standing
    * add-after-train contract: the codebook is fixed at build time and
    * new vectors land in their nearest existing cell; centroid drift
    * is handled by a periodic full rebuild (a compaction job), never
    * per batch. `model` is the index's codebook when the caller already
    * holds it; otherwise it is loaded from the `_model` sidecar. Returns
    * the codebook so callers can search immediately. Caller:
    * `Rag.searchChunksAnnIvf`, which extends the store's index after
    * appends instead of retraining it. */
  def appendToIndex(
      newRows: DataFrame, embCol: String, path: String,
      model: Option[IvfModel] = None): IvfModel = {
    val codebook = model.getOrElse(loadModel(newRows.sparkSession, s"$path/_model"))
    assign(newRows, embCol, codebook)
      .repartition(col("ivf_cell"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("ivf_cell")
      .parquet(path)
    codebook
  }

  /** Persist a codebook as (cell, centroid) parquet. */
  def saveModel(
      spark: org.apache.spark.sql.SparkSession, model: IvfModel,
      path: String): Unit = {
    import spark.implicits._
    model.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
  }

  /** Load a codebook written by saveModel. */
  def loadModel(
      spark: org.apache.spark.sql.SparkSession, path: String): IvfModel =
    IvfModel(
      spark.read.parquet(path)
        .orderBy("cell")
        .collect()
        .map(r => r.getSeq[Double](1).toArray))

  /** ANN search: top-k within the query's `nprobe` nearest cells. */
  def search(
      indexed: DataFrame, embCol: String, queryVec: Array[Double],
      model: IvfModel, k: Int, nprobe: Int,
      tieBreak: Seq[String] = Seq.empty): DataFrame = {
    val cells = model.rankCells(l2n(queryVec)).take(nprobe).toSeq
    Similarity.topK(
      indexed.filter(col("ivf_cell").isin(cells: _*)),
      embCol, queryVec, k, threshold = -1.0, tieBreak = tieBreak)
  }
}
