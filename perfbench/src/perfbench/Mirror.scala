package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Driver-side copy of a chunk store's (id, text, embedding) rows: the
  * independent reference that served results are checked against. Top-k
  * is plain double-precision cosine, rounded to 6 places like the
  * library's ranking, ordered by (similarity desc, id asc). */
final class Mirror {
  private val ids = mutable.ArrayBuffer.empty[Long]
  private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
  private val norms = mutable.ArrayBuffer.empty[Double]
  private val byText = mutable.HashMap.empty[String, Long]

  def size: Int = ids.size

  /** Adds the store rows whose id is in `only` (all rows when empty);
    * returns the ids read. */
  def load(spark: SparkSession, chunksPath: String, only: Seq[Long] = Nil): Seq[Long] = {
    val all = spark.read.parquet(chunksPath).select("id", "chunk_text", "embedding")
    val rows = (if (only.isEmpty) all else all.filter(col("id").isin(only: _*))).collect()
    rows.toSeq.map { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Float](2).toArray
      ids += id
      vecs += v
      norms += math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
      byText(r.getString(1)) = id
      id
    }
  }

  def idOfText(text: String): Option[Long] = byText.get(text)

  /** All (id, rounded similarity) pairs at or above `threshold`, ranked. */
  def ranked(q: Array[Double], threshold: Double): IndexedSeq[(Long, Double)] = {
    val qn = math.sqrt(q.foldLeft(0.0)((a, x) => a + x * x))
    val out = mutable.ArrayBuffer.empty[(Long, Double)]
    var i = 0
    while (i < ids.size) {
      val v = vecs(i)
      var dot = 0.0
      var j = 0
      while (j < v.length) { dot += v(j) * q(j); j += 1 }
      val denom = norms(i) * qn
      val sim = if (denom == 0.0) 0.0 else
        BigDecimal(dot / denom).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (sim >= threshold) out += ((ids(i), sim))
      i += 1
    }
    out.sortBy { case (id, s) => (-s, id) }.toIndexedSeq
  }
}

object Mirror {
  /** Share of the reference top-k that `served` retrieved. A served id
    * counts when its reference score ties the k-th reference score to
    * within `eps`, so float summation order cannot flip a tie. */
  def recall(served: Seq[Long], ranked: IndexedSeq[(Long, Double)], k: Int,
      eps: Double = 1e-6): Double = {
    val ref = ranked.take(k)
    if (ref.isEmpty) { if (served.isEmpty) 1.0 else 0.0 }
    else {
      val score = ranked.toMap
      val floor = ref.last._2 - eps
      served.distinct.count(id => score.get(id).exists(_ >= floor)).toDouble / ref.size
    }
  }

  /** The chunk texts of an assembled context string, in rank order
    * (`Rag.aggregateChunkText` wraps each excerpt's text in `>>> `/` <<<`). */
  def contextTexts(context: String): Seq[String] =
    if (context.isEmpty) Nil
    else context.split("\n\n").toSeq.map { ex =>
      val s = ex.indexOf(">>> ")
      val e = ex.lastIndexOf(" <<<")
      require(s >= 0 && e > s, s"unparseable excerpt: ${ex.take(80)}")
      ex.substring(s + 4, e)
    }
}
