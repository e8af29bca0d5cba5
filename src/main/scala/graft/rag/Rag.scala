package graft.rag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Embedding, VectorFunctions}
import graft.ingest.Chunker
import graft.operators.{Ivf, Similarity}
import graft.store.{AnnIndexes, Catalog}

/** RAG retrieval + prompt assembly (SURVEY.md §2.5 G1–G5) over a chunk
  * store, plus the end-to-end import pipeline (§3.1's Spark
  * equivalent: the reference's per-chunk Python loop + per-chunk
  * transactions collapse into one distributed chunk+embed+write job).
  *
  * LLM stages are behind pluggable traits with deterministic stubs —
  * mirroring the reference's own no-CUDA degradation where the LLM is
  * silently absent (reference `src/lib/llms.py:18-19`).
  */
object Rag {

  /** E1's LLM priming + G5's generation behind one trait (reference
    * `src/lib/embedding.py:27-55`, `cli/generate_text.py:154-186`). */
  trait TextGenerator extends Serializable {
    def generate(prompt: String, maxTokens: Int, temperature: Double): String
  }

  /** Deterministic stub: echoes a digest of the prompt — referentially
    * transparent, safe on executors, stable in goldens. */
  object StubGenerator extends TextGenerator {
    def generate(prompt: String, maxTokens: Int, temperature: Double): String =
      s"[stub-generation sha=${java.security.MessageDigest.getInstance("SHA-256")
        .digest(prompt.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString}]"
  }

  /** Import pipeline (§3.1): documents → chunk (C1/C2) → embed (E2) →
    * chunk rows with deterministic ids. One narrow map job — no
    * shuffle; embedding runs inside the chunk explode projection. */
  def buildChunks(
      docs: DataFrame,
      modelId: Long,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxTokens: Int = Chunker.LibDefaultMaxTokens,
      dim: Int = Embedding.DefaultDim): DataFrame = {
    Chunker.chunkDocuments(docs.withColumnRenamed(idCol, "source_id"),
        textCol, maxTokens)
      .withColumn("model_id", lit(modelId))
      .withColumn("id", Catalog.chunkId(col("source_id"), col("chunk_number")))
      .withColumn("embedding", Embedding.embedColumn(col("chunk_text"), dim))
  }

  /** [[buildChunks]] with a pluggable — possibly service-backed —
    * embedder: chunking stays the same narrow explode; embedding runs
    * as a batched mapPartitions ([[graft.functions.Embedders
    * .embedDocuments]]), one `embedBatch` call per `batchSize` chunks
    * per partition, so an HTTP embedder amortizes requests instead of
    * paying one round trip per chunk. With `HashEmbedder` the output
    * is bit-identical to [[buildChunks]] (spec-pinned). */
  def buildChunksWith(
      docs: DataFrame,
      modelId: Long,
      embedder: graft.functions.Embedder,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxTokens: Int = Chunker.LibDefaultMaxTokens,
      batchSize: Int = 32): DataFrame =
    graft.functions.Embedders.embedDocuments(
      Chunker.chunkDocuments(docs.withColumnRenamed(idCol, "source_id"),
          textCol, maxTokens)
        .withColumn("model_id", lit(modelId))
        .withColumn("id", Catalog.chunkId(col("source_id"), col("chunk_number"))),
      "chunk_text", "embedding", embedder, batchSize)

  /** G1: query embedding — a driver-side scalar call (the reference
    * embeds the user prompt before querying,
    * `cli/search_doc_chunks.py:68-80`). */
  def embedQuery(prompt: String, dim: Int = Embedding.DefaultDim): Array[Double] =
    Embedding.embed(prompt, dim).map(_.toDouble)

  /** G2 / R1–R7: similarity retrieval over a chunk table. */
  def searchChunks(
      chunks: DataFrame,
      queryVec: Array[Double],
      topK: Int = 10,
      threshold: Double = 0.7): DataFrame =
    Similarity.topK(chunks, "embedding", queryVec, topK, threshold,
      tieBreak = Seq("id"))

  /** Hybrid retrieval: BM25 keyword ranking over `chunk_text` fused
    * with the exact cosine ranking over `embedding` by reciprocal-rank
    * fusion (G2 extended the way production RAG stores pair pgvector
    * with Postgres full-text search). Each leg is bounded to a
    * `poolSize` candidate list before the fuse, so the merge is a join
    * of two small ranked lists; the expensive legs keep their own
    * scale shapes (BM25's filtered explode, cosine's
    * TakeOrderedAndProject). Output: (id, rrf, and the leg ranks for
    * explainability). */
  def searchChunksHybrid(
      chunks: DataFrame,
      queryText: String,
      topK: Int = 10,
      dim: Int = Embedding.DefaultDim,
      poolSize: Int = 50,
      rrfC: Int = 60): DataFrame = {
    import graft.operators.Bm25
    // terms and text are both lowercased: BM25 token match is
    // case-sensitive by contract, the retrieval layer normalizes.
    // The query tokenizes with the SAME script-aware segmentation the
    // corpus side uses (round 12) — a whitespace split would leave a
    // CJK query as one term no document token can equal.
    val terms = graft.operators.TextAnalysis
      .segTokensLocal(queryText.toLowerCase).filter(_.nonEmpty)
    val lexical = Bm25.ranked(
      Bm25.score(
          chunks.withColumn("_lc_text", lower(col("chunk_text"))),
          "_lc_text", "id", terms)
        .select(col("id"), round(col("score"), 4).as("score")),
      "id", "score", poolSize)
    val vector = Bm25.ranked(
      Similarity.topK(chunks, "embedding", embedQuery(queryText, dim),
          poolSize, threshold = -1.0, tieBreak = Seq("id"))
        .select(col("id"), col("similarity")),
      "id", "similarity", poolSize)
    Bm25.rrfFuse(lexical, vector, "id", rrfC, topK)
  }

  /** ANN retrieval over a chunk store: search a build-once multi-table
    * LSH index instead of scanning every embedding — the 100 TB form
    * of `searchChunks` (pgvector's HNSW analogue re-expressed as
    * partition pruning). The index materializes on first use under
    * `indexPath` and is keyed to the store's current file set by the
    * caller (stale after re-import → new path → rebuild). */
  def searchChunksAnn(
      chunks: DataFrame,
      indexPath: String,
      queryVec: Array[Double],
      topK: Int = 10,
      threshold: Double = 0.7,
      tables: Int = 4,
      bits: Int = 8): DataFrame = {
    val spark = chunks.sparkSession
    graft.store.AnnIndexes.materializeAtomic(spark, indexPath) { tmp =>
      Similarity.buildLshIndex(chunks, "embedding", queryVec.length,
        tmp, tables = tables, bits = bits)
    }
    Similarity.lshTopKFromIndex(
        spark.read.parquet(indexPath), "id", "embedding", queryVec, topK,
        bits = bits, tables = tables, tieBreak = Seq("id"))
      .filter(col("similarity") >= threshold)
  }

  /** IVF variant of `searchChunksAnn`: cell-partitioned index + codebook
    * sidecar; nlist adapts to the store size at build (a codebook needs
    * at least as many sample rows as cells).
    *
    * The index is built from the files in `table`, the chunk table's
    * listing, read with `chunks`' schema, and the build records that
    * listing and its row count in the index's `_SOURCE` manifest, so the
    * index and its manifest describe one snapshot. `indexPath`'s name
    * carries `table`'s fingerprint. The index is MAINTAINED like
    * pgvector's IVFFlat: a missing index is first tried as an extension
    * of the newest complete index of an earlier snapshot (a sibling
    * whose name differs only in the fingerprint). When the table grew
    * from that snapshot by appends only and the grown row count keeps
    * the codebook's nlist, the previous index is copied and only the
    * added files are assigned, with its frozen codebook (the
    * add-after-train contract). Otherwise — no sibling, no manifest, a
    * removed or rewritten file (compaction), an nlist step — the index
    * retrains, which also resets centroid drift. */
  private val ivfStoreModels =
    scala.collection.concurrent.TrieMap.empty[String, Ivf.IvfModel]

  def searchChunksAnnIvf(
      chunks: DataFrame,
      table: AnnIndexes.Listing,
      indexPath: String,
      queryVec: Array[Double],
      topK: Int = 10,
      threshold: Double = 0.7,
      nprobe: Int = 4): DataFrame = {
    val spark = chunks.sparkSession
    lazy val rows = table.read(spark, chunks.schema)
    if (emptyStoreNeedsIndex(spark, rows, indexPath))
      return Similarity.topK(rows, "embedding", queryVec, topK, threshold,
        tieBreak = Seq("id"))
    AnnIndexes.materializeAtomic(spark, indexPath) { tmp =>
      val (model, n) = AnnIndexes.newestSibling(spark, indexPath, table.fingerprint)
        .flatMap(extendIvf(spark, chunks.schema, table, _, tmp))
        .getOrElse {
          val n = rows.count()
          (Ivf.buildIndex(rows, "id", "embedding", tmp, nlist = ivfNlist(n)), n)
        }
      ivfStoreModels(indexPath) = model
      AnnIndexes.writeSource(spark, tmp, AnnIndexes.Source(table.entries, n))
    }
    val model = ivfStoreModels.getOrElseUpdate(indexPath,
      Ivf.loadModel(spark, s"$indexPath/_model"))
    Ivf.search(
        spark.read.parquet(indexPath), "embedding", queryVec, model,
        k = topK, nprobe = math.min(nprobe, model.nlist),
        tieBreak = Seq("id"))
      .filter(col("similarity") >= threshold)
  }

  /** IVF list count for a store of `rows` chunks. */
  private def ivfNlist(rows: Long): Int = math.max(1, math.min(16, (rows / 4).toInt))

  /** Build the index for `table` in `tmp` by extending the index at
    * `previous`; returns its codebook and row count, or None when the
    * maintenance rule asks for a retrain. */
  private def extendIvf(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, table: AnnIndexes.Listing,
      previous: String, tmp: String): Option[(Ivf.IvfModel, Long)] =
    for {
      src <- AnnIndexes.readSource(spark, previous)
      added <- table.addedSince(src.entries)
      delta = table.read(spark, schema, added)
      n = src.rows + delta.count()
      model = ivfStoreModels.getOrElse(previous,
        Ivf.loadModel(spark, s"$previous/_model"))
      if model.nlist == ivfNlist(n)
    } yield {
      AnnIndexes.copyIndex(spark, previous, tmp)
      if (n > src.rows) Ivf.appendToIndex(delta, "embedding", tmp, Some(model))
      (model, n)
    }

  private val pqStoreModels =
    scala.collection.concurrent.TrieMap.empty[String, graft.operators.Pq.PqModel]

  /** True when a quantization-trained index would have to be BUILT from
    * an empty store — Ivf/Pq codebooks need sample rows, so callers
    * short-circuit to the exact scan (same empty result the exact and
    * LSH paths return) instead of crashing in train. The isEmpty probe
    * runs only when no completed index exists, so a warm store pays no
    * extra job per search. */
  private def emptyStoreNeedsIndex(
      spark: SparkSession, chunks: => DataFrame, indexPath: String): Boolean =
    !graft.store.AnnIndexes.isComplete(
      spark, new org.apache.hadoop.fs.Path(indexPath)) && chunks.isEmpty

  /** PQ-backed store search: ADC lookup-table scan over the encoded
    * chunk table (build-once, codebook sidecar), exact-cosine re-rank
    * of the candidate set — same scores and threshold semantics as the
    * exact scan, approximation only in WHICH candidates reach the
    * re-rank. Codebook size adapts to tiny stores (k ≤ rows, m chosen
    * to divide the dimension). */
  def searchChunksAnnPq(
      chunks: DataFrame,
      indexPath: String,
      queryVec: Array[Double],
      topK: Int = 10,
      threshold: Double = 0.7,
      refine: Int = 4): DataFrame = {
    val spark = chunks.sparkSession
    if (emptyStoreNeedsIndex(spark, chunks, indexPath))
      return Similarity.topK(chunks, "embedding", queryVec, topK, threshold,
        tieBreak = Seq("id"))
    graft.store.AnnIndexes.materializeAtomic(spark, indexPath) { tmp =>
      val n = chunks.count()
      val dim = queryVec.length
      val m = Seq(8, 4, 2, 1).find(dim % _ == 0).get
      val k = math.max(1, math.min(16, n.toInt))
      val model = graft.operators.Pq.train(chunks, "id", "embedding",
        m = m, k = k)
      pqStoreModels(indexPath) = model
      graft.operators.Pq.encode(chunks, "embedding", model)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
      graft.operators.Pq.saveModel(spark, model, s"$tmp/_model")
    }
    val model = pqStoreModels.getOrElseUpdate(indexPath,
      graft.operators.Pq.loadModel(spark, s"$indexPath/_model"))
    val lut = model.adcTable(queryVec)
    val cands = spark.read.parquet(indexPath)
      .withColumn("adc",
        graft.operators.Pq.adcScoreCol(col("pq_code"), lut, model.k))
      .orderBy(asc("adc"), asc("id"))
      .limit(topK * refine)
      .drop("adc")
    graft.operators.Similarity.topK(cands, "embedding", queryVec,
      topK, threshold, tieBreak = Seq("id"))
  }

  /** G3: fold the ordered top-k into one context string (reference
    * `cli/generate_text.py:68-85`). Executed as an ordered
    * array_sort(collect_list(struct))) aggregation — deterministic
    * without a driver loop; k is small so the single group is fine. */
  def aggregateChunkText(hits: DataFrame): String = {
    // tolerate stores without source metadata joined in
    val withMeta = Seq("title", "author", "publication_date")
      .foldLeft(hits)((d, c) =>
        if (d.columns.contains(c)) d else d.withColumn(c, lit(null: String)))
    val assembled = withMeta
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(
              (-col("similarity")).as("neg_sim"),
              col("id").as("id"),
              col("chunk_text").as("txt"),
              coalesce(col("title"), lit("unknown")).as("title"),
              coalesce(col("author"), lit("unknown")).as("author"),
              coalesce(col("publication_date").cast("string"), lit("unknown"))
                .as("pub")))),
            h => format_string(
              "Excerpt from \"%s\", by %s, published in %s: >>> %s <<<",
              h.getField("title"), h.getField("author"), h.getField("pub"),
              h.getField("txt"))),
          "\n\n"))
      .head()
    if (assembled.isNullAt(0)) "" else assembled.getString(0)
  }

  /** G4: conditional prompt template (reference
    * `cli/generate_text.py:88-142`): disclaimer branch when retrieval
    * is empty, contextualized RAG branch otherwise. */
  def contextualizedPrompt(userPrompt: String, contextText: String): String =
    if (contextText.isEmpty)
      s"""The knowledge base contains no relevant information for this query.
         |Please answer from general knowledge and say that no supporting
         |excerpts were found.
         |
         |Question: $userPrompt""".stripMargin
    else
      s"""Use the following excerpts to answer the question.
         |
         |$contextText
         |
         |Question: $userPrompt""".stripMargin

  /** Full G1–G5 flow: embed → retrieve → assemble → generate. */
  def generate(
      chunks: DataFrame,
      userPrompt: String,
      topK: Int = 5,
      threshold: Double = 0.01,
      dim: Int = Embedding.DefaultDim,
      generator: TextGenerator = StubGenerator,
      maxTokens: Int = 5000,
      temperature: Double = 0.8): String = {
    val hits = searchChunks(chunks, embedQuery(userPrompt, dim), topK, threshold)
    val prompt = contextualizedPrompt(userPrompt, aggregateChunkText(hits))
    generator.generate(prompt, maxTokens, temperature)
  }
}
