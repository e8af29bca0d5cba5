package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Continuous document ingestion: `readStream` over a documents
  * directory, with each micro-batch running the SAME import pipeline
  * as the batch CLI (model upsert, null-safe source upsert, chunk +
  * embed, append to the model_id-partitioned chunk store) through
  * `foreachBatch`.
  *
  * Design stance: streaming and batch ingest share ONE code path
  * (`cli.Demo.importDocs`), so stream == batch holds by construction
  * rather than by parallel maintenance of two pipelines —
  * StreamingSpec pins it anyway (same chunk set, same search results).
  * The store's append-only layout is what makes this safe:
  *  - upserts are insert-if-absent with null-safe keys, so a source
  *    seen in an earlier micro-batch is not re-inserted;
  *  - chunk ids are deterministic (doc_id, chunk_number) composites,
  *    so replays/speculation never mint conflicting ids;
  *  - chunk writes append; the small-file accumulation every streaming
  *    sink suffers is handled by `Catalog.compactChunks` exactly as
  *    for batch imports; the store's IVF index extends after appends
  *    (`Rag.searchChunksAnnIvf`), LSH and PQ indexes rebuild on
  *    fingerprint change (or extend via appendToLshIndex /
  *    Pq.appendToIndex).
  *
  * At scale this is the file-arrival ingest loop: new parquet drops in
  * `docsDir` are discovered by the source, processed once (checkpoint
  * tracks files), and land queryable in the store. `maxFilesPerTrigger`
  * bounds micro-batch size — embedding is the per-row hot spot, so
  * batches should be sized to the executor budget, not to file counts.
  */
object StreamingIngest {

  /** Start the ingest stream over `docsDir` (parquet files with at
    * least doc_id + text; sidecar metadata columns optional). Runs
    * until all currently-available files are processed
    * (Trigger.AvailableNow) — pass a checkpoint dir to make repeated
    * invocations incremental across restarts. */
  def ingestStream(
      spark: SparkSession,
      docsDir: String,
      schema: StructType,
      store: String,
      model: String,
      dim: Int,
      maxTokens: Int,
      maxFilesPerTrigger: Int = 1,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(docsDir)
    val sink = src.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.cli.Demo.importDocs(spark, batch, store, model, dim, maxTokens)
      }
    checkpointDir.fold(sink)(d => sink.option("checkpointLocation", d)).start()
  }

  /** Streaming ANN-index maintenance: each micro-batch of newly-landed
    * vectors is appended into a materialized multi-table LSH index via
    * the SAME explode/partition/write pipeline as the batch build
    * ([[graft.operators.Similarity.appendToLshIndex]] — one shared
    * definition, so stream ≡ batch-rebuild holds by construction;
    * StreamingSpec pins it anyway: identical index contents AND
    * identical search results).
    *
    * Exactly-once: the file source's checkpoint tracks processed
    * files, so each vector file is appended once across restarts. Like
    * the batch append, a crash MID-batch can leave partial files — the
    * same non-atomicity appendToLshIndex documents; a production
    * deployment appends into a per-epoch snapshot version and commits
    * it to the index manifest (the Compaction.streamingManifest
    * pattern). Hyperplanes are seed-derived, so the SAME
    * tables/bits/seed as the base index MUST be passed.
    *
    * At 100 TB this is the embedding-ingest loop: the nightly O(corpus)
    * rebuild becomes an O(new-data) continuous append, with hot
    * (table, bucket) partition dirs compacted periodically. */
  def indexStream(
      spark: SparkSession,
      vecsDir: String,
      schema: StructType,
      indexPath: String,
      embCol: String,
      dim: Int,
      tables: Int = 4,
      bits: Int = 8,
      seed: Long = 42L,
      maxFilesPerTrigger: Int = 1,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val src = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(vecsDir)
    val sink = src.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.operators.Similarity.appendToLshIndex(
            batch, embCol, dim, indexPath, tables, bits, seed)
      }
    checkpointDir.fold(sink)(d => sink.option("checkpointLocation", d)).start()
  }
}
