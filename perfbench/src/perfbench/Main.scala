package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Benchmark JVM entry point, started by `perfbench/run.py`.
  *
  *   perfbench.Main --workload ingest|serve_mixed[,...]
  *     --seed N --seconds S --trace 0|1 --work-dir DIR --out FILE [--smoke 1]
  *
  * Runs each named workload in one `Tables.session("local[N]", N)`, N the
  * available processors, each in a fresh store under DIR, and writes one
  * JSON document per workload (its run record and its result) to FILE. */
object Main {
  def main(args: Array[String]): Unit = {
    val flags = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workloads = flags("workload").split(",").toSeq
    val seed = flags("seed").toLong
    val seconds = flags("seconds").toDouble
    val trace = flags("trace") == "1"
    val smoke = flags.get("smoke").contains("1")
    val workDir = flags("work-dir")
    val cores = Runtime.getRuntime.availableProcessors()

    val sessionT = System.nanoTime()
    val spark = graft.Tables.session(s"local[$cores]", cores)
    val sessionS = (System.nanoTime() - sessionT) / 1e9
    val docs = try workloads.map { name =>
      val tracer = new Tracer(spark, trace)
      val w = new Workload(spark, name, seed, seconds, smoke, s"$workDir/$name", tracer)
      w.run()
      val doc = report(w, seed, seconds, trace, smoke, cores, sessionS, tracer)
      tracer.stop()
      doc
    } finally {
      graft.Caches.release(spark)
      spark.stop()
    }
    Files.write(Paths.get(flags("out")),
      docs.map(Json.write).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Nearest-rank percentile: the smallest sample with at least `p` of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  private def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  private def v(x: Double, unit: String): (Double, String) = (x, unit)

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def report(w: Workload, seed: Long, seconds: Double, trace: Boolean, smoke: Boolean,
      cores: Int, sessionS: Double, tracer: Tracer): Map[String, Any] = {
    val loop = w.ops.toSeq.filter(_.phase == "loop")
    val queries = loop.filter(_.kind == "query").map(_.ms)
    val imports = w.ops.toSeq.filter(o => o.kind == "import" || o.kind == "append")
    val warmImports = imports.drop(1) // the run's first import carries JVM warm-up
    val loopImports = loop.filter(o => o.kind == "import" || o.kind == "append").map(_.ms)
    val appendMs = if (loopImports.nonEmpty) loopImports
      else warmImports.filter(_.phase.startsWith("setup")).map(_.ms)
    val storeBytes = w.storeBytes()
    val liveChunks = w.liveChunks
    val checksOk = w.checks.nonEmpty && w.checks.values.forall(identity)
    val correct = checksOk && queries.nonEmpty && appendMs.nonEmpty

    val recallSamples = if (w.indexRecalls.nonEmpty) w.indexRecalls else w.recalls
    val recall = recallSamples.sum / math.max(1, recallSamples.size)
    val layers = if (trace) Some(Layers.compute(tracer, w)) else None
    val metrics: Map[String, (Double, String)] = layers.map(_._1).getOrElse(Map(
        "setup_s" -> v(median(w.setupSeconds.toSeq), "s"),
        "ingest_chunks_per_s" ->
          v(warmImports.map(_.chunks).sum / (warmImports.map(_.ms).sum / 1e3), "1/s"),
        "query_p50_ms" -> v(percentile(queries.toSeq, 0.5), "ms"),
        "query_p90_ms" -> v(percentile(queries.toSeq, 0.9), "ms"),
        "append_p50_ms" -> v(median(appendMs.toSeq), "ms"),
        "ops_per_s" -> v(loop.size / (loop.map(_.ms).sum / 1e3), "1/s"),
        "recall_at_5" -> v(recall, "ratio"),
        "disk_bytes_per_chunk" -> v(storeBytes.toDouble / liveChunks, "bytes"),
        "peak_rss_mb" -> v(peakRssMb(), "MB")))

    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "traced" -> trace,
      "smoke" -> smoke, "nproc" -> cores, "session_start_s" -> sessionS,
      "inputs" -> (w.notes.toMap ++ Map(
        "doc_tokens" -> Seq(w.sizes.minTok, w.sizes.maxTok),
        "vocabulary_words" -> w.sizes.corpus.vocab,
        "zipf_exponent" -> w.sizes.corpus.zipfExponent,
        "topical_share" -> w.sizes.corpus.topicalShare,
        "prompt_vocabulary_words" -> Gen.PromptVocab,
        "embedding_memo_words" -> Gen.EmbeddingMemoWords,
        "distinct_words_imported" -> w.importedWords.size,
        "store_bytes" -> storeBytes, "live_chunks" -> liveChunks)),
      "setup_s_each" -> w.setupSeconds,
      "samples" -> Map("queries" -> queries.size, "loop_imports" -> loopImports.size,
        "append_p50_from" -> appendMs.size, "recall" -> recallSamples.size,
        "served_recall" -> w.recalls.size),
      "served_recall_at_5" -> w.recalls.sum / math.max(1, w.recalls.size),
      "attempted" -> w.attempted, "failed" -> w.failed,
      "error_rate" -> w.failed.toDouble / math.max(1, w.attempted),
      "checks" -> w.checks,
      "loop_ms_per_op" -> loop.groupBy(_.kind).map { case (k, os) => k -> os.map(_.ms).sum / os.size },
      "loop_ops" -> loop.size,
      "loop_query_ms" -> queries)
    layers.foreach { case (_, table) =>
      record("self_time") = table
      record("trace") = Layers.dump(tracer)
    }
    Map("record" -> record,
      "result" -> Map("correct" -> correct, "attempted" -> w.attempted, "failed" -> w.failed,
        "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }))
  }
}
