package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cli.Demo
import graft.functions.Embedding
import graft.ingest.Chunker
import graft.rag.Rag
import graft.store.{AnnIndexes, Catalog}

/** Input sizes of one workload. Documents of the `serve_mixed` store are
  * single-chunk (at most `MaxTokens` tokens) from a vocabulary that fits
  * the embedder's memo; the ingest corpus's vocabulary does not.
  * `warmQueries` untimed prompts precede a timed loop of exact prompts. */
final case class Sizes(
    setups: Int, setupDocs: Int, batches: Int, batchDocs: Int, minTok: Int, maxTok: Int,
    corpus: Corpus, minQueries: Int, cyclePrompts: Int, warmQueries: Int)

object Sizes {
  def of(workload: String, smoke: Boolean): Sizes = (workload, smoke) match {
    case ("ingest", false) => Sizes(3, 8, 3, 70, 200, 1500, Gen.IngestCorpus, 100, 0, 8)
    case ("ingest", true) => Sizes(2, 4, 1, 6, 200, 1500, Gen.IngestCorpus, 3, 0, 1)
    case ("serve_mixed", false) => Sizes(3, 600, 0, 0, 100, 400, Gen.ServeCorpus, 0, 7, 0)
    case ("serve_mixed", true) => Sizes(2, 40, 0, 0, 100, 400, Gen.ServeCorpus, 0, 3, 0)
    case (w, _) => throw new IllegalArgumentException(s"unknown workload '$w'")
  }
}

/** One op of the closed loop or of set-up, as timed. */
final case class OpRec(id: Int, kind: String, phase: String, ms: Double, chunks: Int)

/** One workload run: a single client in a closed loop, so the next op
  * starts only when the previous one has returned. Output checks run
  * between ops and are never inside a timing. */
final class Workload(val spark: SparkSession, val name: String, seed: Long,
    seconds: Double, smoke: Boolean, workDir: String, val tracer: Tracer) {
  import Workload._

  val sizes: Sizes = Sizes.of(name, smoke)
  val gen = new Gen(seed, sizes.corpus)
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val notes = mutable.LinkedHashMap.empty[String, Any]
  val recalls = mutable.ArrayBuffer.empty[Double]
  val indexRecalls = mutable.ArrayBuffer.empty[Double]
  val setupSeconds = mutable.ArrayBuffer.empty[Double]
  /** Traced-run op ids at which a `Demo.search` call built an index. */
  val indexBuildOps = mutable.ArrayBuffer.empty[Int]
  /** Traced-run store file count observed at each query op. */
  val filesAtQuery = mutable.ArrayBuffer.empty[Int]
  /** Hits served by each successful query op, by op id. */
  val served = mutable.HashMap.empty[Int, Int]
  /** Traced-run bytes of the files each query op's scans selected. */
  val scanBytes = mutable.HashMap.empty[Int, Long]
  var attempted = 0
  var failed = 0
  private var opId = 0
  private var store = ""
  private def chunksPath = s"$store/chunks"
  private var mirror = new Mirror
  /** Distinct words in every document imported by the run. */
  val importedWords = mutable.HashSet.empty[String]

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks(name) = checks.getOrElse(name, true) && ok
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
  }

  /** Times `body` as one op. An op that throws a non-fatal exception
    * counts as failed and records no timing; a fatal error ends the run. */
  private def timedOp[T](kind: String, phase: String, chunks: Int = 0)(body: => T): Option[T] = {
    attempted += 1
    val id = opId
    opId += 1
    val t = System.nanoTime()
    try {
      val r = tracer.op(id, kind)(body)
      ops += OpRec(id, kind, phase, (System.nanoTime() - t) / 1e6, chunks)
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] op $kind failed: $e")
        None
    }
  }

  private def docsDf(docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(
      docs.map(d => Row(d.id, d.title, d.author, "novel", "fantasy", d.year, d.text)).asJava,
      DocsSchema)

  private def chunkCount(docs: Seq[Doc]): Int =
    docs.map(d => Chunker.chunkText(d.text, MaxTokens).size).sum

  /** One `Demo.importDocs` call (an import batch or an appended book).
    * The traced run follows it with replays of the chunking and
    * embedding layers on the same inputs. */
  private def importOp(kind: String, phase: String, docs: Seq[Doc]): Boolean = {
    val df = docsDf(docs)
    val n = chunkCount(docs)
    val ok = timedOp(kind, phase, n) {
      tracer.span("cli.import")(
        Demo.importDocs(spark, df, store, Embedding.DefaultModel, Dim, MaxTokens))
      if (tracer.on) {
        tracer.span("ingest.chunk")(
          Chunker.chunkDocuments(df, maxTokens = MaxTokens)
            .agg(count(lit(1)), sum(length(col("chunk_text")))).head())
        val texts = docs.flatMap(d => Chunker.chunkText(d.text, MaxTokens))
        tracer.span("functions.embed")(texts.foreach(t => Replay.embed(t, Dim)))
      }
    }.isDefined
    if (ok) docs.foreach(d => d.text.split(' ').foreach(importedWords += _))
    ok
  }

  /** The `Demo generate` steps for one prompt: search, assemble the
    * context, build the prompt, generate. Returns the context text.
    * The untraced run keeps the CLI's fused path; the traced run collects
    * the hits first so retrieval and assembly get separate spans. */
  private def promptOp(ann: String, prompt: String, phase: String): Option[String] = {
    val before = if (tracer.on) indexDirs() else Set.empty[String]
    val id = opId
    val r = timedOp("query", phase) {
      if (tracer.on) {
        tracer.span("rag.embed_query")(Rag.embedQuery(prompt, Dim))
        tracer.span("store.fingerprint")(AnnIndexes.fingerprint(spark, chunksPath))
      }
      val hits = tracer.span("cli.search")(
        Demo.search(spark, store, prompt, TopK, Threshold, Dim, ann))
      val withText =
        if (hits.columns.contains("chunk_text")) hits
        else hits.join(spark.read.parquet(chunksPath), Seq("id"), "left")
      val context =
        if (!tracer.on) Rag.aggregateChunkText(withText)
        else {
          val rows = tracer.span("operators.topk")(withText.collect())
          scanBytes(id) = ScanBytes.of(withText)
          val local = spark.createDataFrame(rows.toSeq.asJava, withText.schema)
          tracer.span("rag.assemble")(Rag.aggregateChunkText(local))
        }
      val assembled = tracer.span("rag.assemble")(Rag.contextualizedPrompt(prompt, context))
      tracer.span("rag.generate")(Rag.StubGenerator.generate(assembled, 5000, 0.8))
      context
    }
    r.foreach(c => served(id) = Mirror.contextTexts(c).size)
    if (tracer.on) {
      filesAtQuery += parquetFiles()
      if ((indexDirs() -- before).nonEmpty) indexBuildOps += id
    }
    r
  }

  /** Served ids of a context, checked against the mirror's exact top-k. */
  private def scorePrompt(prompt: String, context: String, exact: Boolean): Seq[Long] = {
    val ids = Mirror.contextTexts(context).map(t => mirror.idOfText(t).getOrElse(-1L))
    val ranked = mirror.ranked(Rag.embedQuery(prompt, Dim), Threshold)
    val rec = Mirror.recall(ids, ranked, TopK)
    recalls += rec
    check("served_ids_known", !ids.contains(-1L), s"prompt '$prompt'")
    if (exact) check("exact_top5_matches_reference",
      rec == 1.0 && ids.size == math.min(TopK, ranked.size),
      s"prompt '$prompt' served=$ids reference=${ranked.take(TopK)}")
    ids
  }

  /** Recall@k of the IVF index the program last built, over `IndexRecallPrompts`
    * seeded prompts, each scored on the index's own codebook and stored cell
    * assignments against the mirror's exact top-k. The number of probed
    * cells is the smallest that reproduces every prompt `served` from this
    * index; when none does, nothing is recorded and `recall_at_5` falls back
    * to the served prompts. */
  private def indexRecall(served: Seq[(String, Seq[Long])], cycle: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(store)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newest = fs.listStatus(p).filter(st => st.getPath.getName.startsWith("ann_ivf_") &&
      fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_model")))
      .sortBy(_.getModificationTime).lastOption
    newest.foreach { st =>
      val dir = st.getPath.toString
      val model = graft.operators.Ivf.loadModel(spark, s"$dir/_model")
      val cellOf = spark.read.parquet(dir).select("id", "ivf_cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      def probed(q: Array[Double], nprobe: Int): IndexedSeq[(Long, Double)] = {
        val cells = model.rankCells(q).take(nprobe).toSet
        mirror.ranked(q, Threshold).filter { case (id, _) => cellOf.get(id).exists(cells) }
      }
      val queries = served.map { case (prompt, ids) => (Rag.embedQuery(prompt, Dim), ids) }
      (1 to model.nlist).find(n => queries.forall { case (q, ids) =>
        val r = probed(q, n)
        ids.size == math.min(TopK, r.size) && Mirror.recall(ids, r, TopK) == 1.0
      }).foreach { nprobe =>
        notes("ivf_nprobe_reproducing_served") = nprobe
        for (i <- 0 until IndexRecallPrompts) {
          val q = Rag.embedQuery(gen.prompt(1000000L * (cycle + 1) + i), Dim)
          val ids = probed(q, nprobe).take(TopK).map(_._1)
          indexRecalls += Mirror.recall(ids, mirror.ranked(q, Threshold), TopK)
        }
      }
    }
  }

  private def indexDirs(): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(store)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).map(_.getPath.getName).filter(_.startsWith("ann_")).toSet
  }

  private def parquetFiles(): Int = {
    val p = new org.apache.hadoop.fs.Path(chunksPath)
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    var n = 0
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** Sets up `sizes.setups` times from scratch, timing each: import the
    * starting documents into a fresh store and answer one exact prompt,
    * so the run's timed ops find the import and query paths warm. The
    * last store is the one the loop uses. */
  private def setUp(docs: Seq[Doc]): Unit =
    for (rep <- 0 until sizes.setups) {
      store = s"$workDir/store-$rep"
      val t = System.nanoTime()
      if (!importOp("import", s"setup$rep", docs) ||
          promptOp("exact", gen.prompt(-1 - rep), s"setup$rep").isEmpty)
        throw new IllegalStateException("set-up failed")
      setupSeconds += (System.nanoTime() - t) / 1e9
      if (rep < sizes.setups - 1) deleteDir(store)
    }

  private def loadMirror(): Unit = {
    mirror = new Mirror
    mirror.load(spark, chunksPath)
  }

  def run(): Unit = name match {
    case "ingest" => runIngest()
    case "serve_mixed" => runServeMixed()
  }

  /** Import `sizes.batches` batches, compact once, then serve the
    * ingested store: at least `minQueries` prompts, and more while the
    * run's time lasts, after the untimed warm-up prompts. */
  private def runIngest(): Unit = {
    var nextDoc = 1L
    def take(n: Int): Seq[Doc] = {
      val d = (0 until n).map(i => gen.doc(nextDoc + i, sizes.minTok, sizes.maxTok))
      nextDoc += n
      d
    }
    val setupDocs = take(sizes.setupDocs)
    setUp(setupDocs)
    val imported = mutable.ArrayBuffer.from(setupDocs)
    val t0 = System.nanoTime()
    for (_ <- 0 until sizes.batches) {
      val batch = take(sizes.batchDocs)
      if (importOp("import", "loop", batch)) imported ++= batch
    }
    timedOp("compact", "loop")(tracer.span("store.compact")(Catalog.compactChunks(spark, chunksPath)))

    val agg = spark.read.parquet(chunksPath).select(
      count(lit(1)), countDistinct(col("id")),
      min(size(col("embedding"))), max(size(col("embedding"))),
      max(abs(sqrt(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))) - 1.0))).head()
    val driverChunks = chunkCount(imported.toSeq)
    check("chunk_count_matches_chunker", agg.getLong(0) == driverChunks,
      s"store=${agg.getLong(0)} chunker=$driverChunks")
    check("chunk_ids_unique", agg.getLong(1) == agg.getLong(0))
    check("embeddings_dim_1536", agg.getInt(2) == Dim && agg.getInt(3) == Dim)
    check("embeddings_unit_norm", agg.getDouble(4) < 1e-4, s"max |norm-1| ${agg.getDouble(4)}")
    notes("docs") = imported.size
    notes("chunks") = driverChunks

    loadMirror()
    warmUp()
    var i = 0
    while (i < sizes.minQueries || (System.nanoTime() - t0) / 1e9 < seconds) {
      val p = gen.prompt(i)
      promptOp("exact", p, "loop").foreach(c => scorePrompt(p, c, exact = true))
      i += 1
    }
    if (tracer.on) indexProbe()
  }

  /** `sizes.warmQueries` exact prompts outside the loop's metrics, checked
    * like the loop's. The first prompts after compaction take up to twice
    * as long as later ones, and a run's p90 would land on them. */
  private def warmUp(): Unit =
    for (j <- 0 until sizes.warmQueries) {
      val p = gen.prompt(-1000L - j)
      promptOp("exact", p, "warmup").foreach(c => scorePrompt(p, c, exact = true))
    }

  /** Cycles of one appended book followed by `cyclePrompts` IVF prompts,
    * one cycle per 5 s of run time (at least one). The count depends on
    * `seconds` only, so every run does the same work. Each append changes
    * the store's fingerprint, so the cycle's first prompt rebuilds the
    * index. */
  private def runServeMixed(): Unit = {
    val docs = (1L to sizes.setupDocs).map(gen.doc(_, sizes.minTok, sizes.maxTok))
    setUp(docs)
    loadMirror()
    var nextDoc = sizes.setupDocs + 1L
    var book = 0
    var prompt = 0
    var appended = 0
    for (cycle <- 0 until math.max(1, math.round(seconds / 5).toInt)) {
      val bookDocs = (0 until gen.bookDocs(book)).map(i =>
        gen.doc(nextDoc + i, sizes.minTok, sizes.maxTok))
      nextDoc += bookDocs.size
      book += 1
      if (importOp("append", "loop", bookDocs)) {
        appended += bookDocs.size
        val ids = bookDocs.flatMap(d =>
          Chunker.chunkText(d.text, MaxTokens).indices.map(n => (d.id << 20) | n))
        val read = mirror.load(spark, chunksPath, ids)
        check("appended_chunks_stored", read.toSet == ids.toSet, s"expected $ids read $read")
        bookDocs.foreach { d =>
          Chunker.chunkText(d.text, MaxTokens).zipWithIndex.foreach { case (text, n) =>
            val hits = Demo.search(spark, store, text, TopK, Threshold, Dim, "exact")
              .select("id").collect().map(_.getLong(0))
            check("appended_chunk_visible_to_next_exact_search",
              hits.contains((d.id << 20) | n), s"chunk ${(d.id << 20) | n} not in $hits")
          }
        }
      }
      val served = (0 until sizes.cyclePrompts).flatMap { _ =>
        val p = gen.prompt(prompt)
        prompt += 1
        promptOp("ivf", p, "loop").map(c => p -> scorePrompt(p, c, exact = false))
      }
      indexRecall(served, cycle)
    }
    notes("docs") = sizes.setupDocs + appended
    notes("chunks") = mirror.size
    if (tracer.on) compactProbe()
  }

  /** Traced-run probe on workloads whose loop builds no index: one IVF
    * search on the final store, so `store.index_build_ms` is measured
    * for every workload. */
  private def indexProbe(): Unit = {
    val before = indexDirs()
    val id = opId
    timedOp("probe_index", "probe")(tracer.span("cli.search")(
      Demo.search(spark, store, gen.prompt(-100), TopK, Threshold, Dim, "ivf")))
    if ((indexDirs() -- before).nonEmpty) indexBuildOps += id
  }

  /** Traced-run probe on workloads whose loop does not compact. */
  private def compactProbe(): Unit =
    timedOp("probe_compact", "probe")(tracer.span("store.compact")(
      Catalog.compactChunks(spark, chunksPath)))

  def storeBytes(): Long = {
    val p = new org.apache.hadoop.fs.Path(store)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }

  def liveChunks: Long = spark.read.parquet(chunksPath).select("id").distinct().count()
}

object Workload {
  val IndexRecallPrompts = 100
  val Dim = 1536
  val MaxTokens = 512
  val TopK = 5
  val Threshold = 0.01

  val DocsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("title", StringType),
    StructField("author", StringType),
    StructField("text_type", StringType),
    StructField("genre", StringType),
    StructField("publication_date", StringType),
    StructField("text", StringType)))

  def deleteDir(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }
}

/** Replays `Embedding.embed` in a class loader of its own, so the replay
  * has its own word memo: it neither warms nor evicts the memo the
  * program's import uses, and its own memo sees the same sequence of
  * batches the import saw. */
object Replay {
  private final class ChildFirst(urls: Array[java.net.URL], parent: ClassLoader)
      extends java.net.URLClassLoader(urls, parent) {
    override def loadClass(name: String, resolve: Boolean): Class[_] =
      getClassLoadingLock(name).synchronized {
        if (!name.startsWith("graft.")) super.loadClass(name, resolve)
        else {
          val c = Option(findLoadedClass(name)).getOrElse(findClass(name))
          if (resolve) resolveClass(c)
          c
        }
      }
  }

  private lazy val (module, method) = {
    val home = Embedding.getClass.getProtectionDomain.getCodeSource.getLocation
    val cls = new ChildFirst(Array(home), getClass.getClassLoader)
      .loadClass("graft.functions.Embedding$")
    (cls.getField("MODULE$").get(null),
      cls.getMethod("embed", classOf[String], classOf[Int]))
  }

  def embed(text: String, dim: Int): Array[Float] =
    method.invoke(module, text, Int.box(dim)).asInstanceOf[Array[Float]]
}
