package perfbench

import scala.collection.mutable

/** Per-layer figures of a traced run, from the tracer's spans and the
  * Spark jobs attributed to them. Layers are the library's modules
  * (`ingest`, `functions`, `store`, `operators`, `rag`, `cli`), `spark`
  * for the runtime under them, and `harness` for the op's own glue. */
object Layers {
  private val ImportKinds = Set("import", "append")

  /** Spans that replay a layer outside the program's own call (the
    * chunking and embedding replays after an import, the query embedding
    * and fingerprint before a search). They are left out of self times and
    * driver gap, which describe the program's path only. */
  val Replays = Set("ingest.chunk", "functions.embed", "rag.embed_query", "store.fingerprint")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Main.percentile(xs, 0.5)

  private def v(x: Double, unit: String): (Double, String) = (x, unit)

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  final case class Node(name: String, op: Int, start: Long, end: Long, children: Seq[Node]) {
    def layer: String = name.takeWhile(_ != '.') match {
      case "op" => "harness"
      case l => l
    }
  }

  /** Metrics by name with their unit, and the self-time table. */
  def compute(t: Tracer, w: Workload): (Map[String, (Double, String)], Seq[Map[String, Any]]) = {
    t.flush()
    val spans = t.spans.toIndexedSeq
    val jobs = t.jobs.values.filter(j => j.span >= 0 && j.end >= 0).toSeq
    val stagesByJob = t.stages.values.groupBy(_.job)
    val jobsBySpan = jobs.groupBy(_.span)
    val childSpans = spans.groupBy(_.parent)

    def node(s: Span): Node = Node(s.name, s.op, s.start, s.end,
      childSpans.getOrElse(s.id, Nil).filterNot(c => Replays(c.name)).map(node) ++
        jobsBySpan.getOrElse(s.id, Nil).map(j => Node(j.tag, s.op, j.start, j.end, Nil)))
    val roots = spans.filter(_.parent < 0).map(node)
    val opInfo = w.ops.map(o => o.id -> o).toMap
    val loopRoots = roots.filter(r => opInfo.get(r.op).exists(_.phase == "loop"))

    // self time: a node's interval minus what its children cover
    val selfNs = mutable.LinkedHashMap.empty[String, Long]
    def walk(n: Node): Unit = {
      val covered = Intervals.covered(n.children.map(c => (c.start, c.end)), n.start, n.end)
      selfNs(n.layer) = selfNs.getOrElse(n.layer, 0L) + (n.end - n.start - covered)
      n.children.foreach(walk)
    }
    loopRoots.foreach(walk)
    val replayNs = spans.filter(s => Replays(s.name) && loopRoots.exists(_.op == s.op)).map(_.ns).sum
    selfNs("harness") = selfNs.getOrElse("harness", 0L) - replayNs
    val loopNs = loopRoots.map(r => r.end - r.start).sum.toDouble - replayNs
    val table = selfNs.toSeq.sortBy(-_._2).map { case (layer, ns) =>
      Map("layer" -> layer,
        "self_ms_per_op" -> ns / 1e6 / math.max(1, loopRoots.size),
        "share" -> (if (loopNs > 0) ns / loopNs else 0.0))
    }

    def spanMs(name: String, ops: Set[Int] = Set.empty): Seq[Double] =
      spans.filter(s => s.name == name && (ops.isEmpty || ops(s.op))).map(_.ns / 1e6)
    def opJobs(op: Int): Seq[JobRec] = {
      val ids = spans.filter(_.op == op).map(_.id).toSet
      jobs.filter(j => ids(j.span))
    }
    def opStages(op: Int): Seq[StageRec] = opJobs(op).flatMap(j => stagesByJob.getOrElse(j.id, Nil))
    def tagMs(op: Int, tag: String): Double =
      opJobs(op).filter(_.tag == tag).map(j => (j.end - j.start) / 1e6).sum

    val ops = w.ops.toSeq
    val importOps = ops.filter(o => ImportKinds(o.kind)).map(_.id)
    val queryOps = ops.filter(_.kind == "query").map(_.id)
    val loopQueryOps = ops.filter(o => o.kind == "query" && o.phase == "loop").map(_.id)
    val loopOps = ops.filter(_.phase == "loop").map(_.id)
    val embedOps = spans.filter(_.name == "functions.embed").map(_.op).toSet
    val embedNs = spans.filter(_.name == "functions.embed").map(_.ns).sum
    val embedChunks = ops.filter(o => embedOps(o.id)).map(_.chunks).sum
    val queryStages = queryOps.map(opStages)
    val buildSpans = spans.filter(s => s.name == "cli.search" && w.indexBuildOps.contains(s.op))
    def perLoopOp(f: Seq[StageRec] => Double): Double = mean(loopOps.map(o => f(opStages(o))))

    val m = Map[String, (Double, String)](
      "ingest.chunk_ms" -> v(median(spanMs("ingest.chunk")), "ms"),
      "functions.embed_ms" -> v(median(spanMs("functions.embed")), "ms"),
      "functions.embed_us_per_chunk" ->
        v(if (embedChunks > 0) embedNs / 1e3 / embedChunks else 0.0, "us"),
      "store.upsert_ms" -> v(median(importOps.map(tagMs(_, "store.upsert"))), "ms"),
      "store.write_ms" -> v(median(importOps.map(tagMs(_, "store.write"))), "ms"),
      "store.bytes_written" ->
        v(mean(importOps.map(o => opStages(o).map(_.bytesWritten).sum.toDouble)), "bytes"),
      "store.compact_ms" -> v(median(spanMs("store.compact")), "ms"),
      "store.fingerprint_ms" -> v(median(spanMs("store.fingerprint")), "ms"),
      "store.files" -> v(mean(w.filesAtQuery.map(_.toDouble).toSeq), "count"),
      "store.index_build_ms" -> v(median(buildSpans.map(_.ns / 1e6)), "ms"),
      "store.index_builds" -> v(
        if (loopQueryOps.isEmpty) 0.0
        else w.indexBuildOps.count(loopQueryOps.contains).toDouble / loopQueryOps.size, "count/query"),
      "store.bytes_read_per_query" ->
        v(mean(queryOps.flatMap(w.scanBytes.get).map(_.toDouble)), "bytes"),
      "operators.topk_ms" -> v(median(spanMs("operators.topk")), "ms"),
      "operators.rows_scanned_per_result" -> {
        val rows = queryStages.map(_.map(_.recordsRead).sum).sum.toDouble
        val results = queryOps.flatMap(w.served.get).sum
        v(if (results > 0) rows / results else 0.0, "count")
      },
      "rag.embed_query_ms" -> v(median(spanMs("rag.embed_query")), "ms"),
      "rag.assemble_ms" -> v(median(queryOps.map(o => spanMs("rag.assemble", Set(o)).sum)), "ms"),
      "rag.generate_ms" -> v(median(spanMs("rag.generate")), "ms"),
      "spark.jobs" -> v(mean(loopOps.map(o => opJobs(o).size.toDouble)), "count/op"),
      "spark.stages" -> v(perLoopOp(_.size.toDouble), "count/op"),
      "spark.tasks" -> v(perLoopOp(_.map(_.tasks).sum.toDouble), "count/op"),
      "spark.task_ms" -> v(perLoopOp(_.map(_.taskMs).sum.toDouble), "ms"),
      "spark.driver_gap_ms" -> v(mean(loopRoots.map { r =>
        val replays = spans.filter(s => s.op == r.op && Replays(s.name))
        val replayIds = replays.map(_.id).toSet
        val st = opJobs(r.op).filterNot(j => replayIds(j.span))
          .flatMap(j => stagesByJob.getOrElse(j.id, Nil))
          .filter(s => s.start >= 0 && s.end >= 0).map(s => (s.start, s.end))
        (r.end - r.start - replays.map(_.ns).sum - Intervals.covered(st, r.start, r.end)) / 1e6
      }), "ms"),
      "spark.shuffle_bytes" -> v(perLoopOp(_.map(_.shuffleBytes).sum.toDouble), "bytes"),
      "spark.spill_bytes" -> v(perLoopOp(_.map(_.spillBytes).sum.toDouble), "bytes"))
    (m, table)
  }

  /** Spans and Spark jobs as written to the trace file. */
  def dump(t: Tracer): Map[String, Any] = Map(
    "spans" -> t.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)),
    "jobs" -> t.jobs.values.map(j => Map("id" -> j.id, "span" -> j.span, "tag" -> j.tag,
      "start_ns" -> j.start, "end_ns" -> j.end)))
}
