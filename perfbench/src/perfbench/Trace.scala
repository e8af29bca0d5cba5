package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** In-memory spans for the traced run.
  *
  * A span records name, start, end, parent and op id. Spans come from the
  * harness's own calls into each layer; Spark jobs launched inside a span
  * become child spans named after the library function that launched them
  * (found by sampling the harness thread's stack when the job starts,
  * because Spark runs SQL jobs on its own threads and loses the caller's
  * call site). When tracing is off, `span` only runs its body. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  import Tracer._

  private val harnessThread = Thread.currentThread()
  private val t0 = System.nanoTime()
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - t0

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var currentOp = -1

  /** Spark-side records, filled by the listener. */
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private def now(): Long = System.nanoTime() - t0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      val frames = harnessThread.getStackTrace.map(f => s"${f.getClassName}.${f.getMethodName}")
      val tag = JobTags.collectFirst { case (marker, t) if frames.exists(_.contains(marker)) => t }
        .getOrElse("spark.job")
      synchronized {
        jobs(e.jobId) = JobRec(e.jobId, span, tag, fromEpochMs(e.time), -1L)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = fromEpochMs(e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val s = stages.getOrElseUpdate(i.stageId, StageRec(i.stageId))
      s.job = stageJob.getOrElse(i.stageId, -1)
      s.start = i.submissionTime.map(fromEpochMs).getOrElse(-1L)
      s.end = i.completionTime.map(fromEpochMs).getOrElse(-1L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageId, StageRec(e.stageId))
      s.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.taskMs += m.executorRunTime
        s.recordsRead += m.inputMetrics.recordsRead
        s.bytesWritten += m.outputMetrics.bytesWritten
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  if (on) spark.sparkContext.addSparkListener(listener)

  private def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs - t0

  /** Root span of one op; `kind` names the op type. */
  def op[T](id: Int, kind: String)(body: => T): T =
    if (!on) body
    else {
      currentOp = id
      try span(s"op.$kind")(body) finally currentOp = -1
    }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, currentOp, name, now(), -1L)
      stack = id :: stack
      spark.sparkContext.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        spans(id).end = now()
        stack = stack.tail
        spark.sparkContext.setLocalProperty(SpanKey,
          stack.headOption.map(_.toString).orNull)
      }
    }

  /** Waits until the listener has seen every event posted so far. */
  def flush(): Unit =
    if (on) org.apache.spark.sql.GraftShim.flushListenerBus(spark)

  def stop(): Unit = if (on) spark.sparkContext.removeSparkListener(listener)
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Library functions whose Spark jobs are attributed to a layer, checked
    * in order against the harness thread's stack at job start. */
  val JobTags: Seq[(String, String)] = Seq(
    "graft.store.Catalog$.upsert" -> "store.upsert",
    "graft.store.Catalog$.writeChunks" -> "store.write",
    "graft.store.Catalog$.compactChunks" -> "store.compact",
    "graft.store.AnnIndexes$.materializeAtomic" -> "store.index_build",
    "graft.operators.Ivf$.loadModel" -> "store.index_load",
    "graft.rag.Rag$.aggregateChunkText" -> "rag.assemble",
    "graft.cli.Demo$.importDocs" -> "cli.import",
    "graft.cli.Demo$.search" -> "cli.search")
}

final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, var end: Long) {
  def ns: Long = end - start
}

final case class JobRec(id: Int, span: Int, tag: String, start: Long, var end: Long)

final case class StageRec(id: Int) {
  var job = -1
  var start = -1L
  var end = -1L
  var tasks = 0
  var taskMs = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Union length of [start, end) intervals, clipped to [lo, hi). */
object Intervals {
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
