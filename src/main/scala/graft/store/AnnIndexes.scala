package graft.store

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Build-once materialization for ANN indexes (LSH bucket tables, IVF
  * cell tables, MinHash signature tables).
  *
  * The scale stance: index BUILD is an ingest-time batch job, never a
  * per-query cost. A query against an ANN index must read a
  * partition-pruned fraction of a pre-partitioned parquet table — the
  * train/assign/bucket work happened once, when the corpus was written.
  * This helper gives declared queries that shape: the first invocation
  * per (dataset, parameters) key builds the index under a stable path;
  * every later invocation (including every re-run of the same query)
  * goes straight to the materialized table.
  *
  * Completion is marked by a `_IDX_READY` file written after the whole
  * build (which may be several writes: partitioned corpus + model
  * sidecar). Underscore-prefixed entries are invisible to Spark's
  * partition discovery, so the marker and any `_model` sidecar dir can
  * live inside the index root. A half-built index (no marker) is
  * deleted and rebuilt.
  */
object AnnIndexes {

  /** Index root — kept inside the repo's build dir by default so test
    * runs never write outside the workspace. */
  def root: String = sys.env.getOrElse("SPARK_GRAFT_IDX_DIR", "target/graft-idx")

  /** Filesystem-safe key fragment for a dataset dir. */
  def keyOf(dir: String): String = dir.replaceAll("[^A-Za-z0-9._-]", "_")

  /** A table's files as sorted `relpath:len` entries, relative to
    * `root` (the table's qualified path), and whether the table exists
    * at all. */
  final case class Listing(root: String, entries: Seq[String], exists: Boolean) {

    /** Cheap staleness guard: a hash of the file names + lengths.
      * Regenerated testdata with different content sizes gets a
      * different index path (metadata-only — no data read; same-size
      * content swaps are out of scope for a synthetic-data cache key). */
    def fingerprint: String =
      if (!exists) "absent"
      else f"${scala.util.hashing.MurmurHash3.stringHash(entries.mkString("|"))}%08x"

    /** The entries this listing holds beyond `earlier`, or None when
      * `earlier` is not a subset of it (a file was removed or resized:
      * the table did not grow by appends only). */
    def addedSince(earlier: Seq[String]): Option[Seq[String]] =
      Option.when(earlier.toSet.subsetOf(entries.toSet))(entries.diff(earlier))

    /** The rows of the data files among `files` (every listed file by
      * default), read with `schema` and the table root as `basePath`, so
      * partition columns survive and no footer is read to infer the
      * schema. Only listed files are read, so rows appended after the
      * listing are not: the listing and the rows are one snapshot.
      * Paths with an underscore or dot component (`_SUCCESS`) are not
      * data, as in Spark's own file index. */
    def read(spark: SparkSession, schema: StructType,
        files: Seq[String] = entries): DataFrame = {
      val data = files.map(e => e.take(e.lastIndexOf(':')))
        .filterNot(_.split('/').exists(s => s.startsWith("_") || s.startsWith(".")))
      if (data.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      else spark.read.schema(schema).option("basePath", root).parquet(data.map(root + _): _*)
    }
  }

  /** One recursive listing of `tablePath`. Entries are made relative to
    * the qualified path, so a relative, absolute or `file:` spelling of
    * one dir lists (and fingerprints) the same. */
  def listing(spark: SparkSession, tablePath: String): Listing = {
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(p)
    val prefix = root.toUri.getPath
    if (!fs.exists(p)) Listing(root.toString, Nil, exists = false)
    else {
      // recursive: partitioned tables append files inside partition
      // dirs, which a top-level listing would not see
      val it = fs.listFiles(p, true)
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val s = it.next()
        names += s"${s.getPath.toUri.getPath.stripPrefix(prefix)}:${s.getLen}"
      }
      Listing(root.toString, names.sorted.toSeq, exists = true)
    }
  }

  /** [[Listing.fingerprint]] of `tablePath`'s current files. */
  def fingerprint(spark: SparkSession, tablePath: String): String =
    listing(spark, tablePath).fingerprint

  /** An index's build manifest (`_SOURCE`): the source table's listing
    * entries when the index was built, and the index's row count. */
  final case class Source(entries: Seq[String], rows: Long)

  /** Manifest filename inside an index dir (underscore-prefixed, so
    * invisible to Spark's partition discovery). */
  val SourceName = "_SOURCE"

  def writeSource(spark: SparkSession, dir: String, src: Source): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, SourceName)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write((s"rows ${src.rows}" +: src.entries).mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** The manifest of the index at `dir`; None when it has none (an
    * index built before manifests existed). */
  def readSource(spark: SparkSession, dir: String): Option[Source] = {
    val p = new org.apache.hadoop.fs.Path(dir, SourceName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
        finally in.close()
      Some(Source(lines.tail, lines.head.stripPrefix("rows ").toLong))
    }
  }

  /** The children of the dir holding `indexPath`, and a test for the
    * names of the index dirs of any snapshot of its table: an index name
    * carries the table fingerprint `fp` (`ann_ivf_<fp>_d64`), and the
    * index dirs of other snapshots differ from it only there. */
  private def keyedDirs(spark: SparkSession, indexPath: String, fp: String)
      : (org.apache.hadoop.fs.FileSystem, Seq[org.apache.hadoop.fs.FileStatus],
        String => Boolean) = {
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val name = p.getName
    val at = name.lastIndexOf(fp)
    require(at >= 0, s"index name $name does not carry fingerprint $fp")
    val (prefix, suffix) = (name.take(at), name.drop(at + fp.length))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val children =
      if (fs.exists(p.getParent)) fs.listStatus(p.getParent).toSeq else Nil
    (fs, children, n => n.startsWith(prefix) && n.endsWith(suffix))
  }

  /** The most recently completed index of another snapshot of the table
    * that `indexPath` indexes under fingerprint `fp`, spelled like
    * `indexPath`. */
  def newestSibling(spark: SparkSession, indexPath: String, fp: String): Option[String] = {
    val name = new org.apache.hadoop.fs.Path(indexPath).getName
    val (_, children, keyed) = keyedDirs(spark, indexPath, fp)
    children
      .filter { st =>
        val n = st.getPath.getName
        n != name && keyed(n) && isComplete(spark, st.getPath)
      }
      .sortBy(st => (st.getModificationTime, st.getPath.getName))
      .lastOption.map(st => indexPath.stripSuffix(name) + st.getPath.getName)
  }

  /** Copy the index at `from` into the new dir `to`, leaving out its
    * completion marker, manifest and `_SUCCESS` stamp, which describe
    * `from` only and are rewritten in `to`. */
  def copyIndex(spark: SparkSession, from: String, to: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(from)
    val fs = src.getFileSystem(conf)
    val dst = new org.apache.hadoop.fs.Path(to)
    val own = Set(MarkerName, SourceName, "_SUCCESS")
    fs.mkdirs(dst)
    fs.listStatus(src).filterNot(st => own(st.getPath.getName))
      .foreach(st => org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
        new org.apache.hadoop.fs.Path(dst, st.getPath.getName), false, conf))
  }

  /** Delete what builds of `indexPath`'s table left behind next to it:
    * completed indexes of other snapshots (see `newestSibling`), and
    * `._build_`/`._corpse_` temps of a build whose process died. A
    * search in ANOTHER process may still be lazily reading an old
    * index, so only entries older than an hour go — an in-flight
    * reader of the previous snapshot (bounded by query latency, not
    * hours) finishes before its files vanish, and a live build's temp
    * is minutes old at most. */
  def sweepStale(spark: SparkSession, indexPath: String, fp: String): Unit = {
    val name = new org.apache.hadoop.fs.Path(indexPath).getName
    val (fs, children, keyed) = keyedDirs(spark, indexPath, fp)
    val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
    children.foreach { st =>
      val n = st.getPath.getName
      val temp = Seq("._build_", "._corpse_").map(n.indexOf(_)).find(_ >= 0)
      val stale = temp match {
        case Some(at) => keyed(n.take(at))
        case None => n != name && keyed(n) && isComplete(spark, st.getPath)
      }
      if (stale && st.getModificationTime < cutoff) fs.delete(st.getPath, true)
    }
  }

  /** Cross-process-safe build-once: the closure writes into a private
    * temp dir which is renamed into place only when complete (marker
    * written pre-rename), so a marked-but-partial index is never
    * visible. Racing processes each build their own temp; a loser
    * discards its build. Hadoop `rename(src, dst)` with an EXISTING
    * dst dir moves src INSIDE dst (it does not fail), so the rename is
    * attempted only when the destination is absent, and a nested
    * `<path>/<tmpname>` left by a lost race is explicitly removed. */
  def materializeAtomic(spark: SparkSession, path: String)(build: String => Unit): String =
    synchronized {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val marker = new org.apache.hadoop.fs.Path(p, MarkerName)
      if (!fs.exists(marker)) {
        val suffix = java.util.UUID.randomUUID().toString.take(8)
        val tmp = new org.apache.hadoop.fs.Path(path + "._build_" + suffix)
        try {
          // record seg-tokenizer usage DURING the build (round 13):
          // a sidecar whose recipe tokenized with segTokens carries a
          // _SEG_USED stamp, so the fixture-gate coverage scan can see
          // seg semantics that hide behind a plain parquet scan
          val (_, segUsed) =
            graft.functions.SegUsage.record(build(tmp.toString))
          if (segUsed)
            fs.create(new org.apache.hadoop.fs.Path(tmp, SegMarkerName))
              .close()
          fs.create(new org.apache.hadoop.fs.Path(tmp, MarkerName)).close()
          // Clear a crashed build's corpse by renaming it aside first:
          // rename is the only destructive step, so if a racing winner
          // replaced the corpse with a COMPLETE index in the meantime,
          // we detect the marker on the aside copy and put it back
          // instead of destroying it.
          if (fs.exists(p)) {
            val aside = new org.apache.hadoop.fs.Path(path + "._corpse_" + suffix)
            if (fs.rename(p, aside)) {
              if (fs.exists(new org.apache.hadoop.fs.Path(aside, MarkerName))) {
                if (!fs.rename(aside, p)) fs.delete(aside, true)
              } else fs.delete(aside, true)
            }
          }
          if (!fs.exists(p)) fs.rename(tmp, p)
          // Hadoop rename(src, dst) with dst present moves src INSIDE
          // dst and still returns true — so regardless of the reported
          // outcome, undo a race-nested temp and then demand a marked
          // index is in place (ours or the winner's)
          val nested = new org.apache.hadoop.fs.Path(p, tmp.getName)
          if (fs.exists(nested)) fs.delete(nested, true)
          require(fs.exists(marker),
            s"index build for $path failed: no complete index present")
        } finally fs.delete(tmp, true)
      }
      path
    }

  /** Completion-marker filename — the single definition of the marker
    * protocol (see materializeAtomic). */
  val MarkerName = "_IDX_READY"

  /** Seg-usage stamp: present in a sidecar whose BUILD tokenized with
    * the seg kernel (see [[graft.functions.SegUsage]]). Underscore-
    * prefixed → invisible to Spark's partition discovery. */
  val SegMarkerName = "_SEG_USED"

  /** Sidecar FAMILIES whose build recipes are KNOWN to seg-tokenize
    * (BPE vocab, minhash-over-seg-shingles) — the one-time stamp
    * transition sweep's allow-list. New builds stamp themselves; this
    * list exists only for dirs materialized BEFORE the stamp did. */
  val KnownSegPrefixes: Seq[String] = Seq("bpe2_", "mh2_")

  @volatile private var segSweepDone = false

  /** One-time transition sweep (round 14): write [[SegMarkerName]]
    * into every COMPLETE sidecar under the store root carrying a
    * known seg-built prefix. Builds since round 13 stamp themselves
    * during materialization; a sidecar materialized before the stamp
    * existed kept its unstamped dir until its next natural rebuild —
    * a window in which the coverage scan's guarantee depended on
    * hand-gating (and which would silently reopen if testdata were
    * regenerated without a store sweep). Idempotent, one listStatus,
    * runs once per JVM on first stamp query. */
  def stampKnownSegSidecars(spark: SparkSession): Int = synchronized {
    val conf = spark.sparkContext.hadoopConfiguration
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(conf)
    if (!fs.exists(rootP)) 0
    else fs.listStatus(rootP).toSeq.count { st =>
      st.isDirectory &&
        KnownSegPrefixes.exists(st.getPath.getName.startsWith) &&
        isComplete(spark, st.getPath) && {
          val m = new org.apache.hadoop.fs.Path(st.getPath, SegMarkerName)
          !fs.exists(m) && { fs.create(m).close(); true }
        }
    }
  }

  /** True when the sidecar at `dir` was built with seg tokenization.
    * Triggers the one-time transition sweep first, so a pre-round-13
    * sidecar of a known seg family answers truthfully too. */
  def usesSeg(spark: SparkSession, dir: String): Boolean = {
    if (!segSweepDone) { stampKnownSegSidecars(spark); segSweepDone = true }
    val p = new org.apache.hadoop.fs.Path(dir, SegMarkerName)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** True when `dir` holds a completed index (marker present). */
  def isComplete(spark: SparkSession, dir: org.apache.hadoop.fs.Path): Boolean = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(dir, MarkerName))
  }

  /** Store prefixes RETIRED by a recipe-version bump (the p8 store-key
    * principle): a code change that alters what a sidecar contains
    * bumps its prefix, so the old entries can never be read again —
    * they are garbage that would otherwise accumulate one orphan per
    * dataset fingerprint forever. Every retirement is recorded here. */
  val RetiredPrefixes: Seq[String] = Seq(
    "bpe_", // round-8 whitespace-word BPE counts → bpe2_ (round 9)
    "p8_", // unversioned schema-evolution batches → p8v2_ (round 8)
    "mh_") // whitespace-shingle MinHash index → mh2_ (round 11)

  /** Delete retired-recipe sidecars under [[root]] (idempotent; a
    * missing root is a no-op). Invoked at the start of every Verify
    * sweep, so orphans never outlive the round that retired them.
    * Returns the number of entries removed. */
  def gcRetired(spark: SparkSession): Int = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) 0
    else fs.listStatus(rootPath).count { st =>
      val name = st.getPath.getName
      val dead = RetiredPrefixes.exists(name.startsWith)
      if (dead) fs.delete(st.getPath, true)
      dead
    }
  }

  /** Delete build-once sidecars keyed to TEMP-DIR corpora (key
    * segment `__tmp_`), except those carrying `keepKey` (the corpus a
    * dump is currently running against — the fixture gate dumps FROM
    * a temp dir and must keep its own sidecars alive for the run).
    * Temp-dir keys are random per `createTempDirectory`, so a
    * sidecar from a previous process can never be looked up again —
    * it is garbage by construction; without this sweep every spec or
    * fixture sweep that touches a sidecar-building query leaks one
    * orphan per run FOREVER (193 had accumulated by round 12: BPE
    * models from crafted-corpus specs, wav fixtures from manual
    * Unicode sweeps). Invoked beside [[gcRetired]] at the top of every
    * Verify dump and at test-session start. Returns entries removed.
    *
    * Only entries OLDER than `maxAgeMs` (default 3 h) are swept
    * (advisor, round 13): the sweep runs unconditionally at every
    * dump/test-session start, so without the age gate it would delete
    * the LIVE temp-keyed sidecars of a concurrently running sbt/dump
    * process — escalating the documented concurrent-sbt hazard from
    * contention to active mid-run deletion (materializeAtomic
    * rebuilds, but an in-flight parquet read of a swept sidecar fails
    * that query). A genuinely orphaned sidecar is by construction
    * never looked up again, so sweeping it hours later is equivalent;
    * per-run fixture cleanup (the gate spec's finally block) is
    * unaffected — it deletes by its own key, not through here. */
  def gcTempKeyed(spark: SparkSession, keepKey: String = "",
      maxAgeMs: Long = 3L * 3600 * 1000): Int = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cutoff = System.currentTimeMillis() - maxAgeMs
    if (!fs.exists(rootPath)) 0
    else fs.listStatus(rootPath).count { st =>
      val name = st.getPath.getName
      val dead = name.contains("__tmp_") &&
        st.getModificationTime < cutoff &&
        (keepKey.isEmpty || !name.contains(keepKey))
      if (dead) fs.delete(st.getPath, true)
      dead
    }
  }
}
