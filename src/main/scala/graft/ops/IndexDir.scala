package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** The on-disk lifecycle of every persisted index directory — the line,
  * band and IVF indexes, the band labels and the streaming pack-state
  * log. This is the only code that knows the directory conventions:
  *
  *  - `_INTENT`, the WRITE-AHEAD MARKER. A lifecycle verb (append,
  *    delete, compact, rebuild) is several filesystem mutations with no
  *    cross-file atomicity, so a mutating verb writes the marker, naming
  *    itself, before its first mutation and removes it after its last
  *    write (its commit point): the marker exists exactly while the
  *    directory may be torn. Every probe and verb refuses a directory
  *    holding a marker with one diagnostic naming the dead verb and the
  *    kind's recovery verb, instead of reading suspect state. Recovery
  *    verbs (rebuild, compaction) restore every invariant from the raw
  *    per-row facts, so they tolerate and replace an existing marker and
  *    clear it on success. A verb that throws leaves its marker. The
  *    underscore prefix keeps the marker out of Spark's parquet listings
  *    (the `_SUCCESS` convention).
  *  - SINGLE WRITER per directory is enforced, not assumed: the mutating
  *    marker write is create-exclusive, so of two concurrent verbs the
  *    loser fails fast instead of the two interleaving their mutations.
  *  - `_FORMAT`, the kind's layout or arithmetic tag, checked on entry
  *    BEFORE the marker is written, so a directory of a foreign layout is
  *    refused without being left marked.
  *  - `meta`, the one-row build parameters (bucket modulus, cap), cached
  *    per directory: immutable for the life of a build, and the build
  *    ([[writeMeta]]) is the only writer and invalidates.
  *  - `manifests/v<N>.txt`, the SNAPSHOT LOG: one `component\tpath` line
  *    per live data file of the append-only components, plus — for the
  *    band kind, whose counts are keyed state — an immutable
  *    `count_deltas/version=<N>` partition. The manifest write is the
  *    commit point; compaction and rebuild expire history to a fresh v1.
  *  - `tombstones`, the LOGICAL-DELETE log: probes anti-join it, and
  *    compaction purges the rows while it rewrites the files anyway,
  *    then truncates the log.
  *  - COMPACTION writes the compacted copy to a sibling tmp directory and
  *    swaps it in by rename: never an in-place overwrite of files being
  *    read, never an O(corpus) block-manager materialization. Renames
  *    make compaction stop-the-world maintenance: run it between
  *    ingestion rounds, not concurrently with probes.
  *
  * Everything here is filesystem metadata: no verb entry, marker, tag,
  * manifest or meta-cache hit runs a Spark job. */
private[graft] object IndexDir {

  /** `_FORMAT` tag of one kind. The stored text is `tag`, optionally
    * followed by ` key=value` for `param` = (key, default) — recorded
    * for operators, not checked. A directory whose tag differs is
    * refused with "`verb` on 'dir': `noun` 'found' != engine's 'tag' —
    * `why`"; `absent` stands in for the tag of a directory without the
    * file. */
  final case class Format(tag: String, noun: String, absent: String,
      why: String, param: Option[(String, String)] = None)

  /** One kind of index directory. `recovery` names the verb that
    * repairs a torn directory from raw facts; `build` names the kind's
    * build verb, which recovery refuses to stand in for (a torn build may
    * have left the raw rows themselves incomplete — only the build has
    * the source rows). Verbs enter through [[read]], [[mutate]] or
    * [[repair]], each running its body as the `index.<name>.<verb>`
    * [[graft.Phase]]. */
  final case class Kind(name: String, recovery: String,
      build: Option[String] = None, format: Option[Format] = None) {

    /** A probe: format tag, then no pending marker. */
    def read[T](s: SparkSession, dir: String, verb: String)(body: => T): T = {
      checkFormat(s, dir, verb)
      assertClean(s, dir, recovery)
      graft.Phase(s"index.$name.$verb")(body)
    }

    /** A mutating verb: the probe's checks, then the create-exclusive
      * marker; the marker is cleared when `body` returns and stays if it
      * throws. `recovery` overrides the kind's text where a verb's
      * repair differs (a line-index delete rebuilds over the corpus
      * minus the deletions). */
    def mutate[T](s: SparkSession, dir: String, verb: String,
        recovery: String = recovery)(body: => T): T = {
      checkFormat(s, dir, verb)
      begin(s, dir, verb, recovery)
      marked(s, dir, verb)(body)
    }

    /** A recovery verb: tolerates and replaces a pending marker. The
      * build verb enters unchecked (it writes the format tag first);
      * any other repair checks the tag and refuses a torn build. */
    def repair[T](s: SparkSession, dir: String, verb: String)(body: => T): T = {
      if (!build.contains(verb)) {
        checkFormat(s, dir, verb)
        pending(s, dir).filter(build.contains).foreach { b =>
          throw new IllegalStateException(
            s"index at $dir is a build ('$b') that did not complete — " +
            "its rows may be missing or from the directory being " +
            s"overwritten, so $verb cannot restore them. Re-run $b (it " +
            "repairs torn directories) instead.")
        }
      }
      beginRepair(s, dir, verb)
      marked(s, dir, verb)(body)
    }

    /** Runs a verb whose marker is up; clears it on normal return only. */
    private def marked[T](s: SparkSession, dir: String, verb: String)(body: => T): T = {
      val out = graft.Phase(s"index.$name.$verb")(body)
      end(s, dir)
      out
    }

    /** Write the kind's `_FORMAT` tag, with `value` for its parameter
      * (the parameter's default when None). */
    def writeFormat(s: SparkSession, dir: String,
        value: Option[String] = None): Unit = format.foreach { f =>
      val text = f.tag + f.param.fold("") { case (k, d) =>
        s" $k=${value.getOrElse(d)}" }
      writeText(s, new Path(dir, "_FORMAT"), text)
    }

    private def checkFormat(s: SparkSession, dir: String, verb: String): Unit =
      format.foreach { f =>
        val p = new Path(dir, "_FORMAT")
        val text = if (!fs(s, p).exists(p)) f.absent else readText(s, p)
        val found = f.param.fold(text) { case (k, _) =>
          text.indexOf(s" $k=") match {
            case -1 => text
            case i  => text.substring(0, i)
          }
        }
        require(found == f.tag,
          s"$verb on '$dir': ${f.noun} '$found' != engine's '${f.tag}' — ${f.why}")
      }
  }

  // ------------------------------------------------------ intent marker --

  private def marker(dir: String) = new Path(s"$dir/_INTENT")

  private def fs(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private[graft] def readText(s: SparkSession, p: Path): String = {
    val in = fs(s, p).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  private[graft] def writeText(s: SparkSession, p: Path, text: String): Unit = {
    val out = fs(s, p).create(p, true)
    try out.write(text.getBytes("UTF-8"))
    finally out.close()
  }

  /** The incomplete verb named by a surviving marker, if any. A marker
    * that vanishes between the existence check and the read means the
    * writer just committed — that is clean, not an error (snapshot
    * readers legitimately poll a directory a live writer appends to). */
  def pending(s: SparkSession, dir: String): Option[String] = {
    val p = marker(dir)
    if (!fs(s, p).exists(p)) None
    else try Some(readText(s, p))
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Refuses a directory whose previous lifecycle verb never completed.
    * An empty marker (left by a writer that died between creating it
    * and naming its verb, or by a label verb older than this module)
    * reads as an unnamed verb. */
  def assertClean(s: SparkSession, dir: String, recovery: String): Unit =
    pending(s, dir).foreach { verb =>
      val what = if (verb.isEmpty) "lifecycle verb" else s"'$verb'"
      throw new IllegalStateException(
        s"index at $dir is suspect: a previous $what did not complete " +
        s"(crash left $dir/_INTENT behind), so its derived state and " +
        s"snapshot log may disagree with its rows. Run $recovery to " +
        "restore every invariant from the raw index rows, then retry.")
    }

  /** Marks verb start: fails if the directory is suspect, and fails fast
    * if another writer races this one — the marker write is
    * create-exclusive, so two verbs that both pass [[assertClean]]
    * cannot both win. A writer that died holding the marker is the
    * [[assertClean]] case; its recovery verb enters via [[beginRepair]]. */
  def begin(s: SparkSession, dir: String, verb: String,
      recovery: String): Unit = {
    assertClean(s, dir, recovery)
    val p = marker(dir)
    def lost(cause: Throwable): Nothing =
      throw new IllegalStateException(
        s"concurrent lifecycle verb on index at $dir: another writer " +
        s"created $p between this verb's clean-check and its marker " +
        "write (begin is create-exclusive). The index lifecycle is " +
        "single-writer per directory — serialize the verbs; if the " +
        s"other writer is dead, run $recovery (enters via " +
        "beginRepair) to clear its marker.", cause)
    val out: java.io.OutputStream = fs(s, p) match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        // Hadoop's local create(overwrite = false) is exists()-then-open,
        // so two racers could both win; File.createNewFile is
        // O_CREAT|O_EXCL, exclusive at the syscall level
        val jf = new java.io.File(p.toUri.getPath)
        Option(jf.getParentFile).foreach(_.mkdirs())
        if (!jf.createNewFile()) lost(null)
        new java.io.FileOutputStream(jf)
      case f =>
        // HDFS and precondition-capable object stores make
        // create(overwrite = false) atomic at the metadata layer
        try f.create(p, false)
        catch { case e: java.io.IOException => lost(e) }
    }
    try out.write((verb + "\n").getBytes("UTF-8")) finally out.close()
  }

  /** Marks the start of a recovery verb: an existing marker is replaced,
    * so a crash inside the recovery itself is detected the same way. */
  def beginRepair(s: SparkSession, dir: String, verb: String): Unit =
    writeText(s, marker(dir), verb + "\n")

  /** The verb completed: the directory is consistent again. */
  def end(s: SparkSession, dir: String): Unit =
    fs(s, marker(dir)).delete(marker(dir), false)

  // ---------------------------------------------------------- meta --

  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, Row]()

  /** The one-row `dir/meta` table, read once per directory. */
  def meta(s: SparkSession, dir: String): Row =
    metaCache.computeIfAbsent(dir, _ => s.read.parquet(s"$dir/meta").head())

  /** Writes `dir/meta` (the build's parameters) and drops its cached row:
    * a rebuild may change them. */
  def writeMeta(row: DataFrame, dir: String): Unit = {
    row.write.mode("overwrite").parquet(s"$dir/meta")
    metaCache.remove(dir)
  }

  // -------------------------------------------------- snapshot log --

  /** Sorted parquet data files currently under `dir/component`. */
  private def parquetFiles(s: SparkSession, dir: String,
      component: String): Seq[String] = {
    val base = new Path(s"$dir/$component")
    val f = fs(s, base)
    if (!f.exists(base)) Seq.empty
    else {
      val it = f.listFiles(base, true)
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet"))
          buf += st.getPath.toString
      }
      buf.toSeq.sorted
    }
  }

  /** Committed snapshot versions, oldest first (manifest file names). */
  def versions(s: SparkSession, dir: String): Seq[Int] = {
    val p = new Path(s"$dir/manifests")
    val f = fs(s, p)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".txt"))
      .map(_.stripPrefix("v").stripSuffix(".txt").toInt).sorted
  }

  /** Commits the next snapshot and returns its version: `delta` first
    * writes the version's count delta to the directory it is handed (the
    * band kind's keyed counts; other kinds write none), then the
    * manifest — the commit point — lists every parquet file of
    * `components`, in order. Append-only components keep every earlier
    * manifest pointing at intact bytes, so a snapshot costs O(files)
    * manifest lines, never a copy of the index. */
  def commit(s: SparkSession, dir: String, components: Seq[String])(
      delta: String => Unit = _ => ()): Int = {
    val version = versions(s, dir).lastOption.getOrElse(0) + 1
    delta(s"$dir/count_deltas/version=$version")
    val lines = components.flatMap(c => parquetFiles(s, dir, c).map(c + "\t" + _))
    val mdir = new Path(s"$dir/manifests")
    fs(s, mdir).mkdirs(mdir)
    writeText(s, new Path(s"$dir/manifests/v$version.txt"),
      lines.mkString("\n") + "\n")
    version
  }

  /** The data files `version`'s manifest lists, by component. */
  def manifest(s: SparkSession, dir: String, version: Int): String => Seq[String] = {
    require(versions(s, dir).contains(version),
      s"no committed snapshot v$version under $dir (compaction expires history)")
    val p = new Path(s"$dir/manifests/v$version.txt")
    val in = fs(s, p).open(p)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map { line =>
          val Array(component, file) = line.split("\t", 2)
          component -> file
        }.toSeq
      finally in.close()
    component => lines.collect { case (c, f) if c == component => f }
  }

  /** The count deltas committed at or below `version`, unsummed. */
  def countDeltas(s: SparkSession, dir: String, version: Int): DataFrame =
    s.read.parquet(s"$dir/count_deltas").filter(col("version") <= version)

  /** Drops all snapshot history (rebuild and compaction restart it). */
  def clear(s: SparkSession, dir: String): Unit =
    Seq("manifests", "count_deltas").foreach { sub =>
      val p = new Path(s"$dir/$sub")
      fs(s, p).delete(p, true)
    }

  // ------------------------------------------------ tombstone log --

  def appendTombstones(ids: DataFrame, dir: String): Unit =
    ids.write.mode("append").parquet(s"$dir/tombstones")

  /** The tombstone log, if any deletes happened since the last
    * compaction. */
  def tombstones(s: SparkSession, dir: String): Option[DataFrame] = {
    val p = new Path(s"$dir/tombstones")
    if (fs(s, p).exists(p)) Some(s.read.parquet(p.toString)) else None
  }

  /** `rows` minus the tombstoned `key`s (the log is bounded by deletions
    * since the last compaction and broadcasts). */
  def withoutTombstones(s: SparkSession, dir: String, rows: DataFrame,
      key: String): DataFrame =
    tombstones(s, dir).fold(rows)(t =>
      rows.join(broadcast(t.select(col(key))), Seq(key), "left_anti"))

  /** Drops a stale tombstone log (a rebuild starts a fresh lifecycle). */
  def clearTombstones(s: SparkSession, dir: String): Unit = {
    val p = new Path(s"$dir/tombstones")
    fs(s, p).delete(p, true)
  }

  /** The physical half of the delete verb: `compact` runs with a purge
    * that drops the tombstoned `key`s (materialized once, before the
    * files it was read against are rewritten), then the log is
    * truncated. */
  def purgeTombstones(s: SparkSession, dir: String, key: String)(
      compact: (DataFrame => DataFrame) => Unit): Unit = {
    val ts = tombstones(s, dir).map(t =>
      t.select(col(key)).distinct().localCheckpoint(true))
    compact(df => ts.fold(df)(t => df.join(broadcast(t), Seq(key), "left_anti")))
    ts.foreach(t => t.limit(0).write.mode("overwrite")
      .parquet(s"$dir/tombstones"))
  }

  // ------------------------------------------------ compaction swap --

  /** Rewrite the parquet dataset at `dir` into one file per partition
    * directory (partitioned case: one shuffle task per partition value)
    * or `nFiles` total (unpartitioned), then swap it in. `transform`
    * lets the caller drop rows during the rewrite (the tombstone purge);
    * the default is the row-identical rewrite. A crash between the two
    * swap renames leaves `dir` missing beside its fully committed tmp
    * copy (the tmp write commits before the first rename), so that swap
    * is completed first; with neither present this is a no-op. */
  def rewrite(s: SparkSession, dir: String, partitionCol: Option[String],
      nFiles: Int = 1, transform: DataFrame => DataFrame = identity): Unit = {
    val src = new Path(dir)
    val f = fs(s, src)
    val tmp = new Path(dir + ".compact-tmp")
    if (!f.exists(src) && f.exists(tmp) && !f.rename(tmp, src))
      throw new java.io.IOException(s"compaction: completing a torn swap failed: $dir")
    if (!f.exists(src)) return
    f.delete(tmp, true)
    val df = transform(s.read.parquet(dir))
    partitionCol match {
      case Some(c) =>
        df.repartition(col(c))
          .write.mode("overwrite").partitionBy(c).parquet(tmp.toString)
      case None =>
        df.repartition(nFiles)
          .write.mode("overwrite").parquet(tmp.toString)
    }
    val old = new Path(dir + ".compact-old")
    f.delete(old, true)
    if (!f.rename(src, old))
      throw new java.io.IOException(s"compaction swap failed: $dir")
    if (!f.rename(tmp, src)) {
      f.rename(old, src) // roll back; leave the tmp copy for inspection
      throw new java.io.IOException(s"compaction swap failed: $dir")
    }
    f.delete(old, true)
  }
}
