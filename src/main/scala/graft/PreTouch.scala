package graft

/** Page-cache pre-toucher for Bench's UNTIMED regions (r13 verdict #1).
  *
  * The r13 driver record was a 2.9× phantom: a ballooned box evicted
  * the page cache, and because the untimed `prepare` hook staged inputs
  * WITHOUT reading them, the first (and only) timed pass was charged
  * all the input+state IO — 10–45× per-query inflation on 21 queries,
  * indistinguishable from a code regression until a quiet-box
  * re-measure. Raw-reading every input file outside the timed region
  * pins the bytes into the page cache, so the timed pass measures
  * compute + shuffle, not the weather.
  *
  * Files already touched under the same (size, mtime) are skipped, so
  * the per-query re-touch after `prepare` is a stat-only walk — only
  * files a prepare just (re)wrote are re-read. Hidden entries are NOT
  * skipped: commit markers and parquet footers get scanned by Spark
  * too, and a spurious touch is free.
  */
object PreTouch {
  private val seen =
    scala.collection.mutable.HashMap.empty[String, (Long, Long, Long)]

  /** Total bytes actually read by FULL touches since JVM start — the
    * observable for the suite and for Bench's one-line audit log
    * (beacon probes of already-seen files are excluded: they are
    * change detection, not cache warming). */
  @volatile private[graft] var bytesRead = 0L

  /** First-block content beacon (r14 advice): a prepare that rewrites
    * a file to the SAME size within mtime granularity would slip the
    * (size, mtime) skip; hashing the first 4 KiB catches the common
    * header/footer-bearing rewrite for the cost of one page per file
    * per walk. */
  private def beacon(f: java.io.File): Long = {
    val in = new java.io.FileInputStream(f)
    try {
      val head = new Array[Byte](4096)
      val n = in.read(head)
      var h = 1125899906842597L
      var i = 0
      while (i < n) { h = h * 31 + head(i); i += 1 }
      h
    } finally in.close()
  }

  /** Raw-read every regular file under `roots` not already touched at
    * its current (size, mtime, first-block beacon). Best-effort by
    * design: a file deleted or truncated mid-walk is skipped, never
    * fatal — the cost would be one cold read inside the timed region,
    * the status quo ante. */
  def touch(roots: Seq[java.io.File]): Unit = synchronized {
    val buf = new Array[Byte](4 << 20)
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) {
        try {
          val sig = (f.length, f.lastModified, beacon(f))
          if (!seen.get(f.getPath).contains(sig)) {
            val in = new java.io.FileInputStream(f)
            try {
              var r = in.read(buf)
              while (r >= 0) { bytesRead += r; r = in.read(buf) }
            } finally in.close()
            seen(f.getPath) = sig
          }
        } catch { case _: java.io.IOException => () }
      }
    roots.filter(_.exists).foreach(walk)
  }

  /** Everything a battery query can scan: the fixture dir, the graft
    * staging roots ([[Staging.localRoots]]: persisted band/line/IVF
    * indexes, staged source fixtures, stream outputs/checkpoints), and
    * the warehouse (bucketed as-of tables). Another process's
    * per-process staging dir is that (possibly dead) run's state:
    * touching it is unbounded untimed IO that warms nothing this
    * battery reads and inflates the bytesRead audit line (r14 advice) —
    * excluded. Shared staging is reused across runs and stays in. */
  def benchRoots(sfDir: String, warehouseDir: String): Seq[java.io.File] = {
    val wh = new java.io.File(
      warehouseDir.stripPrefix("file://").stripPrefix("file:"))
    new java.io.File(sfDir) +: wh +: Staging.localRoots
  }
}
