package graft

import java.io.{File, IOException}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Where a prepared query's staged input lives and when it is fresh.
  * This is the only code that knows the staging conventions:
  *
  *  - ONE DIRECTORY RULE. A staged input of fixture `d` lives at
  *    `tmpdir/graft-<name>-<fixture key>` ([[fixtureKey]]), shared by
  *    every run on that fixture. An input the query mutates carries this
  *    process's pid as well, `tmpdir/graft-<name>-p<pid>-<fixture key>`,
  *    so two processes on one fixture never race a rebuild against an
  *    ingest; building one sweeps the pid-tagged directories of dead
  *    processes, which would otherwise stay in tmpdir forever.
  *  - ONE MARKER. `_GRAFT_STAGED` is written LAST and holds the
  *    [[Tables.fixtureFingerprint]] of the source table. An input is
  *    fresh only when the marker holds the current fingerprint;
  *    otherwise the directory is deleted and rebuilt. `_SUCCESS` cannot
  *    stand in: it appears after the first of several writes, and a
  *    regenerated fixture under the same path must restage instead of
  *    serving the prior generation.
  *  - CONSUMED inputs. A query that mutates its staged directory removes
  *    the marker before its first mutation, so the next call rebuilds
  *    instead of ingesting into the mutated copy.
  *  - SCRATCH. A per-run `tmpdir/graft-<name>-<uuid>` directory lives
  *    until the body's result is materialized.
  *
  * A query's prepare hook and its body call the same [[Input]]: the hook
  * stages outside the timed region, and the body's check (one fixture
  * listing and one marker read) keeps the query standalone when it is
  * called without the hook. */
private[graft] object Staging {

  private val Marker = "_GRAFT_STAGED"

  private def tmpdir: String = System.getProperty("java.io.tmpdir")

  private val pid: Long = ProcessHandle.current().pid()

  /** `-p<pid>-` right after a `graft-<name>` prefix; fixture keys hold no
    * `-`, so the tag cannot come from one. */
  private val PidTag = "^graft-.*?-p(\\d+)-".r

  private def ownerPid(dirName: String): Option[Long] =
    PidTag.findFirstMatchIn(dirName).map(_.group(1).toLong)

  private def fs(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** The one fixture-key rule: the fixture path with every character
    * outside `[A-Za-z0-9]` replaced by `_` — also a valid table name. */
  def fixtureKey(d: String): String = d.replaceAll("[^A-Za-z0-9]", "_")

  /** `tmpdir/graft-<name>-<fixture key>`: a work directory of fixture `d`
    * shared by every run on it. */
  def dir(name: String, d: String): String = s"$tmpdir/graft-$name-${fixtureKey(d)}"

  /** Runs `build` unless `dir` holds a marker with `fingerprint` and
    * `fresh` holds. A rebuild deletes `dir` first and writes the marker
    * after `build` returns. */
  def ensure(s: SparkSession, dir: String, fingerprint: String,
      fresh: Boolean = true)(build: => Unit): Unit = {
    val marker = new Path(dir, Marker)
    val reuse = fresh && fs(s, marker).exists(marker) &&
      ops.IndexDir.readText(s, marker) == fingerprint
    if (!reuse) {
      fs(s, marker).delete(new Path(dir), true)
      build
      ops.IndexDir.writeText(s, marker, fingerprint)
    }
  }

  /** A query's staged input: `build(s, d, dir)` writes it into `dir` from
    * fixture table `table` of `d`. */
  final class Input private[Staging] (name: String, table: String,
      mutable: Boolean, build: (SparkSession, String, String) => Unit) {

    def dir(d: String): String =
      if (mutable) s"$tmpdir/graft-$name-p$pid-${fixtureKey(d)}"
      else Staging.dir(name, d)

    /** The prepare hook. */
    def prepare(s: SparkSession, d: String): Unit = ready(s, d)

    /** The staged directory, rebuilt first unless fresh. */
    def ready(s: SparkSession, d: String): String = {
      val at = dir(d)
      ensure(s, at, Tables.fixtureFingerprint(s, d, table)) {
        if (mutable) sweepDeadPidDirs(s)
        build(s, d, at)
      }
      at
    }

    /** [[ready]] for the query that mutates the directory: the marker is
      * removed before the caller's first mutation. */
    def consume(s: SparkSession, d: String): String = {
      val at = ready(s, d)
      val marker = new Path(at, Marker)
      fs(s, marker).delete(marker, false)
      at
    }
  }

  /** An input read as staged, shared across processes. */
  def shared(name: String, table: String)(
      build: (SparkSession, String, String) => Unit): Input =
    new Input(name, table, mutable = false, build)

  /** An input its query mutates: per-process, and consumed by the query. */
  def consumed(name: String, table: String)(
      build: (SparkSession, String, String) => Unit): Input =
    new Input(name, table, mutable = true, build)

  /** Runs `body` in a fresh per-run directory and deletes the directory
    * once the frame `body` returns is materialized. */
  def scratch(s: SparkSession, name: String)(body: String => DataFrame): DataFrame = {
    val at = new Path(s"$tmpdir/graft-$name-${java.util.UUID.randomUUID}")
    try body(at.toString).localCheckpoint(true)
    finally fs(s, at).delete(at, true)
  }

  /** Deletes the pid-tagged directories of processes that no longer
    * exist. Best effort: a directory that cannot be listed or deleted is
    * left for the next sweep. */
  def sweepDeadPidDirs(s: SparkSession): Unit = {
    val root = new Path(tmpdir)
    try fs(s, root).listStatus(root).foreach { st =>
      ownerPid(st.getPath.getName) match {
        case Some(p) if p != pid && !ProcessHandle.of(p).isPresent =>
          try fs(s, root).delete(st.getPath, true) catch { case _: IOException => () }
        case _ => ()
      }
    } catch { case _: IOException => () }
  }

  /** The `graft-*` directories under tmpdir that are shared or this
    * process's own. Another process's pid-tagged directory is its
    * private, possibly dead, state. */
  def localRoots: Seq[File] =
    Option(new File(tmpdir).listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(f => f.getName.startsWith("graft-") && ownerPid(f.getName).forall(_ == pid))
}
