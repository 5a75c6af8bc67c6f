package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, OneRowRelation, Range}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** THE shared (row count, distinct content) pre-pass behind every
  * content-collapse entry point ([[HammingBands.pairs]],
  * [[Similarity.collapsedCosinePairs]], [[Similarity.collapsedTopK]],
  * `Dedup.ngramJaccardPlan`): one single-row action that decides
  * dup-free skip vs collapse. Two r13 cost fixes live here, shared by
  * all four engines instead of four private copies:
  *
  *  1. '''Hashed distinct''' (r13 advice): `count_distinct` runs over a
  *     64-bit `xxhash64` of the content, not the content itself — a
  *     full-array/full-text grouping shuffled the entire corpus content
  *     per call just to pick a route. A hash COLLISION can only
  *     undercount distincts, i.e. only falsely trigger the collapse
  *     path — which groups by FULL content and stays exact — so the
  *     dup-free skip (`n == u` forces `u_true == n`) is collision-safe.
  *     Null contents keep the standing convention: never counted, so
  *     they force the collapse path (whose builders drop or isolate
  *     them).
  *  2. '''Session-scoped memo''' (r13 verdict #4): the battery charged
  *     this action ~15×/run at 1× (+0.2–0.5 s/query). Keyed by
  *     (session token, analyzed-plan semantic hash, content expression,
  *     input-file fingerprint) — the `AsOfSkew.detectMemo` pattern. The
  *     fingerprint (names/sizes/mtimes of every file the plan scans,
  *     via [[graft.Tables.pathFingerprint]]) makes mid-session input
  *     mutation safe: a lifecycle query that rewrites its staged dir
  *     re-fingerprints on the next call and recomputes. Plans with a
  *     leaf the fingerprint cannot see through (localCheckpoint RDDs,
  *     v2 sources, streaming) are computed fresh every call — never
  *     cached wrong, just not cached. Unlike the as-of detect memo the
  *     stakes of a stale entry would only be plan choice anyway (both
  *     routes are exact — the collapse-invariance contract), but the
  *     fingerprint holds the stronger freshness property regardless.
  */
private[graft] object ContentCollapse {

  /** Capacity of the stats memo — var only so the eviction suite can
    * exercise the LRU order with a tiny cap. */
  private[graft] var statsCacheCap = 512

  /** (session token, plan semanticHash, content expr, input fingerprint)
    * -> (n, u). Entries are two longs. ACCESS-ORDERED LRU (r14 verdict
    * #6): past the cap the eldest-by-access entry is evicted — the old
    * wholesale clear() would thrash the memo a >cap battery had just
    * built. All access goes through the synchronized wrapper (an
    * access-ordered get is a structural mutation). */
  private val statsCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Int, String, String), (Long, Long)](
        64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Int, String, String),
            (Long, Long)]): Boolean = size() > statsCacheCap
    })

  /** Pre-pass actions actually computed (cache misses + uncacheable) —
    * the suite's observable for memo-hit/invalidation pinning. The
    * per-family breakdown exists because suites assert DELTAS: a
    * concurrent suite bumping the global counter must not flake a
    * family-scoped assertion (r14 advice). */
  private[graft] val prePassComputes = new java.util.concurrent.atomic.AtomicLong
  private val familyComputes = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicLong]()
  private[graft] def computesOf(family: String): Long = {
    val a = familyComputes.get(family)
    if (a == null) 0L else a.get()
  }

  /** Test hook: the eviction-order suite needs a known-empty map (the
    * LRU evicts one entry per insertion, so leftover entries would
    * absorb the evictions the test pins). */
  private[graft] def clearStatsCache(): Unit = statsCache.clear()

  /** Stable per-session token: the `AsOfSkew.sessionToken` convention
    * (WeakHashMap + UUID — a dead session's token can never be minted
    * again, so its entries are inert until the size-bound clear). */
  private val sessionTokens = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private def sessionToken(s: SparkSession): String =
    sessionTokens.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString)

  /** Fingerprint of every file-source root `df` scans, or None when the
    * plan has a leaf whose backing data the fingerprint cannot see
    * (then the caller must not memoize). LocalRelation/OneRowRelation/
    * Range carry their data in the plan itself — the semantic hash
    * already covers them. */
  private def inputFingerprint(df: DataFrame): Option[String] = {
    val s = df.sparkSession
    val perLeaf = df.queryExecution.analyzed.collectLeaves().map {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => Some(h.location.rootPaths.map(p =>
          try graft.Tables.pathFingerprint(s, p)
          catch { case scala.util.control.NonFatal(_) => return None })
          .mkString("|"))
        case _ => None
      }
      case _: LocalRelation | _: OneRowRelation | _: Range => Some("")
      case _ => None
    }
    if (perLeaf.exists(_.isEmpty)) None
    else Some(perLeaf.flatten.mkString("||"))
  }

  /** Content groups of a duplicated input (r13 verdict #7 — the shared
    * gmap/members/uniq shape every collapsed family re-implemented):
    *   - `gmap`: the input rows (all columns) plus `gid` = min id per
    *     distinct content — null-content rows DROPPED (they never pair;
    *     see the callers' null conventions);
    *   - `members`: (gid, mid) — the expansion map;
    *   - `uniq`: one representative input row per content (its id IS
    *     the gid). */
  final case class Groups(gmap: DataFrame, members: DataFrame, uniq: DataFrame)

  /** The collapse entry shape: memoized pre-pass, then None when the
    * input is duplicate-free (caller runs its member-level plan
    * VERBATIM — the 1× plan-identity contract) or the one-window-pass
    * grouping otherwise. `idCol` must be an orderable unique id.
    * `statsKnown` carries a pre-pass the caller already ran (e.g. for
    * a dispatch decision) so it isn't re-issued on an uncacheable
    * plan. */
  def groupByContent(df: DataFrame, idCol: String, content: Column,
      family: String, logNoun: String,
      statsKnown: Option[(Long, Long)] = None): Option[Groups] = {
    val (n, u) = statsKnown.getOrElse(dupStats(df, content, family))
    if (n == u) None
    else {
      System.err.println(s"[collapse] $family: content collapse — " +
        s"$n rows -> $u distinct $logNoun")
      // pinned eagerly (r16 verdict #1): gmap feeds the member map and
      // the unique-representative side of every collapsed plan
      val gmap = graft.InternalCaches.pinEager(
        df.filter(content.isNotNull)
          .withColumn("gid", min(col(idCol)).over(Window.partitionBy(content))))
      Some(Groups(gmap,
        gmap.select(col("gid"), col(idCol).as("mid")),
        gmap.filter(col(idCol) === col("gid"))))
    }
  }

  /** Expand a unique-level pair relation (one row per group pair,
    * `g1Col`/`g2Col` group ids, any symmetric payload columns) back to
    * member pairs: groups are disjoint and g1 != g2, so every cross
    * pair is distinct; least/greatest restores `out1 < out2` canonical
    * order. Payload must be SYMMETRIC in the pair (a cosine, a Hamming
    * distance) — asymmetric payloads (the Jaccard sizes) need the
    * caller's own swap logic. */
  def expandSymmetric(uPairs: DataFrame, members: DataFrame,
      g1Col: String, g2Col: String, out1: String, out2: String,
      payload: Seq[String]): DataFrame =
    uPairs
      .join(members.select(col("gid").as(g1Col), col("mid").as("__m1")), g1Col)
      .join(members.select(col("gid").as(g2Col), col("mid").as("__m2")), g2Col)
      .select(least(col("__m1"), col("__m2")).as(out1) +:
        greatest(col("__m1"), col("__m2")).as(out2) +:
        payload.map(col): _*)

  /** All intra-group member pairs (`out1 < out2`) with their gid — the
    * pure output-expansion relation (identical contents, so the payload
    * is a per-group constant the caller attaches). */
  def intraPairs(members: DataFrame, out1: String, out2: String): DataFrame =
    members.as("x").join(members.as("y"),
        col("x.gid") === col("y.gid") && col("x.mid") < col("y.mid"))
      .select(col("x.mid").as(out1), col("y.mid").as(out2),
        col("x.gid").as("gid"))

  /** One row: (total rows, distinct non-null `content` values — hashed,
    * see object doc). Memoized per (session, plan, content, inputs). */
  def dupStats(df: DataFrame, content: Column, family: String): (Long, Long) = {
    val s = df.sparkSession
    def compute(): (Long, Long) = {
      prePassComputes.incrementAndGet()
      familyComputes.computeIfAbsent(family,
        _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
      val r = df.agg(count(lit(1)).as("n"),
        count_distinct(when(content.isNotNull, xxhash64(content))).as("u"))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    inputFingerprint(df) match {
      case None => compute()
      case Some(fp) =>
        val key = (sessionToken(s),
          df.queryExecution.analyzed.semanticHash(), content.toString, fp)
        val hit = statsCache.get(key)
        if (hit != null) hit
        else {
          val v = compute()
          statsCache.put(key, v) // LRU-bounded (removeEldestEntry)
          v
        }
    }
  }
}
