package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** SKEW-HARDENED as-of join — the hot-key answer for [[AsOfJoinExec]].
  *
  * The shuffle form of the native as-of join clusters both sides on the
  * raw key (`AsOfJoinExec.requiredChildDistribution`). That is the
  * minimum-movement plan for a well-distributed key, but a power-law
  * key (one user holding a double-digit share of a 100 TB event
  * corpus) serializes into ONE partition — and because the node is
  * custom, AQE's `OptimizeSkewedJoin` cannot see it, so the usual
  * runtime rescue never happens. Every other join in the engine either
  * broadcasts or inherits AQE skew handling; this wrapper closes the
  * gap for the as-of family.
  *
  * Since round 11 this is the DEFAULT plan: [[AsOf.join]] dispatches
  * through [[join]] with its per-call `skew` [[Config]], so the flagship
  * API rescues a power-law key without the caller knowing the wrapper
  * exists. [[AsOf.joinPlain]] is the explicit opt-out.
  *
  * The split is TIME-SLICED, exploiting the operator's own invariant
  * (the best match for a left row at time t is the single greatest
  * right time <= t):
  *
  *   1. DETECT heavy keys in ONE narrow job over a seeded key+time
  *      sample of the left side ([[detect]]): per-key sampled counts
  *      AND per-key time quantiles come out of the same aggregate, the
  *      sample total rides along as an `Observation` metric, and the
  *      driver sees at most `maxHotKeys` rows (distributed top-k — no
  *      unpartitioned window, no second pass). A key is hot when its
  *      sampled share exceeds `hotKeyShare` AND its estimated absolute
  *      row count exceeds `minHotRows` — a key too small to straggle a
  *      partition is never worth two extra plan stages, however large
  *      its share of a small corpus. Detection is an optimization,
  *      never a correctness input — splitting a cold key (false
  *      positive) or missing a warm one (false negative) changes the
  *      plan, not the answer.
  *   2. SLICE each hot key's time axis at its left-time sample
  *      quantiles (`percentile_approx`, so slices carry ~equal LEFT
  *      row counts — the side that dominates a skewed as-of). Slice id
  *      of a row = number of boundaries <= its time: monotone in time,
  *      so a right row in a LATER slice than a left row always has a
  *      strictly greater time and is never a candidate for it.
  *   3. CARRY-IN: a left row in slice s can still match a right row
  *      from an earlier slice — but only the single greatest-time one,
  *      by the operator's invariant. So for each (hot key, target
  *      slice) replicate exactly ONE right row: the max-time right row
  *      over all earlier slices. O(maxHotKeys × slices) extra rows
  *      total — independent of data size.
  *   4. JOIN on (key, slice) through the unchanged [[AsOfJoinExec]]:
  *      the hot key now hash-distributes over up to `slices` partitions
  *      and its merge work parallelizes, at the cost of one tiny extra
  *      job (the detection pass) and the carry-in rows.
  *
  * RECURRING WORKLOADS skip detection entirely: `Config.hint` takes a
  * precomputed hot-key → slice-boundaries map (yesterday's detection
  * output, a layout-time profile, an operator's domain knowledge), and
  * the join is planned with ZERO extra driver jobs — the same
  * pay-once-amortize-forever argument as the bucketed as-of layout.
  * Boundaries in a hint are plan-only too: any monotone cut points
  * work, stale ones just balance worse.
  *
  * Tie caveat (same contract as the base operator): among duplicate
  * right (key, time) rows the winner is arbitrary; equal times always
  * land in the same slice, so splitting never changes WHICH time value
  * wins — keep right times unique per key for fully deterministic rows.
  *
  * Time columns must be `LongType` epoch-nanos (engine convention,
  * `graft.Tables.normalizeEventTime`): slice arithmetic compares raw
  * longs, and the raw-Long tolerance guard in [[AsOf.join]] applies
  * unchanged.
  */
object AsOfSkew {

  /** Tuning for hot-key detection and splitting. Defaults are sized for
    * a power-law corpus at cluster scale: a key only earns splitting at
    * >= 2% of sampled rows (below that, one partition holds < 2% of the
    * data — not a straggler) AND >= `minHotRows` estimated rows (a
    * million-row key is roughly one comfortable task's worth; anything
    * smaller finishes before splitting could pay), and 8 slices turn a
    * 50%-share key into ~6% partitions. `hint` supplies precomputed
    * hot keys + boundaries and skips the detection job entirely. */
  final case class Config(
      slices: Int = 8,
      hotKeyShare: Double = 0.02,
      sampleFraction: Double = 0.05,
      maxHotKeys: Int = 64,
      minHotRows: Long = 1000000L,
      seed: Long = 42L,
      hint: Option[Map[Seq[Any], Seq[Long]]] = None) {
    require(slices >= 2, "need at least 2 slices to split a hot key")
    require(hotKeyShare >= 0.0 && hotKeyShare <= 1.0, "hotKeyShare in [0,1]")
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      "sampleFraction in (0,1]")
    require(maxHotKeys >= 1, "maxHotKeys >= 1")
    require(minHotRows >= 0L, "minHotRows >= 0")
  }

  private val LeftSlice = "__asof_skew_ls"
  private val RightSlice = "__asof_skew_rs"

  /** Backward as-of join ([[AsOf.join]] semantics and output, column
    * for column) with hot-key time-slice splitting. Falls back to the
    * plain plan when detection (or the hint) yields no hot key. */
  def join(left: DataFrame, right: DataFrame, keys: Seq[(String, String)],
           leftTime: String, rightTime: String,
           tolerance: Option[Long] = None,
           broadcastRight: Option[Boolean] = None,
           config: Config = Config()): DataFrame = {
    Seq(left.schema(leftTime), right.schema(rightTime)).foreach(f =>
      require(f.dataType == LongType,
        s"skew-hardened as-of requires LongType epoch-nanos time columns; " +
        s"${f.name} is ${f.dataType.simpleString} — normalize at the scan " +
        "first (graft.Tables.normalizeEventTime)"))
    val lKeys = keys.map(_._1)
    val rKeys = keys.map(_._2)

    // boundaries can come back empty for a key whose left times are all
    // equal (quantiles collapse) — nothing to split there
    val bounds = config.hint
      .getOrElse {
        // CHEAP SKIP: plans whose EVERY leaf is a LocalRelation or
        // Range carry a sizeInBytes that is literally rows × schema
        // default widths, so the width-derived row bound is exact —
        // those (dim-sized literals, test corpora, generated ranges)
        // plan plain with zero detection actions. EVERYTHING ELSE
        // always detects (one column-pruned sampled job; trivial next
        // to any real workload): a file scan's sizeInBytes is
        // COMPRESSED bytes and a skewed (= repetitive, RLE-friendly)
        // key column encodes below one byte per row; a cached
        // InMemoryRelation reports compressed columnar bytes the same
        // way; a CBO rowCount above a filter/join is a selectivity
        // ESTIMATE, not a proof. Each of those "bounds" silently
        // disabled the rescue on exactly its target corpora (r11
        // review, two passes).
        val plan = left.queryExecution.optimizedPlan
        import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Range => LogicalRange}
        val leaves = plan.collectLeaves()
        val exactlySized = leaves.nonEmpty && leaves.forall {
          case _: LocalRelation => true
          case _: LogicalRange => true
          case _ => false
        }
        val provablySmall = exactlySized && {
          // Spark's size-only stats compute rows × (8-byte overhead +
          // Σ defaultSize) for these leaves and preserve that identity
          // through projections; dividing by the same width recovers
          // the row count exactly (a Filter in between only inflates
          // size → overestimates rows → skips nothing).
          val rowBytes =
            BigInt(8 + left.schema.map(_.dataType.defaultSize).sum)
          plan.stats.sizeInBytes / rowBytes < BigInt(config.minHotRows)
        }
        if (provablySmall) Map.empty[Seq[Any], Seq[Long]]
        else detectMemo(left, lKeys, leftTime, config)
      }
      .filter(_._2.nonEmpty)
    if (bounds.isEmpty)
      return AsOf.joinPlain(left, right, keys, leftTime, rightTime,
        tolerance, broadcastRight)

    val leftSliced = left.withColumn(LeftSlice,
      sliceExpr(bounds, lKeys, col(leftTime)))
    val rightSliced = right.withColumn(RightSlice,
      sliceExpr(bounds, rKeys, col(rightTime)))

    // carry-ins: per (hot key, own slice) keep the max-time right row,
    // replicate it to every LATER slice, and per target slice keep the
    // max-time candidate — exactly the greatest right row from all
    // earlier slices, the one row a later slice's merge can still need
    val rCols = right.columns.toSeq
    val maxSlice = bounds.valuesIterator.map(_.length).max // slices range 0..maxSlice
    val hotRightPred = bounds.keysIterator
      .map(kv => keyEq(rKeys, kv)).reduce(_ || _)
    val perSlice = rightSliced
      .filter(hotRightPred && col(rightTime).isNotNull &&
        col(RightSlice) < maxSlice)
      .groupBy((rKeys.map(col) :+ col(RightSlice)): _*)
      .agg(max_by(struct(rCols.map(col): _*), col(rightTime)).as("__r"))
    val carries = perSlice
      .withColumn("__tgt",
        explode(sequence(col(RightSlice) + 1, lit(maxSlice))))
      .groupBy((rKeys.map(col) :+ col("__tgt")): _*)
      .agg(max_by(col("__r"), col("__r").getField(rightTime)).as("__r"))
      .select((rCols.map(c => col("__r").getField(c).as(c)) :+
        col("__tgt").as(RightSlice)): _*)
    val rightWithCarries = rightSliced.unionByName(carries)

    AsOf.joinPlain(leftSliced, rightWithCarries,
        keys :+ (LeftSlice -> RightSlice), leftTime, rightTime, tolerance,
        broadcastRight)
      .drop(LeftSlice, RightSlice)
  }

  /** Forward as-of with hot-key splitting — backward on negated time,
    * the [[AsOf.joinForward]] composition over the skew-safe form. */
  def joinForward(left: DataFrame, right: DataFrame,
                  keys: Seq[(String, String)],
                  leftTime: String, rightTime: String,
                  tolerance: Option[Long] = None,
                  broadcastRight: Option[Boolean] = None,
                  config: Config = Config()): DataFrame = {
    Seq(left.schema(leftTime), right.schema(rightTime)).foreach(f =>
      require(f.dataType == LongType,
        s"forward as-of requires LongType epoch-nanos time columns; " +
        s"${f.name} is ${f.dataType.simpleString}"))
    val ln = "__asof_skew_fwd_lt"
    val rn = "__asof_skew_fwd_rt"
    // a caller hint speaks the ORIGINAL time axis; negate it with the
    // columns so the forward composition stays a pure reflection
    val negated = config.copy(hint =
      config.hint.map(_.map { case (k, bs) => k -> bs.map(-_).sorted }))
    join(left.withColumn(ln, -col(leftTime)),
        right.withColumn(rn, -col(rightTime)),
        keys, ln, rn, tolerance, broadcastRight, negated)
      .drop(ln, rn)
  }

  /** Session-scoped memo for [[detect]] (r11 advice: `AsOf.join` ran
    * an eager sampled-scan job at DataFrame-CONSTRUCTION time for
    * every recurring parquet-backed call). Keyed by (session identity,
    * analyzed-plan semantic hash, key/time names, knobs-sans-hint):
    * the same logical left side under the same knobs detects ONCE per
    * session. Safe by construction — the detection result only picks
    * the plan, never the answer, so a stale entry (data rewritten
    * in-place under an identical plan mid-session) costs at most a
    * suboptimal plan choice, the same stakes as AQE's cached stats.
    * Bounded (entries are ≤ maxHotKeys boundary lists; the map clears
    * past 256 plans). */
  private val detectCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Seq[String], String, Config), Map[Seq[Any], Seq[Long]]]()

  /** Stable per-session token (r12 advice: identityHashCode can be
    * REUSED after a session is GC'd, so a new session with an equal
    * semanticHash could be served a dead session's detection). The
    * WeakHashMap holds sessions weakly — a dead session's token is
    * unreachable and can never be minted again (UUID), so its cache
    * entries are inert until the size-bound clear sweeps them. */
  private val sessionTokens = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, String]())
  private def sessionToken(s: org.apache.spark.sql.SparkSession): String =
    sessionTokens.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString)

  private def detectMemo(
      left: DataFrame, keyNames: Seq[String], timeName: String,
      config: Config): Map[Seq[Any], Seq[Long]] = {
    val key = (sessionToken(left.sparkSession),
      left.queryExecution.analyzed.semanticHash(),
      keyNames, timeName, config.copy(hint = None))
    val hit = detectCache.get(key)
    if (hit != null) hit
    else {
      val d = detect(left, keyNames, timeName, config)
      if (detectCache.size() >= 256) detectCache.clear()
      detectCache.put(key, d)
      d
    }
  }

  /** ONE-PASS hot-key detection (r10 verdict #6 — previously a persist
    * + three actions): per-key sampled counts and per-key interior
    * left-time quantiles come out of a single groupBy aggregate over a
    * seeded Bernoulli key+time sample (column-pruned at the scan); the
    * sample total rides along as an `Observation` metric of the same
    * action; `orderBy.limit` makes the collect a distributed top-k, so
    * the driver sees at most `maxHotKeys` rows regardless of key
    * cardinality. The share and absolute-size thresholds are applied
    * driver-side on those rows. Returns hot key -> sorted distinct
    * slice boundaries. */
  private[plans] def detect(
      left: DataFrame, keyNames: Seq[String], timeName: String,
      config: Config): Map[Seq[Any], Seq[Long]] = {
    val keyCols = keyNames.map(col)
    val qs = (1 until config.slices).map(_.toDouble / config.slices).toArray
    val obs = Observation()
    val top = left.select((keyNames :+ timeName).map(col): _*)
      .sample(withReplacement = false, config.sampleFraction, config.seed)
      .na.drop(keyNames) // null keys never match — never worth splitting
      .filter(col(timeName).isNotNull)
      .groupBy(keyCols: _*)
      .agg(count(lit(1)).as("__cnt"),
        percentile_approx(col(timeName), lit(qs), lit(10000)).as("__bs"))
      .observe(obs, sum(col("__cnt")).as("__total"))
      .orderBy((col("__cnt").desc +: keyCols): _*)
      .limit(config.maxHotKeys)
      .collect()
    val total = obs.get.get("__total") match {
      case Some(l: java.lang.Long) => l.longValue()
      case _ => 0L
    }
    if (total == 0L) Map.empty
    else {
      // a key below 2 sampled rows is sampling noise, never a straggler;
      // minHotRows scales by the sample rate (expected sampled count of
      // a key that holds exactly minHotRows rows)
      val threshold = math.max(
        math.max(2.0, total * config.hotKeyShare),
        config.minHotRows * config.sampleFraction)
      top.iterator
        .filter(_.getLong(keyNames.length) >= threshold)
        .map { r =>
          val kv = keyNames.indices.map(r.get).toSeq
          val bs = r.getSeq[Long](keyNames.length + 1).distinct.sorted
          kv -> bs
        }
        .toMap
    }
  }

  private def keyEq(names: Seq[String], values: Seq[Any]): Column =
    names.zip(values).map { case (n, v) => col(n) === lit(v) }.reduce(_ && _)

  /** Slice id of a row: the number of its key's boundaries <= its time
    * (0 for non-hot keys and null times). Monotone in time per key, so
    * slice(rt) > slice(lt) implies rt > lt — later-slice right rows are
    * never candidates for an earlier-slice left row. Pure nested
    * when/sum over literals: codegen-friendly, no UDF. */
  private[plans] def sliceExpr(
      bounds: Map[Seq[Any], Seq[Long]], keyNames: Seq[String],
      time: Column): Column =
    bounds.foldLeft(when(lit(false), lit(0))) { case (acc, (kv, bs)) =>
      val slice = bs.foldLeft(lit(0)) { (sAcc, b) =>
        sAcc + when(time >= lit(b), 1).otherwise(0)
      }
      acc.when(keyEq(keyNames, kv), slice)
    }.otherwise(lit(0))
}
