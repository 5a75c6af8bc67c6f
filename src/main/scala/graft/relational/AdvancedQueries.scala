package graft.relational

import graft.{QueryDef, Staging, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Advanced operators beyond the reference surface: as-of join, exact
  * percentiles, pivot, and cube — each oracle-checked.
  */
object AdvancedQueries {

  /** AS-OF JOIN — for every 'error' event, the most recent 'click' of the
    * same user at or before it. Spark lacks a native as-of join; the
    * scalable composition is the union+window trick: tag both streams,
    * sort per user by time, and carry the last click forward with
    * `last(_, ignoreNulls)` over the preceding frame. One shuffle on
    * user_id, NO join blowup — at 100 TB this beats the naive
    * join-filter-rank plan by orders of magnitude on skewed users.
    * Oracle: DuckDB's native ASOF JOIN (inclusive `>=` semantics match
    * the window ordering with clicks sorted before errors on ties). */
  val asOfJoin: QueryDef = QueryDef.sql(
    "adv_asof_join",
    // among clicks tied on (user_id, t) the MAX event_id wins (r9
    // advice: a deterministic tie rule on BOTH engines, instead of two
    // independently arbitrary picks that only agree while fixture
    // timestamps stay unique) — realized here by deduplicating tied
    // clicks before the ASOF, and on the Spark side by the window's
    // event-id tiebreaker
    """WITH clicks AS (
      |  SELECT user_id, epoch_ns(ts) AS t, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |errors AS (
      |  SELECT user_id, epoch_ns(ts) AS t, event_id AS error_id
      |  FROM events WHERE event_type = 'error')
      |SELECT e.error_id, e.user_id, c.click_id,
      |  CAST((e.t - c.t) // 1000000000 AS BIGINT) AS gap_seconds
      |FROM errors e
      |ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.t >= c.t
      |ORDER BY error_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("t"), col("event_id").as("click_id"),
        lit(0).as("kind"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("t"), col("event_id").as("error_id"),
        lit(1).as("kind"))
    // union stream: clicks carry click_id, errors carry error_id
    val unioned = clicks.withColumn("error_id", lit(null).cast("long"))
      .select(col("user_id"), col("t"), col("kind"), col("click_id"),
        col("error_id"), col("t").as("click_t"))
      .unionAll(errors.select(col("user_id"), col("t"), col("kind"),
        lit(null).cast("long").as("click_id"), col("error_id"),
        lit(null).cast("long").as("click_t")))
    // clicks (kind 0) order before errors (kind 1) on ts ties => inclusive;
    // event_id last so `last` picks the MAX id among clicks tied on t —
    // the deterministic tie rule the oracle's pre-ASOF dedup mirrors
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("kind"), coalesce(col("click_id"), col("error_id")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("last_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("last_click_t", last(col("click_t"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("error_id"), col("user_id"),
        col("last_click_id").as("click_id"),
        ((col("t") - col("last_click_t")) / 1000000000L).cast("long")
          .as("gap_seconds"))
      .orderBy(col("error_id"))
  }

  /** Exact interpolated percentiles (Spark `percentile` == ANSI
    * percentile_cont == DuckDB `quantile_cont`). */
  val percentiles: QueryDef = QueryDef.sql(
    "adv_percentiles",
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
      |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    // ONE array-percentile aggregate, not four scalar ones: exact
    // percentile buffers every group value, so four separate calls
    // buffer (and sort) the column four times over.
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(percentile(col("l_extendedprice"),
        array(lit(0.25), lit(0.5), lit(0.75), lit(0.95))).as("ps"))
      .select(col("l_returnflag"),
        round(element_at(col("ps"), 1), 4).as("p25"),
        round(element_at(col("ps"), 2), 4).as("p50"),
        round(element_at(col("ps"), 3), 4).as("p75"),
        round(element_at(col("ps"), 4), 4).as("p95"))
      .orderBy(col("l_returnflag"))
  }

  /** Pivot: linestatus columns per returnflag (oracle via CASE sums —
    * identical semantics, engine-neutral). */
  val pivot: QueryDef = QueryDef.sql(
    "adv_pivot",
    """SELECT l_returnflag,
      |  sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS F,
      |  sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS O
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .sum("l_quantity")
      .orderBy(col("l_returnflag"))
  }

  /** Cube grouping sets over two dimensions. */
  val cube: QueryDef = QueryDef.sql(
    "adv_cube",
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |  round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) {
    (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
  }

  /** Two-phase salted aggregation — the skew-resistant pattern for hot
    * keys at 100 TB: partial aggregate on (key, salt) spreads a hot key
    * over N reducers, then a tiny final aggregate merges the N partials.
    * Results are identical to the direct groupBy (the oracle computes
    * it directly), which is exactly the point. */
  val saltedAgg: QueryDef = QueryDef.sql(
    "adv_salted_agg",
    """SELECT l_returnflag, sum(l_quantity) AS sum_qty,
      |  round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .withColumn("salt", pmod(xxhash64(col("l_orderkey")), lit(8)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(sum(col("l_quantity")).as("q"), sum(col("l_extendedprice")).as("p"),
        count(lit(1)).as("c"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("q")).as("sum_qty"), round(sum(col("p")), 2).as("sum_price"),
        sum(col("c")).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** Explicit ROWS-frame moving average (vs the RANGE-default running
    * sums of q6): 3-order trailing average per customer, ordered by an
    * unambiguous (date, key) pair so the frame contents are identical in
    * both engines. */
  val movingAvg: QueryDef = QueryDef.sql(
    "adv_moving_avg",
    """SELECT o_custkey, o_orderkey,
      |  round(avg(o_totalprice) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mavg
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-2, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        round(avg(col("o_totalprice")).over(w), 4).as("mavg"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Deterministic stratified sampling — how a training pipeline carves
    * reproducible train/eval subsets from 100 TB without a shuffle:
    * membership is pure row-local arithmetic (`h(keys) mod 1000 <
    * stratum rate`), so the same rows are sampled on any cluster, any
    * partitioning, any engine — unlike `TABLESAMPLE`/`rand()`, which are
    * layout-dependent. Rates per stratum: returnflag A 10 %, N 1 %,
    * else 5 %. The output aggregates the sample per stratum, which
    * hash-pins the exact membership set cross-engine. */
  val stratifiedSample: QueryDef = QueryDef.sql(
    "adv_stratified_sample",
    """WITH sampled AS (
      |  SELECT l_returnflag, l_quantity
      |  FROM lineitem
      |  WHERE (l_orderkey * 2654435761 + l_linenumber * 40503) % 1000 <
      |    CASE l_returnflag WHEN 'A' THEN 100 WHEN 'N' THEN 10 ELSE 50 END)
      |SELECT l_returnflag, count(*) AS n_sampled,
      |  sum(l_quantity) AS sum_qty
      |FROM sampled
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val h = (col("l_orderkey") * 2654435761L + col("l_linenumber") * 40503L) % 1000L
    val rate = when(col("l_returnflag") === "A", 100L)
      .when(col("l_returnflag") === "N", 10L).otherwise(50L)
    Tables.lineitem(s, d)
      .filter(h < rate)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** The engine's SQL-string surface: fixture tables registered as temp
    * views, the query text executed via `spark.sql` — same text the
    * oracle runs, proving users can drive this engine with plain ANSI SQL
    * (correlated subquery included: per-nation above-average customers). */
  val sqlInterface: QueryDef = {
    val sql =
      """SELECT c.c_nationkey, count(*) AS n_above,
        |  round(max(c.c_acctbal), 2) AS top_bal
        |FROM customer c
        |WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
        |                     WHERE c2.c_nationkey = c.c_nationkey)
        |GROUP BY c.c_nationkey
        |ORDER BY c.c_nationkey""".stripMargin
    QueryDef.sql("adv_sql_interface", sql) { (s, d) =>
      graft.Tables.customer(s, d).createOrReplaceTempView("customer")
      s.sql(sql)
    }
  }

  /** The same as-of semantics as [[asOfJoin]], but through the engine's
    * OWN physical operator (`graft.plans.AsOfJoinExec`, planned from the
    * custom `AsOfJoin` logical node by the injected `AsOfStrategy`) —
    * the whole-operator extension point. Three-way agreement: this
    * plan, the union+window composition above, and DuckDB's native ASOF
    * JOIN must all hash-match. One shuffle per side + in-partition
    * sort-merge; a single buffered right row per partition at runtime. */
  val asOfNative: QueryDef = QueryDef.sql(
    "adv_asof_native",
    // the operator's tie contract is "keep right times unique per key"
    // (an arbitrary winner among duplicate (key, t) right rows), so the
    // QUERY deduplicates tied clicks to the MAX event_id before the
    // join — the same deterministic rule the window composition pins —
    // and the oracle mirrors it (r9 advice, extended to the native
    // family in r10)
    """WITH clicks AS (
      |  SELECT user_id AS c_user_id, epoch_ns(ts) AS c_t,
      |         max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |errors AS (
      |  SELECT user_id, epoch_ns(ts) AS t, event_id AS error_id
      |  FROM events WHERE event_type = 'error')
      |SELECT e.error_id, e.user_id, c.click_id,
      |  CAST((e.t - c.c_t) // 1000000000 AS BIGINT) AS gap_seconds
      |FROM errors e
      |ASOF LEFT JOIN clicks c ON e.user_id = c.c_user_id AND e.t >= c.c_t
      |ORDER BY error_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("t"), col("event_id").as("error_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("c_user_id"), col("ts").as("c_t"))
      .agg(max(col("event_id")).as("click_id"))
    graft.plans.AsOf.join(errors, clicks,
        keys = Seq("user_id" -> "c_user_id"), leftTime = "t", rightTime = "c_t")
      .select(col("error_id"), col("user_id"), col("click_id"),
        ((col("t") - col("c_t")) / 1000000000L).cast("long").as("gap_seconds"))
      .orderBy(col("error_id"))
  }

  /** The aggressive skew config [[asOfSkew]] and [[asOfSkewAuto]] share:
    * a zero share threshold, a half-rate sample and a one-row floor, so
    * the split path engages on the uniform fixture. */
  private val AggressiveSkew = graft.plans.AsOfSkew.Config(
    slices = 4, hotKeyShare = 0.0, sampleFraction = 0.5,
    maxHotKeys = 32, minHotRows = 1)

  /** [[asOfNative]] through the SKEW-HARDENED path
    * ([[graft.plans.AsOfSkew]]): hot keys detected from a seeded
    * sample, their time axis quantile-sliced, the slice id appended to
    * the join key so one heavy user hash-distributes over many
    * partitions of the SAME [[graft.plans.AsOfJoinExec]] — the rescue
    * AQE cannot perform on a custom node. The config is
    * [[AggressiveSkew]], so the split path actually engages on the
    * uniform fixture — detection is an optimization, never a
    * correctness input, so the oracle is the same DuckDB ASOF JOIN as
    * the unsplit plan. Forced to the shuffle form: splitting a
    * broadcast as-of would be pointless (the left side never shuffles
    * there). */
  val asOfSkew: QueryDef = QueryDef.sql(
    "adv_asof_skew",
    // tied clicks dedup to the MAX event_id on both engines — see
    // [[asOfNative]]
    """WITH clicks AS (
      |  SELECT user_id AS c_user_id, epoch_ns(ts) AS c_t,
      |         max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |errors AS (
      |  SELECT user_id, epoch_ns(ts) AS t, event_id AS error_id
      |  FROM events WHERE event_type = 'error')
      |SELECT e.error_id, e.user_id, c.click_id,
      |  CAST((e.t - c.c_t) // 1000000000 AS BIGINT) AS gap_seconds
      |FROM errors e
      |ASOF LEFT JOIN clicks c ON e.user_id = c.c_user_id AND e.t >= c.c_t
      |ORDER BY error_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("t"), col("event_id").as("error_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("c_user_id"), col("ts").as("c_t"))
      .agg(max(col("event_id")).as("click_id"))
    graft.plans.AsOfSkew.join(errors, clicks,
        keys = Seq("user_id" -> "c_user_id"), leftTime = "t", rightTime = "c_t",
        broadcastRight = Some(false), config = AggressiveSkew)
      .select(col("error_id"), col("user_id"), col("click_id"),
        ((col("t") - col("c_t")) / 1000000000L).cast("long").as("gap_seconds"))
      .orderBy(col("error_id"))
  }

  /** [[asOfNative]] through the DEFAULT dispatching API (r11, verdict
    * #1) with an aggressive per-call `skew` config — the end-to-end
    * pin that a caller of the FLAGSHIP `AsOf.join` gets the rescued
    * (time-sliced) plan without touching the wrapper, and that the
    * dispatch path answers bit-identically to the plain plan (same
    * DuckDB oracle as every as-of in the family). Every other as-of
    * query keeps the default config (under which the fixture's
    * heaviest user — far below `minHotRows` — never triggers a split
    * and its plan is untouched, the PlanAudit pin). */
  val asOfSkewAuto: QueryDef = QueryDef.sql(
    "adv_asof_skew_auto",
    """WITH clicks AS (
      |  SELECT user_id AS c_user_id, epoch_ns(ts) AS c_t,
      |         max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |errors AS (
      |  SELECT user_id, epoch_ns(ts) AS t, event_id AS error_id
      |  FROM events WHERE event_type = 'error')
      |SELECT e.error_id, e.user_id, c.click_id,
      |  CAST((e.t - c.c_t) // 1000000000 AS BIGINT) AS gap_seconds
      |FROM errors e
      |ASOF LEFT JOIN clicks c ON e.user_id = c.c_user_id AND e.t >= c.c_t
      |ORDER BY error_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("t"), col("event_id").as("error_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("c_user_id"), col("ts").as("c_t"))
      .agg(max(col("event_id")).as("click_id"))
    graft.plans.AsOf.join(errors, clicks,
        keys = Seq("user_id" -> "c_user_id"), leftTime = "t",
        rightTime = "c_t", broadcastRight = Some(false), skew = AggressiveSkew)
      .select(col("error_id"), col("user_id"), col("click_id"),
        ((col("t") - col("c_t")) / 1000000000L).cast("long").as("gap_seconds"))
      .orderBy(col("error_id"))
  }

  /** [[asOfSkew]] through the PRECOMPUTED-HINT path (r11, verdict #6):
    * the recurring-workload shape, where yesterday's detection output
    * (or a layout-time profile) is handed to the planner and the
    * per-call detection job is skipped entirely — zero extra driver
    * jobs before the join, mirroring how the bucketed layout amortizes
    * its shuffle. Here the "profile" is computed once by a tiny
    * heaviest-2-users aggregate with midpoint boundaries — crude cuts
    * on purpose: a hint's boundaries are plan-only (any monotone cut
    * points are valid, stale ones just balance worse), which is
    * exactly why a stale profile is safe to reuse. Same oracle as the
    * whole as-of family: the hint must change the plan, never the
    * answer. */
  val asOfSkewHint: QueryDef = QueryDef.sql(
    "adv_asof_skew_hint",
    """WITH clicks AS (
      |  SELECT user_id AS c_user_id, epoch_ns(ts) AS c_t,
      |         max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |errors AS (
      |  SELECT user_id, epoch_ns(ts) AS t, event_id AS error_id
      |  FROM events WHERE event_type = 'error')
      |SELECT e.error_id, e.user_id, c.click_id,
      |  CAST((e.t - c.c_t) // 1000000000 AS BIGINT) AS gap_seconds
      |FROM errors e
      |ASOF LEFT JOIN clicks c ON e.user_id = c.c_user_id AND e.t >= c.c_t
      |ORDER BY error_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("t"), col("event_id").as("error_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("c_user_id"), col("ts").as("c_t"))
      .agg(max(col("event_id")).as("click_id"))
    // the "yesterday's profile" stand-in: heaviest 2 users + their time
    // midpoint, one tiny column-pruned aggregate
    val profile = errors.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), min(col("t")).as("lo"), max(col("t")).as("hi"))
      .orderBy(col("n").desc, col("user_id"))
      .limit(2)
      .collect()
      .map(r => Seq[Any](r.get(0)) ->
        Seq((r.getLong(2) + r.getLong(3)) / 2))
      .toMap
    graft.plans.AsOfSkew.join(errors, clicks,
        keys = Seq("user_id" -> "c_user_id"), leftTime = "t", rightTime = "c_t",
        broadcastRight = Some(false),
        config = graft.plans.AsOfSkew.Config(hint = Some(profile)))
      .select(col("error_id"), col("user_id"), col("click_id"),
        ((col("t") - col("c_t")) / 1000000000L).cast("long").as("gap_seconds"))
      .orderBy(col("error_id"))
  }

  /** Buckets for the [[asOfBucketed]] layout. At 100 TB this would be
    * sized so one bucket ≈ one executor-core's worth of data (thousands);
    * 8 keeps the local fixtures to one small file per bucket. */
  private val AsOfBuckets = 8

  private def asOfErrorsTable(d: String) = s"graft_asof_errors_b${Staging.fixtureKey(d)}"
  private def asOfClicksTable(d: String) = s"graft_asof_clicks_b${Staging.fixtureKey(d)}"

  /** Drops `tbl` and its warehouse location. The DROP alone is not
    * enough: the in-memory catalog forgets tables at JVM exit while
    * their warehouse directories survive, and `saveAsTable` refuses to
    * create a table over an orphaned location — so a fresh JVM's first
    * staging must clear the leftover directory explicitly.
    *
    * CATALOG-AWARE (r10 verdict #7): when the catalog still knows the
    * table, its recorded Location is the path deleted — correct even
    * for a table created with an explicit LOCATION. The
    * warehouse-convention path is only the fallback for the
    * orphaned-directory case, where the convention is all a fresh JVM
    * has. */
  private def dropWithLocation(s: SparkSession, tbl: String): Unit = {
    val catalogLoc: Option[String] =
      if (s.catalog.tableExists(tbl))
        s.sql(s"DESCRIBE TABLE EXTENDED `$tbl`")
          .filter(col("col_name") === "Location")
          .select(col("data_type")).collect()
          .headOption.map(_.getString(0))
      else None
    s.sql(s"DROP TABLE IF EXISTS `$tbl`")
    val p = catalogLoc
      .map(new org.apache.hadoop.fs.Path(_))
      .getOrElse(new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), tbl.toLowerCase))
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Stages the [[asOfBucketed]] layout: errors and deduped clicks
    * written as Spark BUCKETED, SORTED tables — `bucketBy(N, key)` +
    * `sortBy(key, time)`, with a pre-write `repartition(N, key)` so each
    * write task holds exactly one bucket's rows and every bucket lands
    * in ONE file (the condition under which the scan advertises its
    * sort order). The staging marker lives in the warehouse beside the
    * tables; they are reused only while both are still in the catalog
    * (the in-memory catalog forgets them at JVM exit) and the marker
    * holds the current events fingerprint. */
  private def stageAsOfBucketed(s: SparkSession, d: String): Unit =
    Staging.ensure(s,
      s.conf.get("spark.sql.warehouse.dir") + s"/graft-asof-bucketed-${Staging.fixtureKey(d)}",
      Tables.fixtureFingerprint(s, d, "events"),
      fresh = s.catalog.tableExists(asOfErrorsTable(d)) &&
        s.catalog.tableExists(asOfClicksTable(d))) {
      dropWithLocation(s, asOfErrorsTable(d))
      dropWithLocation(s, asOfClicksTable(d))
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("t"), col("event_id").as("error_id"))
      // tied clicks dedup to the MAX event_id — see [[asOfNative]]
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("c_user_id"), col("ts").as("c_t"))
        .agg(max(col("event_id")).as("click_id"))
      errors.repartition(AsOfBuckets, col("user_id"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(AsOfBuckets, "user_id").sortBy("user_id", "t")
        .saveAsTable(asOfErrorsTable(d))
      clicks.repartition(AsOfBuckets, col("c_user_id"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(AsOfBuckets, "c_user_id").sortBy("c_user_id", "c_t")
        .saveAsTable(asOfClicksTable(d))
  }

  /** The joined frame behind [[asOfBucketed]], pre-presentation-sort —
    * the subtree the plan audit asserts is exchange-free and sort-free. */
  def asOfBucketedJoined(s: SparkSession, d: String): DataFrame = {
    stageAsOfBucketed(s, d)
    // joinPlain: the layout path manages skew at LAYOUT time (a hot key
    // is split across bucket files when the table is written); letting
    // the default skew dispatch add a slice column here would forfeit
    // the zero-exchange property the staging paid for
    graft.plans.AsOf.joinPlain(
        s.table(asOfErrorsTable(d)), s.table(asOfClicksTable(d)),
        keys = Seq("user_id" -> "c_user_id"),
        leftTime = "t", rightTime = "c_t",
        // the point is the layout, not the small-side escape hatch
        broadcastRight = Some(false))
      .select(col("error_id"), col("user_id"), col("click_id"),
        ((col("t") - col("c_t")) / 1000000000L).cast("long").as("gap_seconds"))
  }

  /** [[asOfNative]] from a BUCKETED, SORTED data layout — the ZERO-
    * SHUFFLE as-of. Both sides are staged once (untimed prepare) as
    * Spark bucketed tables hashed on the join key and sorted within
    * each bucket by (key, time). The bucketed scan then advertises
    * `HashPartitioning(key, N)` and the per-file (key, time) sort
    * order, which satisfy [[graft.plans.AsOfJoinExec]]'s
    * `requiredChildDistribution`/`requiredChildOrdering` OUTRIGHT:
    * `EnsureRequirements` inserts no exchange and no sort, and the
    * merge runs scan→join with zero data movement (plan-audited).
    *
    * This is the 100-TB shape for a RECURRING as-of workload: an event
    * log maintained bucketed-by-user and time-sorted (the layout cost
    * is one shuffle, paid once at ingest/compaction) makes every
    * subsequent as-of/enrichment join on it shuffle-free — the same
    * layout-amortization argument as the persisted band/IVF indexes.
    * Same oracle as [[asOfNative]]: the layout must change the plan,
    * never the answer. */
  val asOfBucketed: QueryDef = QueryDef.sqlPrepared(
    "adv_asof_bucketed",
    """WITH clicks AS (
      |  SELECT user_id AS c_user_id, epoch_ns(ts) AS c_t,
      |         max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |errors AS (
      |  SELECT user_id, epoch_ns(ts) AS t, event_id AS error_id
      |  FROM events WHERE event_type = 'error')
      |SELECT e.error_id, e.user_id, c.click_id,
      |  CAST((e.t - c.c_t) // 1000000000 AS BIGINT) AS gap_seconds
      |FROM errors e
      |ASOF LEFT JOIN clicks c ON e.user_id = c.c_user_id AND e.t >= c.c_t
      |ORDER BY error_id""".stripMargin)(stageAsOfBucketed) { (s, d) =>
    asOfBucketedJoined(s, d).orderBy(col("error_id"))
  }

  /** RANGE (interval-containment) JOIN, bucketized — count the
    * lineitems shipped inside each sampled order's 7-day window. A
    * naive `s <= p AND p < e` join has no equi-key, so Spark plans a
    * nested-loop/cartesian — quadratic at scale. The classic fix: chunk
    * the time axis at the interval width, replicate each interval into
    * the (at most 2) chunks it overlaps, bucket each point into its one
    * chunk, and equi-join on the chunk id with the range predicate as a
    * residual filter. Work becomes |points| + |intervals|·2 rows through
    * one hash/sort-merge join — linear, skew-safe, AQE-compatible. All
    * arithmetic in integer epoch-microseconds (exact in both engines;
    * `DIV` floors identically on the positive epoch range). */
  val rangeJoinBucketed: QueryDef = QueryDef.sql(
    "adv_range_join_bucketed",
    """WITH iv AS (
      |  SELECT o_orderkey AS ok, epoch_us(o_orderdate) AS s,
      |         epoch_us(o_orderdate) + 604800000000 AS e
      |  FROM orders WHERE o_orderkey % 100 = 0),
      |ivc AS (
      |  SELECT DISTINCT ok, s, e, c
      |  FROM iv, unnest([s // 604800000000, (e - 1) // 604800000000]) t(c)),
      |pts AS (
      |  SELECT epoch_us(l_shipdate) AS p,
      |         epoch_us(l_shipdate) // 604800000000 AS c
      |  FROM lineitem),
      |joined AS (
      |  SELECT i.ok, count(*) AS n_in_window
      |  FROM ivc i JOIN pts x ON x.c = i.c AND x.p >= i.s AND x.p < i.e
      |  GROUP BY i.ok)
      |SELECT i.ok AS o_orderkey,
      |  CAST(coalesce(j.n_in_window, 0) AS BIGINT) AS n_in_window
      |FROM iv i LEFT JOIN joined j ON j.ok = i.ok
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    val week = 604800000000L
    // tiny interval relation referenced twice (chunk replication + the
    // final null-preserving join): persist to avoid a second orders scan
    val iv = Tables.orders(s, d)
      .filter(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey").as("ok"),
        // parquet stores NTZ; the session is pinned UTC so the cast to
        // the instant type is the identity both engines apply
        unix_micros(col("o_orderdate").cast("timestamp")).as("s"))
      .withColumn("e", col("s") + week)
      .persist()
    val ivc = iv.select(col("ok"), col("s"), col("e"),
      explode(array_distinct(array(
        expr(s"s DIV ${week}L"), expr(s"(e - 1) DIV ${week}L")))).as("c"))
    val pts = Tables.lineitem(s, d)
      .select(unix_micros(col("l_shipdate").cast("timestamp")).as("p"))
      .withColumn("c", expr(s"p DIV ${week}L"))
    val joined = ivc.join(pts, Seq("c"))
      .filter(col("p") >= col("s") && col("p") < col("e"))
      .groupBy(col("ok")).agg(count(lit(1)).as("n_in_window"))
    iv.select(col("ok")).join(joined, Seq("ok"), "left_outer")
      .select(col("ok").as("o_orderkey"),
        coalesce(col("n_in_window"), lit(0L)).as("n_in_window"))
      .orderBy(col("o_orderkey"))
  }

  /** [[asOfNative]] with a 10-minute TOLERANCE (pandas merge_asof
    * semantics): the most recent click still counts only when it is at
    * most 600 s old, else the error null-extends. DuckDB's ASOF has no
    * tolerance, so the oracle applies it post-hoc to the ASOF result —
    * exactly the operator's contract (the buffered best match is the
    * greatest time <= t; if even it is too old, nothing matches). */
  val asOfTolerance: QueryDef = QueryDef.sql(
    "adv_asof_tolerance",
    // tied clicks dedup to the MAX event_id on both engines — see
    // [[asOfNative]]
    """WITH clicks AS (
      |  SELECT user_id AS c_user_id, epoch_ns(ts) AS c_t,
      |         max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |errors AS (
      |  SELECT user_id, epoch_ns(ts) AS t, event_id AS error_id
      |  FROM events WHERE event_type = 'error'),
      |m AS (
      |  SELECT e.error_id, e.user_id, c.click_id, e.t, c.c_t
      |  FROM errors e
      |  ASOF LEFT JOIN clicks c ON e.user_id = c.c_user_id AND e.t >= c.c_t)
      |SELECT error_id, user_id,
      |  CASE WHEN c_t IS NOT NULL AND t - c_t <= 600000000000
      |       THEN click_id END AS click_id,
      |  CASE WHEN c_t IS NOT NULL AND t - c_t <= 600000000000
      |       THEN CAST((t - c_t) // 1000000000 AS BIGINT) END AS gap_seconds
      |FROM m ORDER BY error_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("t"), col("event_id").as("error_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("c_user_id"), col("ts").as("c_t"))
      .agg(max(col("event_id")).as("click_id"))
    graft.plans.AsOf.join(errors, clicks,
        keys = Seq("user_id" -> "c_user_id"), leftTime = "t", rightTime = "c_t",
        tolerance = java.time.Duration.ofSeconds(600))
      .select(col("error_id"), col("user_id"), col("click_id"),
        ((col("t") - col("c_t")) / 1000000000L).cast("long").as("gap_seconds"))
      .orderBy(col("error_id"))
  }

  /** FORWARD as-of join — for every 'error', the EARLIEST 'click' of
    * the same user at or after it (pandas `merge_asof
    * direction='forward'`; "what did the user do next"). Same
    * one-shuffle union+window shape as [[asOfJoin]], mirrored: carry
    * the first following click back with `first(_, ignoreNulls)` over
    * the following frame. Errors sort BEFORE clicks on timestamp ties
    * (kind 0 < 1), so a click at exactly t is inside the frame —
    * inclusive, matching DuckDB's `e.t <= c.t`. Scale shape identical
    * to the backward form: one shuffle on user_id, no join blowup. */
  val asOfForward: QueryDef = QueryDef.sql(
    "adv_asof_forward",
    // forward tie rule: among clicks tied on (user_id, t) the MIN
    // event_id wins (`first` over an id-ascending frame) — deduped
    // before the ASOF so both engines apply the same rule (r9 advice)
    """WITH clicks AS (
      |  SELECT user_id, epoch_ns(ts) AS t, min(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |errors AS (
      |  SELECT user_id, epoch_ns(ts) AS t, event_id AS error_id
      |  FROM events WHERE event_type = 'error')
      |SELECT e.error_id, e.user_id, c.click_id,
      |  CAST((c.t - e.t) // 1000000000 AS BIGINT) AS gap_seconds
      |FROM errors e
      |ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.t <= c.t
      |ORDER BY error_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("t"), col("event_id").as("error_id"),
        lit(0).as("kind"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("t"), col("event_id").as("click_id"),
        lit(1).as("kind"))
    val unioned = errors
      .select(col("user_id"), col("t"), col("kind"),
        lit(null).cast("long").as("click_id"), col("error_id"),
        lit(null).cast("long").as("click_t"))
      .unionAll(clicks.select(col("user_id"), col("t"), col("kind"),
        col("click_id"), lit(null).cast("long").as("error_id"),
        col("t").as("click_t")))
    // errors (kind 0) order before clicks (kind 1) on ts ties =>
    // inclusive; event_id last so `first` picks the MIN id among
    // clicks tied on t — mirrored by the oracle's pre-ASOF dedup
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("kind"), coalesce(col("click_id"), col("error_id")))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    unioned
      .withColumn("next_click_id", first(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("next_click_t", first(col("click_t"), ignoreNulls = true).over(w))
      .filter(col("kind") === 0)
      .select(col("error_id"), col("user_id"),
        col("next_click_id").as("click_id"),
        ((col("next_click_t") - col("t")) / 1000000000L).cast("long")
          .as("gap_seconds"))
      .orderBy(col("error_id"))
  }

  /** [[asOfForward]] through the NATIVE operator: forward-on-t is
    * backward-on-(−t), so [[graft.plans.AsOf.joinForward]] reuses
    * [[graft.plans.AsOfJoinExec]] unchanged (one shuffle or broadcast
    * per side, single-pass merge, O(1) buffered state) — no window
    * state, no union materialization. Same oracle as the composition;
    * the suite additionally pins exact agreement between the two. */
  val asOfForwardNative: QueryDef = QueryDef.sql(
    "adv_asof_fwd_native",
    // forward tie rule: tied clicks dedup to the MIN event_id on both
    // engines (the forward composition's rule) — see [[asOfNative]]
    """WITH clicks AS (
      |  SELECT user_id AS c_user_id, epoch_ns(ts) AS c_t,
      |         min(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |errors AS (
      |  SELECT user_id, epoch_ns(ts) AS t, event_id AS error_id
      |  FROM events WHERE event_type = 'error')
      |SELECT e.error_id, e.user_id, c.click_id,
      |  CAST((c.c_t - e.t) // 1000000000 AS BIGINT) AS gap_seconds
      |FROM errors e
      |ASOF LEFT JOIN clicks c ON e.user_id = c.c_user_id AND e.t <= c.c_t
      |ORDER BY error_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("t"), col("event_id").as("error_id"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("c_user_id"), col("ts").as("c_t"))
      .agg(min(col("event_id")).as("click_id"))
    graft.plans.AsOf.joinForward(errors, clicks,
        keys = Seq("user_id" -> "c_user_id"), leftTime = "t", rightTime = "c_t")
      .select(col("error_id"), col("user_id"), col("click_id"),
        ((col("c_t") - col("t")) / 1000000000L).cast("long").as("gap_seconds"))
      .orderBy(col("error_id"))
  }

  /** NEAREST as-of join — the closer of the backward and forward
    * matches, backward winning ties (pandas `merge_asof
    * direction='nearest'`). ONE union+window pass computes both
    * candidates: `last` over the preceding frame (clicks before errors
    * on ties, so an exact-t click lands backward with gap 0 — and then
    * wins any tie by rule, which is why the forward side may sort
    * exclusively without changing the answer) and `first` over the
    * following frame. Still one shuffle on user_id — NOT two joins
    * stitched, which is what the DuckDB oracle has to do. */
  val asOfNearest: QueryDef = QueryDef.sql(
    "adv_asof_nearest",
    // tie rules per direction (r9 advice): backward candidates tied on
    // t resolve to the MAX event_id (`last` over an id-ascending
    // frame), forward ones to the MIN (`first`) — mirrored by the
    // per-direction pre-ASOF dedups
    """WITH clicks_b AS (
      |  SELECT user_id, epoch_ns(ts) AS t, max(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |clicks_f AS (
      |  SELECT user_id, epoch_ns(ts) AS t, min(event_id) AS click_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
      |errors AS (
      |  SELECT user_id, epoch_ns(ts) AS t, event_id AS error_id
      |  FROM events WHERE event_type = 'error'),
      |b AS (
      |  SELECT e.error_id, e.user_id, e.t, c.click_id AS b_id, c.t AS b_t
      |  FROM errors e
      |  ASOF LEFT JOIN clicks_b c ON e.user_id = c.user_id AND e.t >= c.t),
      |f AS (
      |  SELECT e.error_id, c.click_id AS f_id, c.t AS f_t
      |  FROM errors e
      |  ASOF LEFT JOIN clicks_f c ON e.user_id = c.user_id AND e.t <= c.t)
      |SELECT b.error_id, b.user_id,
      |  CASE WHEN b_id IS NULL THEN f_id
      |       WHEN f_id IS NULL THEN b_id
      |       WHEN b.t - b_t <= f_t - b.t THEN b_id ELSE f_id
      |  END AS click_id,
      |  CASE WHEN b_id IS NULL THEN CAST((f_t - b.t) // 1000000000 AS BIGINT)
      |       WHEN f_id IS NULL THEN CAST((b.t - b_t) // 1000000000 AS BIGINT)
      |       WHEN b.t - b_t <= f_t - b.t
      |            THEN CAST((b.t - b_t) // 1000000000 AS BIGINT)
      |       ELSE CAST((f_t - b.t) // 1000000000 AS BIGINT)
      |  END AS gap_seconds
      |FROM b JOIN f ON b.error_id = f.error_id
      |ORDER BY b.error_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("t"), col("event_id").as("click_id"),
        lit(0).as("kind"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("t"), col("event_id").as("error_id"),
        lit(1).as("kind"))
    val unioned = clicks
      .select(col("user_id"), col("t"), col("kind"), col("click_id"),
        lit(null).cast("long").as("error_id"), col("t").as("click_t"))
      .unionAll(errors.select(col("user_id"), col("t"), col("kind"),
        lit(null).cast("long").as("click_id"), col("error_id"),
        lit(null).cast("long").as("click_t")))
    // clicks before errors on ties: exact-t clicks land in the backward
    // frame with gap 0 and win the tie — forward-frame exclusivity on
    // ties is therefore unobservable in the output. event_id last:
    // `last` picks the max id among tied backward clicks, `first` the
    // min among tied forward ones — the oracle's per-direction dedups
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("kind"), coalesce(col("click_id"), col("error_id")))
    val wb = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val bGap = col("t") - col("b_t")
    val fGap = col("f_t") - col("t")
    val pickB = col("f_id").isNull || (col("b_id").isNotNull && bGap <= fGap)
    unioned
      .withColumn("b_id", last(col("click_id"), ignoreNulls = true).over(wb))
      .withColumn("b_t", last(col("click_t"), ignoreNulls = true).over(wb))
      .withColumn("f_id", first(col("click_id"), ignoreNulls = true).over(wf))
      .withColumn("f_t", first(col("click_t"), ignoreNulls = true).over(wf))
      .filter(col("kind") === 1)
      .select(col("error_id"), col("user_id"),
        when(pickB, col("b_id")).otherwise(col("f_id")).as("click_id"),
        when(pickB, (bGap / 1000000000L).cast("long"))
          .otherwise((fGap / 1000000000L).cast("long")).as("gap_seconds"))
      .orderBy(col("error_id"))
  }

  /** EXACT-SIZE deterministic sample — "exactly k rows, reproducibly":
    * the k smallest values of a uniform hash. Rate-based sampling
    * ([[stratifiedSample]]) cannot hit a size target exactly; hash
    * top-k can, stays layout/engine-independent, and compiles to
    * TakeOrderedAndProject — per-partition k-heaps then a k-merge, no
    * global sort, no shuffle of the corpus (the plan-audit suite pins
    * that shape for order-limit queries). Tie-broken by the unique key
    * so hash collisions cannot make membership ambiguous. */
  val sampleExactK: QueryDef = QueryDef.sql(
    "adv_sample_exact_k",
    """SELECT o_orderkey, o_orderstatus
      |FROM orders
      |ORDER BY (o_orderkey * 2654435761) % 1000000007, o_orderkey
      |LIMIT 100""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"))
      .orderBy((col("o_orderkey") * 2654435761L) % 1000000007L,
        col("o_orderkey"))
      .limit(100)
  }

  /** Z-ORDER LAYOUT — multi-dimensional write clustering: interleave
    * the bits of two key columns into one z-value and sort the data by
    * it, so every contiguous run of rows (a parquet row group, a file)
    * covers a BOUNDED RECTANGLE in (dim1, dim2) space — min/max column
    * stats then prune scans filtered on EITHER dimension, which a
    * single-column sort only gives for its leading column. This is the
    * standard lakehouse layout technique for 100 TB fact tables
    * (`df.repartitionByRange(col("z")).sortWithinPartitions(col("z"))
    * .write...`); the layout itself is exercised in the suite, and this
    * query pins the interleave arithmetic plus the locality guarantee
    * as data: bucketing by the z-value's high bits (shift 14 ⇒ both
    * dims' bits ≥ 7 fixed) bounds every bucket's spans below 2^7 = 128
    * on BOTH keys. Bit ops are exact integer arithmetic — identical in
    * both engines. */
  // 31 bits per dimension (62-bit z-value, fits a long): covers TPC-H
  // key domains through SF100 — 16 bits would silently alias keys
  // >= 65536 (x and x+65536 interleave identically), voiding the
  // locality bound exactly when scale makes it matter. Keys at or
  // beyond 2^31 would alias the same way; none of the engine's key
  // domains approach that.
  private def zBits = 31
  private def zShift = 14

  private[relational] def zCol(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until zBits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  private def zSqlExpr(a: String, b: String): String =
    (0 until zBits).map(i =>
      s"((($a >> $i) & 1) << ${2 * i}) | ((($b >> $i) & 1) << ${2 * i + 1})")
      .mkString(" | ")

  val zorderLayout: QueryDef = QueryDef.sql(
    "adv_zorder_layout",
    s"""WITH z AS (
      |  SELECT l_partkey, l_suppkey,
      |    (${zSqlExpr("l_partkey", "l_suppkey")}) AS zval
      |  FROM lineitem)
      |SELECT zval >> $zShift AS zbucket, count(*) AS n_rows,
      |  min(l_partkey) AS min_part, max(l_partkey) AS max_part,
      |  min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
      |FROM z
      |GROUP BY zval >> $zShift
      |ORDER BY zbucket""".stripMargin) { (s, d) =>
    val z = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"),
        zCol(col("l_partkey"), col("l_suppkey")).as("zval"))
    z.groupBy(shiftright(col("zval"), zShift).as("zbucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("l_partkey")).as("min_part"),
        max(col("l_partkey")).as("max_part"),
        min(col("l_suppkey")).as("min_supp"),
        max(col("l_suppkey")).as("max_supp"))
      .orderBy(col("zbucket"))
  }

  /** Distributed PageRank to a fixpoint — the library path behind
    * [[pagerank]]. Each iteration is one edge⋈rank join (shuffle on
    * src) + one dst aggregation — the canonical distributed step —
    * followed by an eager `localCheckpoint` that truncates lineage
    * exactly like `Dedup.connectedComponents` does (r7, verdict: the
    * 5-round query was harmless unchecked, but a user running to
    * convergence would nest 30–100 join/agg layers of lineage).
    * `maxIters` is a MAX: the loop stops early once the per-round
    * max |r − r'| falls to `tol` (one extra scalar aggregate per
    * round, read off the SAME checkpointed frame that carries the next
    * labels — no extra job). The per-iteration value is ROUNDED to
    * 1e-9 — the quantization grain that keeps two engines' different
    * summation orders from drifting across iterations — so at the
    * default `tol = 0.0` an early stop fires only at an EXACT rounded
    * fixpoint, where further iterations are the identity: a
    * convergence-stopped run returns bit-identical values to a
    * fixed-count run of any length ≥ the stop round.
    *
    * `nodes` is (v); `edges` is (src, dst), duplicates allowed (each
    * parallel edge contributes separately, matching the r/outdeg sum);
    * dangling nodes (no out-edges) contribute nothing, as in the
    * classic formulation. */
  def pageRank(nodes: DataFrame, edges0: DataFrame, maxIters: Int,
      tol: Double = 0.0, damping: Double = 0.85): DataFrame = {
    val n = nodes.count()
    val deg = edges0.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edges = edges0.join(deg, Seq("src")).localCheckpoint()
    var r = nodes.select(col("v"), (lit(1.0) / n).as("r"))
    var delta = Double.MaxValue
    var it = 0
    while (it < maxIters && delta > tol) {
      it += 1
      val contrib = edges.join(r, col("v") === col("src"))
        .groupBy(col("dst")).agg(sum(col("r") / col("outdeg")).as("inc"))
      // carry the old rank through so the convergence aggregate reads
      // the same materialized checkpoint as the next iteration's input
      val next = r.select(col("v"), col("r").as("old"))
        .join(contrib, col("v") === col("dst"), "left")
        .select(col("v"), col("old"),
          round(lit(1.0 - damping) / n + lit(damping) *
            coalesce(col("inc"), lit(0.0)), 9).as("r"))
        .localCheckpoint()
      delta = next.agg(max(abs(col("r") - col("old")))).head().getDouble(0)
      r = next.select(col("v"), col("r"))
    }
    r
  }

  /** PAGERANK over a deterministic doc-link graph — the authority score
    * a corpus-curation pipeline uses to weight domains/documents. The
    * graph is arithmetic-derived (each doc links to (7u+1)%N, (13u+3)%N,
    * (29u+11)%N — three affine bijections, so out-degree is exactly 3
    * and both engines build the identical edge set), and the power
    * iteration runs [[pageRank]] for at most 5 rounds of
    * r' = 0.15/N + 0.85·Σ_in r/3 with per-iteration 1e-9 rounding.
    * The convergence stop fires only at an exact rounded fixpoint
    * (identity from there on), so the result matches the oracle's
    * fixed 5 rounds bit-for-bit whether or not it triggers. */
  val pagerank: QueryDef = {
    def iterSql(prev: String, cur: String): String =
      s"""$cur AS (
        |  SELECT d.doc_id AS v,
        |    round(0.15/(SELECT n FROM nn) + 0.85*coalesce(i.inc, 0.0), 9) AS r
        |  FROM documents d LEFT JOIN (
        |    SELECT e.dst, sum(r.r/3) AS inc
        |    FROM edges e JOIN $prev r ON r.v = e.src GROUP BY e.dst) i
        |  ON i.dst = d.doc_id)""".stripMargin
    val iters = (1 to 5).map(k => iterSql(s"r${k - 1}", s"r$k"))
      .mkString(",\n")
    QueryDef.sql(
      "adv_pagerank",
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
        |edges AS (
        |  SELECT doc_id AS src, (doc_id*7 + 1) % (SELECT n FROM nn) AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id*13 + 3) % (SELECT n FROM nn) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id*29 + 11) % (SELECT n FROM nn) FROM documents),
        |r0 AS (SELECT doc_id AS v, 1.0/(SELECT n FROM nn) AS r FROM documents),
        |$iters
        |SELECT v AS doc_id, round(r, 6) AS pr FROM r5
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val nodes = Tables.documents(s, d).select(col("doc_id"))
      // fixture-scale count; a production run reads catalog statistics
      val n = nodes.count()
      val edges = Seq((7L, 1L), (13L, 3L), (29L, 11L)).map { case (m, c) =>
        nodes.select(col("doc_id").as("src"),
          ((col("doc_id") * m + c) % n).as("dst"))
      }.reduce(_ unionAll _)
      pageRank(nodes.select(col("doc_id").as("v")), edges, maxIters = 5)
        .select(col("v").as("doc_id"), round(col("r"), 6).as("pr"))
        .orderBy(col("doc_id"))
    }
  }

  /** Distributed HITS (hubs & authorities) — [[pageRank]]'s companion
    * for link-graph curation: authority weights pages many hubs point
    * at, hub weights pages that point at many authorities; corpus
    * weighting uses whichever side matches the harvesting direction.
    * Each iteration is two edge⋈score joins + two aggregations (the
    * canonical distributed step, shuffling on dst then src), each
    * followed by an eager `localCheckpoint` truncating lineage exactly
    * like [[pageRank]]. Normalization divides by the round's MAX score
    * (not the L2/L1 norm): max is order-independent — it picks one raw
    * sum rather than summing the whole corpus again — so the only FP
    * noise is the per-node in/out-neighbor sum, which the 1e-9
    * per-iteration rounding absorbs, the exact discipline that keeps
    * [[pageRank]] lockstep across engines. `edges` is (src, dst),
    * duplicates allowed; nodes without in/out edges score 0. */
  def hits(nodes: DataFrame, edges0: DataFrame, iters: Int): DataFrame = {
    val edges = edges0.localCheckpoint()
    var h = nodes.select(col("v"), lit(1.0).as("h"))
    var a = nodes.select(col("v"), lit(0.0).as("a"))
    var it = 0
    while (it < iters) {
      it += 1
      // checkpoint the raw sums BEFORE reading their max: the max read
      // and the normalized frame otherwise each re-run the edge join
      val araw = edges.join(h, col("v") === col("src"))
        .groupBy(col("dst")).agg(sum(col("h")).as("ar"))
        .localCheckpoint()
      val amax = araw.agg(max(col("ar"))).head().getDouble(0)
      a = nodes.select(col("v"))
        .join(araw, col("v") === col("dst"), "left")
        .select(col("v"),
          round(coalesce(col("ar"), lit(0.0)) / amax, 9).as("a"))
      val hraw = edges.join(a, col("v") === col("dst"))
        .groupBy(col("src")).agg(sum(col("a")).as("hr"))
        .localCheckpoint()
      val hmax = hraw.agg(max(col("hr"))).head().getDouble(0)
      h = nodes.select(col("v"))
        .join(hraw, col("v") === col("src"), "left")
        .select(col("v"),
          round(coalesce(col("hr"), lit(0.0)) / hmax, 9).as("h"))
    }
    a.join(h, Seq("v"))
  }

  /** HITS over the [[pagerank]] deterministic doc-link graph — same
    * arithmetic edge set (three affine bijections: in-degree = out-
    * degree = 3 for every node), 2 rounds of the authority/hub mutual
    * recursion with max-normalization and 1e-9 per-round rounding. */
  val hitsQuery: QueryDef = {
    def round2(k: Int, prevH: String): String =
      s"""a${k}r AS (
        |  SELECT e.dst AS v, sum(h.h) AS ar
        |  FROM edges e JOIN $prevH h ON h.v = e.src GROUP BY e.dst),
        |a$k AS (
        |  SELECT d.doc_id AS v,
        |    round(coalesce(r.ar, 0.0) / (SELECT max(ar) FROM a${k}r), 9) AS a
        |  FROM documents d LEFT JOIN a${k}r r ON r.v = d.doc_id),
        |h${k}r AS (
        |  SELECT e.src AS v, sum(a.a) AS hr
        |  FROM edges e JOIN a$k a ON a.v = e.dst GROUP BY e.src),
        |h$k AS (
        |  SELECT d.doc_id AS v,
        |    round(coalesce(r.hr, 0.0) / (SELECT max(hr) FROM h${k}r), 9) AS h
        |  FROM documents d LEFT JOIN h${k}r r ON r.v = d.doc_id)""".stripMargin
    QueryDef.sql(
      "adv_hits",
      s"""WITH nn AS (SELECT count(*) AS n FROM documents),
        |edges AS (
        |  SELECT doc_id AS src, (doc_id*7 + 1) % (SELECT n FROM nn) AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id*13 + 3) % (SELECT n FROM nn) FROM documents
        |  UNION ALL
        |  SELECT doc_id, (doc_id*29 + 11) % (SELECT n FROM nn) FROM documents),
        |h0 AS (SELECT doc_id AS v, 1.0 AS h FROM documents),
        |${round2(1, "h0")},
        |${round2(2, "h1")}
        |SELECT a2.v AS doc_id, round(a2.a, 6) AS authority,
        |  round(h2.h, 6) AS hub
        |FROM a2 JOIN h2 ON h2.v = a2.v
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val nodes = Tables.documents(s, d).select(col("doc_id"))
      val n = nodes.count()
      val edges = Seq((7L, 1L), (13L, 3L), (29L, 11L)).map { case (m, c) =>
        nodes.select(col("doc_id").as("src"),
          ((col("doc_id") * m + c) % n).as("dst"))
      }.reduce(_ unionAll _)
      hits(nodes.select(col("doc_id").as("v")), edges, iters = 2)
        .select(col("v").as("doc_id"), round(col("a"), 6).as("authority"),
          round(col("h"), 6).as("hub"))
        .orderBy(col("doc_id"))
    }
  }

  /** PER-NODE TRIANGLE COUNT over the deterministic doc-link graph —
    * the third graph primitive next to [[pagerank]] and [[hits]]:
    * triangle density separates organic link neighborhoods from link
    * farms (spam scoring) and drives clustering-coefficient features.
    * The classic distributed formulation: canonicalize to undirected
    * ordered edges (a < b), then each triangle x<y<z is found EXACTLY
    * once by joining (x,y)⋈(y,z) and closing with (x,z) — two
    * equi-joins, never an open wedge explosion beyond the true wedge
    * count. Every join is on vertex keys, so the whole thing shuffles
    * like any keyed join at 100 TB; vertices are ordered by DEGREE
    * (r16), so hub wedges sit on the closing side and total wedge work
    * is O(m^1.5) regardless of skew. Pure integer arithmetic.
    *
    * Graph (r16): the original three modular-hash families produced
    * ZERO triangles at every fixture size — the oracle was comparing
    * all-zero counts, and no wedge ever closed. The derivation now
    * mixes ring edges (v→v+1, v→v+2 — every consecutive trio closes),
    * century-anchor hubs (v→v−v%100, degree ~100: anchor–v–v+1
    * triangles), and a deliberately NON-closing global hub (every 7th
    * doc → 0) whose wedges only degree ordering keeps off the wedge
    * pivot. */
  val triangles: QueryDef = QueryDef.sql(
    "adv_triangles",
    """WITH nn AS (SELECT count(*) AS n FROM documents),
      |edges0 AS (
      |  SELECT doc_id AS src, (doc_id + 1) % (SELECT n FROM nn) AS dst FROM documents
      |  UNION ALL
      |  SELECT doc_id, (doc_id + 2) % (SELECT n FROM nn) FROM documents
      |  UNION ALL
      |  SELECT doc_id, doc_id - doc_id % 100 FROM documents
      |  UNION ALL
      |  SELECT doc_id, 0 FROM documents WHERE doc_id % 7 = 0),
      |und AS (
      |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM edges0 WHERE src <> dst),
      |tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM und e1
      |  JOIN und e2 ON e2.a = e1.b
      |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
      |members AS (
      |  SELECT x AS v FROM tri
      |  UNION ALL SELECT y FROM tri
      |  UNION ALL SELECT z FROM tri)
      |SELECT d.doc_id, CAST(coalesce(t.cnt, 0) AS BIGINT) AS n_triangles
      |FROM documents d
      |LEFT JOIN (SELECT v, count(*) AS cnt FROM members GROUP BY v) t
      |  ON t.v = d.doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val nodes = Tables.documents(s, d).select(col("doc_id"))
    val n = nodes.count()
    val edges0 = nodes.select(col("doc_id").as("src"),
        ((col("doc_id") + 1) % n).as("dst"))
      .unionAll(nodes.select(col("doc_id").as("src"),
        ((col("doc_id") + 2) % n).as("dst")))
      .unionAll(nodes.select(col("doc_id").as("src"),
        (col("doc_id") - col("doc_id") % 100).as("dst")))
      .unionAll(nodes.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("src"), lit(0L).as("dst")))
    val und = edges0.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint() // read twice: degree pass + orientation
    // DEGREE-ORDERED orientation (r16, r15 verdict #4): orienting
    // wedges by node id leaves a hot node of degree d with O(d²)
    // wedges — the classic skew exposure. Orient every edge from its
    // lower-(degree, id) endpoint instead: each triangle x<y<z (in
    // rank order) is found exactly once as the wedge (x→y, x→z)
    // closed by x's two HIGHER-rank neighbors' edge (y→z), and the
    // oriented out-degree is O(√m) amortized, bounding total wedges at
    // O(m^1.5) corpus-wide regardless of skew. The per-node triangle
    // COUNT is orientation-invariant, so the oracle is unchanged.
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dv"))
    val aLower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = und
      .join(deg.select(col("v").as("a"), col("dv").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("dv").as("db")), Seq("b"))
      .select(
        when(aLower, col("a")).otherwise(col("b")).as("u"),
        when(aLower, col("b")).otherwise(col("a")).as("w"),
        when(aLower, col("db")).otherwise(col("da")).as("dw"))
      .localCheckpoint() // read three times by the wedge/closing joins
    val tri = o.as("e1")
      .join(o.as("e2"),
        col("e2.u") === col("e1.u") &&
          (col("e1.dw") < col("e2.dw") ||
            (col("e1.dw") === col("e2.dw") && col("e1.w") < col("e2.w"))))
      .join(o.as("e3"),
        col("e3.u") === col("e1.w") && col("e3.w") === col("e2.w"))
      .select(col("e1.u").as("x"), col("e1.w").as("y"), col("e2.w").as("z"))
    val members = tri.select(col("x").as("v"))
      .unionAll(tri.select(col("y").as("v")))
      .unionAll(tri.select(col("z").as("v")))
    nodes.join(
        members.groupBy(col("v")).agg(count(lit(1)).as("cnt")),
        col("doc_id") === col("v"), "left")
      .select(col("doc_id"),
        coalesce(col("cnt"), lit(0L)).as("n_triangles"))
      .orderBy(col("doc_id"))
  }

  /** Skew-proof SALTED JOIN — [[saltedAgg]]'s two-sided sibling: when
    * one join key carries a disproportionate share of the fact rows, a
    * plain shuffle join lands that key's entire volume on ONE reducer.
    * Salting splits every fact row into one of S sub-keys via a
    * deterministic per-row hash, replicates each dim row S times (one
    * per salt), and joins on (key, salt) — the hot key's rows now
    * spread across S reducers at the cost of an S× blowup of the DIM
    * side only. The result is row-identical to the plain join (every
    * fact row still meets exactly its one dim partner, in exactly one
    * salt bucket), so the oracle is the PLAIN join — the salt is pure
    * plumbing that must vanish semantically. This is the manual
    * control; AQE's skew-join handles the same problem adaptively at
    * runtime, but salting is the form that also works mid-pipeline
    * (under aggregations, in streaming joins) where AQE can't split. */
  val saltedJoin: QueryDef = QueryDef.sql(
    "adv_salted_join",
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
      |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val nSalts = 8
    val fact = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount"))
      .withColumn("fsalt",
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(nSalts))
          .cast("int"))
    val dim = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("dsalt", explode(array((0 until nSalts).map(lit(_)): _*)))
    fact.join(dim,
        col("l_orderkey") === col("o_orderkey") &&
          col("fsalt") === col("dsalt"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** WEIGHTED sample-without-replacement (Efraimidis–Spirakis A-ES):
    * every row draws a deterministic uniform u from its key hash and
    * competes on the exponential race key −ln(u)/w — the k smallest keys
    * ARE a weighted sample without replacement with inclusion odds
    * proportional to w (here o_totalprice: a quality-weighted corpus
    * sample takes exactly this shape with w = quality score). Fully
    * distributed: the key is per-row arithmetic and the top-k compiles
    * to TakeOrderedAndProject (per-partition heaps, no global sort —
    * the [[sampleExactK]] plan, which is this op's unweighted special
    * case). Determinism: u derives from integer hashing so both engines
    * take ln of the SAME double; the key is quantized to 1e-12 (the IVF
    * cosine rule) and tie-broken by the unique key, so rank boundaries
    * cannot flip on a ulp. The sample's mean weight (~343k vs corpus
    * ~250k at sf0.001) shows the weighting biting. */
  val weightedSample: QueryDef = QueryDef.sql(
    "adv_weighted_sample",
    """SELECT o_orderkey, round(o_totalprice, 2) AS weight,
      |  round(-ln(((o_orderkey * 2654435761) % 1000000007 + 1) / 1000000008.0)
      |        / o_totalprice, 12) AS es_key
      |FROM orders
      |ORDER BY es_key, o_orderkey
      |LIMIT 100""".stripMargin) { (s, d) =>
    val u = ((col("o_orderkey") * 2654435761L) % 1000000007L + 1L) /
      lit(1000000008.0)
    Tables.orders(s, d)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("weight"),
        round(-log(u) / col("o_totalprice"), 12).as("es_key"))
      .orderBy(col("es_key"), col("o_orderkey"))
      .limit(100)
  }

  /** Per-group top-k — "best 3 customers per nation": rank-filter over a
    * partitioned window. Catalyst plans the `row_number <= k` filter as
    * WindowGroupLimit (per-partition top-k heaps BEFORE the window sort
    * — only k rows per group survive the shuffle), which is the scalable
    * form of per-group selection; the suite's plan audit pins the
    * optimization firing. Tie-broken by the unique key so membership is
    * never rank-ambiguous. */
  val groupTopK: QueryDef = QueryDef.sql(
    "adv_group_topk",
    """SELECT c_nationkey, rnk, c_custkey, round(c_acctbal, 2) AS bal
      |FROM (
      |  SELECT c_nationkey, c_custkey, c_acctbal,
      |    row_number() OVER (PARTITION BY c_nationkey
      |                       ORDER BY c_acctbal DESC, c_custkey) AS rnk
      |  FROM customer) t
      |WHERE rnk <= 3
      |ORDER BY c_nationkey, rnk""".stripMargin) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("c_nationkey"), col("rnk"), col("c_custkey"),
        round(col("c_acctbal"), 2).as("bal"))
      .orderBy(col("c_nationkey"), col("rnk"))
  }

  /** PARTITION-SKEW DIAGNOSTIC — the observability pass a 100 TB job
    * runs BEFORE committing to a shuffle: simulate the hash
    * partitioning of a join/agg key into N buckets and report, per
    * bucket, the row mass, key cardinality, and the heaviest key with
    * its count. The output is what drives the mitigation decision
    * tree: one dominant key in a heavy bucket → [[saltedJoin]] /
    * [[saltedAgg]]; many keys in a heavy bucket → more partitions; all
    * buckets even → proceed. The simulated assignment uses the
    * engine's deterministic Knuth-multiplier hash (the [[domainMix]]
    * convention), so both engines — and reruns at different
    * parallelism — see identical bucketing. One groupBy on the key
    * (the same shuffle the real job would pay, but carrying only
    * counts), then a |buckets|-row aggregate: the diagnostic is
    * O(distinct keys), never O(rows). */
  val skewDiagnose: QueryDef = QueryDef.sql(
    "adv_skew_diagnose",
    """WITH kc AS (
      |  SELECT l_suppkey AS key, count(*) AS cnt
      |  FROM lineitem GROUP BY l_suppkey),
      |bk AS (
      |  SELECT key, cnt,
      |    ((key * 2654435761) % 1000000007) % 32 AS bucket
      |  FROM kc),
      |r AS (
      |  SELECT bucket, key, cnt,
      |    row_number() OVER (PARTITION BY bucket
      |                       ORDER BY cnt DESC, key) AS rn
      |  FROM bk)
      |SELECT bucket,
      |  CAST(sum(cnt) AS BIGINT) AS n_rows,
      |  count(*) AS n_keys,
      |  max(CASE WHEN rn = 1 THEN key END) AS top_key,
      |  CAST(max(CASE WHEN rn = 1 THEN cnt END) AS BIGINT) AS top_key_rows
      |FROM r GROUP BY bucket
      |ORDER BY bucket""".stripMargin) { (s, d) =>
    val kc = Tables.lineitem(s, d)
      .groupBy(col("l_suppkey").as("key")).agg(count(lit(1)).as("cnt"))
    val bk = kc.withColumn("bucket",
      ((col("key") * 2654435761L) % 1000000007L) % 32)
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("cnt").desc, col("key"))
    bk.withColumn("rn", row_number().over(w))
      .groupBy(col("bucket"))
      .agg(sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(when(col("rn") === 1, col("key"))).as("top_key"),
        max(when(col("rn") === 1, col("cnt"))).as("top_key_rows"))
      .orderBy(col("bucket"))
  }

  /** Single-source BFS hop distance — the frontier-expansion iteration
    * under every graph-feature pass (reachability, neighborhood size,
    * "within k hops of a seed set" corpus selection). Each round joins
    * the frontier against the edge list (keyed equi-join), anti-joins
    * already-visited nodes, stamps the hop count, and eagerly
    * `localCheckpoint`s the visited set — the [[pageRank]] /
    * connectedComponents lineage discipline, so a deep graph cannot
    * stack plan depth. Stops when the frontier empties (or at the hop
    * cap, which bounds the oracle's recursive expansion identically).
    * Integer-only state: nothing to quantize. */
  def bfs(edges: DataFrame, src: Long, maxHops: Int): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    var visited = Seq((src, 0)).toDF("v", "dist").localCheckpoint(true)
    var frontier = visited
    var hop = 0
    var done = false
    while (hop < maxHops && !done) {
      hop += 1
      val next = frontier.join(edges, col("v") === col("src"))
        .select(col("dst").as("v")).distinct()
        .join(visited, Seq("v"), "left_anti")
        .withColumn("dist", lit(hop))
        .localCheckpoint(true)
      if (next.isEmpty) done = true
      else {
        // visited is APPEND-ONLY and `next` is already eagerly
        // checkpointed, so the union stays LAZY: a union of ≤maxHops
        // checkpointed leaves. Re-checkpointing the union (the pre-r17
        // form) rewrote ALL visited rows every round — O(V·hops) writes
        // for a set the next anti-join only needs to READ; the lazy
        // union reads the same blocks with zero per-round rewrite and
        // one fewer job per hop. (pageRank/CC keep their per-round
        // checkpoints: their state MUTATES, so lineage must be cut.)
        visited = visited.unionAll(next)
        frontier = next
      }
    }
    visited
  }

  val bfsQuery: QueryDef = QueryDef.sql(
    "adv_bfs",
    """WITH nn AS (SELECT count(*) AS n FROM documents),
      |edges AS (
      |  SELECT doc_id AS src, (doc_id*7 + 1) % (SELECT n FROM nn) AS dst FROM documents
      |  UNION ALL
      |  SELECT doc_id, (doc_id*13 + 3) % (SELECT n FROM nn) FROM documents
      |  UNION ALL
      |  SELECT doc_id, (doc_id*29 + 11) % (SELECT n FROM nn) FROM documents),
      |bfs AS (
      |  WITH RECURSIVE walk(v, dist) AS (
      |    SELECT CAST(0 AS BIGINT) AS v, 0 AS dist
      |    UNION
      |    SELECT e.dst, w.dist + 1
      |    FROM walk w JOIN edges e ON e.src = w.v
      |    WHERE w.dist < 10)
      |  SELECT v, min(dist) AS dist FROM walk GROUP BY v)
      |SELECT v AS doc_id, dist FROM bfs
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val nodes = Tables.documents(s, d).select(col("doc_id"))
    val n = nodes.count()
    val edges = Seq((7L, 1L), (13L, 3L), (29L, 11L)).map { case (m, c) =>
      nodes.select(col("doc_id").as("src"), ((col("doc_id") * m + c) % n).as("dst"))
    }.reduce(_ unionAll _).localCheckpoint(true)
    graft.Knobs.withShufflePartitions(s, 8) { scoped =>
      // the hop loop's per-round joins run capped; the final (tiny)
      // result rebinds to the parent for downstream planning
      graft.Knobs.rebind(
          bfs(graft.Knobs.rebind(edges, scoped), src = 0L, maxHops = 10), s)
        .select(col("v").as("doc_id"), col("dist"))
        .orderBy(col("doc_id"))
    }
  }

  /** DISTRIBUTED exact quantiles — [[percentiles]]' 100 TB twin. The
    * exact `percentile` aggregate buffers and sorts every group value
    * inside ONE task (fixture-fine, executor-OOM at scale); this plan
    * computes the same discrete quantiles with no per-group buffer
    * anywhere: groupBy (group, value) collapses to a frequency
    * histogram, a cumulative-count window over the value order turns
    * it into a CDF (range-partitioned distributed sort — Spark's
    * window machinery, not a task-local array), and quantile q is then
    * the smallest value whose cumulative count reaches ceil(q·n) —
    * pure selection, so the returned doubles are input values,
    * bit-identical in both engines with no FP interpolation at all.
    * Two shuffles total, both keyed; memory per task is O(1) beyond
    * the shuffle block. */
  val quantilesDist: QueryDef = QueryDef.sql(
    "adv_quantiles_dist",
    """WITH vf AS (
      |  SELECT l_returnflag AS g, l_extendedprice AS v, count(*) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |cum AS (
      |  SELECT g, v, c,
      |    CAST(sum(c) OVER (PARTITION BY g ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum
      |  FROM vf),
      |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM vf GROUP BY g)
      |SELECT c.g AS l_returnflag, t.n,
      |  min(CASE WHEN c.cum >= ceil(0.5 * t.n) THEN c.v END) AS q50,
      |  min(CASE WHEN c.cum >= ceil(0.95 * t.n) THEN c.v END) AS q95,
      |  min(CASE WHEN c.cum >= ceil(0.99 * t.n) THEN c.v END) AS q99
      |FROM cum c JOIN tot t ON t.g = c.g
      |GROUP BY c.g, t.n
      |ORDER BY c.g""".stripMargin) { (s, d) =>
    val vf = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag").as("g"), col("l_extendedprice").as("v"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vf.withColumn("cum", sum(col("c")).over(w))
    // r17 note: replacing `tot` with an unordered max-over-g window on
    // cum was tried and REVERTED — the extra whole-partition window
    // pass measured +17% wall / +14% cpu vs re-aggregating the (tiny)
    // per-group totals and broadcast-joining them (min-of-alternated
    // 3-run A/B at sf0.1).
    val tot = vf.groupBy(col("g")).agg(sum(col("c")).as("n"))
    def pick(q: Double): Column =
      min(when(col("cum") >= ceil(lit(q) * col("n")), col("v")))
    cum.join(broadcast(tot), Seq("g"))
      .groupBy(col("g"), col("n"))
      .agg(pick(0.5).as("q50"), pick(0.95).as("q95"), pick(0.99).as("q99"))
      .select(col("g").as("l_returnflag"), col("n"),
        col("q50"), col("q95"), col("q99"))
      .orderBy(col("l_returnflag"))
  }

  /** SWEEP-LINE interval concurrency — "how many sessions were open at
    * once, and when did the peak happen": each event opens a half-open
    * interval [ts, ts + (1 + event_id mod 300) s); the sweep unions
    * (+1 at start, −1 at end) points and takes a running sum per user
    * ordered by (time, delta) — ends sort before starts at the same
    * instant, so a session ending exactly when another starts never
    * inflates the count. This is THE scalable alternative to the
    * naive interval self-join (O(n²) per user): two shuffles total
    * (the union is map-side; the running sum is one window pass), and
    * the peak is order-independent even under timestamp ties because
    * within a tie block of equal delta the extreme of the running sum
    * does not depend on intra-block order. All integer nanoseconds —
    * nothing to quantize. */
  val sweepLine: QueryDef = QueryDef.sql(
    "adv_sweepline",
    """WITH iv AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS s_t,
      |    epoch_ns(ts) // 1000 + (1 + event_id % 300) * 1000000 AS e_t
      |  FROM events),
      |pts AS (
      |  SELECT user_id, s_t AS t, 1 AS delta FROM iv
      |  UNION ALL
      |  SELECT user_id, e_t AS t, -1 AS delta FROM iv),
      |run AS (
      |  SELECT user_id, t, delta,
      |    CAST(sum(delta) OVER (PARTITION BY user_id ORDER BY t, delta
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cur
      |  FROM pts),
      |mx AS (SELECT user_id, max(cur) AS max_concurrent FROM run
      |       GROUP BY user_id),
      |sel AS (
      |  SELECT r.user_id, m.max_concurrent, min(r.t) AS peak_t
      |  FROM run r JOIN mx m ON m.user_id = r.user_id
      |    AND r.cur = m.max_concurrent
      |  GROUP BY r.user_id, m.max_concurrent),
      |ne AS (SELECT user_id, count(*) AS n_events FROM iv GROUP BY user_id)
      |SELECT s.user_id, n.n_events, s.max_concurrent, s.peak_t
      |FROM sel s JOIN ne n ON n.user_id = s.user_id
      |ORDER BY s.user_id""".stripMargin) { (s, d) =>
    // sweep in integer MICROseconds: DuckDB surfaces the nanos parquet
    // column at µs precision, so both engines truncate up front and
    // sort identical point sets (sub-µs digits must never decide order
    // in one engine only)
    val iv = Tables.events(s, d)
      .select(col("user_id"), expr("ts DIV 1000").as("s_t"),
        (expr("ts DIV 1000") + (lit(1L) + col("event_id") % 300) * 1000000L)
          .as("e_t"))
    val pts = iv.select(col("user_id"), col("s_t").as("t"), lit(1).as("delta"))
      .unionAll(iv.select(col("user_id"), col("e_t").as("t"),
        lit(-1).as("delta")))
    val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = pts.withColumn("cur", sum(col("delta")).over(w))
    val mx = run.groupBy(col("user_id"))
      .agg(max(col("cur")).as("max_concurrent"))
    val sel = run.join(mx, Seq("user_id"))
      .filter(col("cur") === col("max_concurrent"))
      .groupBy(col("user_id"), col("max_concurrent"))
      .agg(min(col("t")).as("peak_t"))
    val ne = iv.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    sel.join(ne, Seq("user_id"))
      .select(col("user_id"), col("n_events"), col("max_concurrent"),
        col("peak_t"))
      .orderBy(col("user_id"))
  }

  val all: Seq[QueryDef] =
    Seq(asOfJoin, asOfNative, asOfTolerance, asOfForward,
      asOfForwardNative, asOfNearest, asOfSkew, asOfSkewAuto,
      asOfSkewHint, asOfBucketed,
      percentiles, pivot, cube,
      saltedAgg, movingAvg, stratifiedSample, sqlInterface, rangeJoinBucketed,
      sampleExactK, zorderLayout, pagerank, hitsQuery, triangles,
      saltedJoin, weightedSample, groupTopK, skewDiagnose, bfsQuery,
      quantilesDist, sweepLine)
}
