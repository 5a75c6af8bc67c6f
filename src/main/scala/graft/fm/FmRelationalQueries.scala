package graft.fm

import graft.{QueryDef, Tables}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The FM dataflow itself as DuckDB-oracle-checked queries.
  *
  * Trick: weights are *deterministic integer-arithmetic functions* of the
  * feature id — `w(id) = ((id·37) mod 19 − 9)/16`, `v(id,f) = ((id·31 +
  * f·17) mod 23 − 11)/32` — so an independent SQL engine can reproduce
  * the exact parameter tables, and the full scoring/gradient math
  * (SURVEY §3.1-3.2) becomes hash-checkable end-to-end. The Spark side
  * runs the REAL engine (FactorizationMachinesModel.transform /
  * FactorizationMachinesSGD.step); only the oracle is plain SQL.
  *
  * == Exact cross-engine floating point (the r1 hash-failure fix) ==
  *
  * Every fixture constant is a DYADIC rational (denominators 16/32), so
  * every product and every sum the dataflow takes is an exact binary
  * fraction whose numerator stays far below 2^53 (worst case, the
  * per-feature gradient reduction at sf0.1: |Σ| · 2^32 < 2^52). Exact
  * terms make every partial sum exact, so the result is INDEPENDENT of
  * summation order — Spark's partial-aggregation tree and DuckDB's
  * scan order produce bit-identical doubles. Subsequent scalar ops
  * (·lr/n, −shrinkage, sqrt) are single correctly-rounded IEEE ops, so
  * they stay bit-identical AS LONG AS the oracle SQL applies them in
  * the same association order as the engine (`sum * (lr/n)`, not
  * `sum*lr/n`). Two residual hazards are handled explicitly:
  *
  *   - `round(x, 6)` is engine-divergent near ties (Spark rounds the
  *     exact decimal expansion HALF_UP; DuckDB rounds `x·1e6` in FP):
  *     the score/one-step queries therefore ship UNROUNDED bit-exact
  *     doubles; only the two-step query (whose step-2 sums consume the
  *     inexact ÷n of step 1 and so can differ by ulps) rounds, where
  *     ties are measure-zero generic doubles.
  *   - the L1 soft-threshold `sign(c)·max(0, |c|−s)` yields −0.0 for
  *     clamped negative weights, and `round` maps (−5e-7, 0) to −0.0 in
  *     DuckDB but +0.0 in Spark; `==`-style comparison calls them equal
  *     but a byte-level hash does not — every output normalizes −0.0.
  *
  * Features derive from lineitem: sample = order, feature = partkey
  * bucket, value = (quantity sum mod 15 + 1)/16 ∈ [1/16, 15/16].
  */
object FmRelationalQueries {

  private val K = 4
  private val Dim = 50
  private val W0 = 0.5

  /** Shared SQL prelude: the feature relation + parameter formulas.
    * l_quantity is integer-valued DOUBLE, so the BIGINT cast is exact in
    * both engines (trunc vs round-half-even agree on integers). */
  private val featsSql =
    """feats AS (
      |  SELECT l_orderkey AS sample_id,
      |         CAST(l_partkey % 50 AS INT) AS feature_id,
      |         (CAST(sum(l_quantity) AS BIGINT) % 15 + 1) / 16.0 AS x
      |  FROM lineitem GROUP BY sample_id, feature_id)""".stripMargin

  private def wSql(id: String) = s"(($id*37) % 19 - 9)/16.0"
  private def vSql(id: String, f: Int) = s"(($id*31 + $f*17) % 23 - 11)/32.0"

  /** −0.0 → +0.0 (SQL side); see the class doc on hash-exactness. */
  private def nzSql(e: String, as: String) =
    s"CASE WHEN $e = 0 THEN 0.0 ELSE $e END AS $as"

  /** −0.0 → +0.0 (Spark side): `===` treats −0.0 = 0.0, so the branch
    * rewrites exactly the two zeros and nothing else. */
  private def nz(c: Column): Column =
    when(c === 0.0, lit(0.0)).otherwise(c)

  /** Spark-side deterministic parameter table (id, strength, vecArr). */
  private def paramTable(feats: DataFrame): DataFrame = {
    val wExpr = (col("id") * 37 % 19 - 9) / 16.0
    val vExprs = (0 until K).map(f => (col("id") * 31 + f * 17) % 23 - 11)
      .map(c => c.cast("double") / 32.0)
    feats.select(col("feature_id").as("id")).distinct()
      .select(col("id"), wExpr.as("strength"), array(vExprs: _*).as("vecArr"))
  }

  /** (sample_id, feature_id, x) relation from lineitem. */
  private def feats(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("sample_id"),
        (col("l_partkey") % 50).cast("int").as("feature_id"))
      .agg(((sum(col("l_quantity")).cast("long") % 15 + 1) / 16.0).as("x"))

  /** Per-sample sparse feature vectors (dim 50). */
  private def featureVectors(f: DataFrame): DataFrame = {
    val toVec = udf { (ids: Seq[Int], xs: Seq[Double]) =>
      Vectors.sparse(Dim, ids.zip(xs).sortBy(_._1))
    }
    f.groupBy(col("sample_id"))
      .agg(collect_list(col("feature_id")).as("ids"),
        collect_list(col("x")).as("xs"))
      .select(col("sample_id"), toVec(col("ids"), col("xs")).as("features"))
  }

  /** Labelled training batch over [[featureVectors]]: label = sample_id
    * mod 7. */
  private def labelled(f: DataFrame): DataFrame =
    featureVectors(f)
      .select((col("sample_id") % 7).cast("double").as("label"), col("features"))

  /** The estimator every step/fit oracle trains with: lr = 0.1,
    * regParam = 0.5 (shrinkage 0.05 actually zeroes weights, so the
    * soft-threshold path is exercised), seeded init. */
  private def oracleEstimator(uid: String): FactorizationMachinesSGD =
    new FactorizationMachinesSGD(uid)
      .setDimFactorization(K).setStepSize(0.1).setRegParam(0.5)
      .setInitialSd(0.01).setSeed(0L)

  /** A combined parameter table as (id, strength, v0..v{K-1}), every
    * weight passed through `g`. */
  private def flatParams(p: DataFrame, g: Column => Column = nz): DataFrame =
    p.select((col("id") +: g(col("strength")).as("strength") +:
      (0 until K).map(f => g(element_at(col("vecArr"), f + 1)).as(s"v$f"))): _*)

  /** End-to-end scoring through FactorizationMachinesModel.transform,
    * hash-checked against a pure-SQL FM implementation in DuckDB. */
  val fmScoreSql: QueryDef = QueryDef.sql(
    "fm_score_vs_sql_oracle",
    s"""WITH $featsSql,
      |terms AS (
      |  SELECT sample_id, feature_id, x, ${wSql("feature_id")} AS w,
      |         ${(0 until K).map(f => s"${vSql("feature_id", f)} AS v$f").mkString(", ")}
      |  FROM feats),
      |persample AS (
      |  SELECT sample_id,
      |    sum(w*x) AS wx,
      |    ${(0 until K).map(f => s"sum(v$f*x) AS vfx$f").mkString(", ")},
      |    sum((${(0 until K).map(f => s"v$f*v$f").mkString(" + ")}) * x * x) AS v2x2
      |  FROM terms GROUP BY sample_id),
      |scored AS (
      |  SELECT sample_id,
      |    $W0 + wx + 0.5*((${(0 until K).map(f => s"vfx$f*vfx$f").mkString(" + ")}) - v2x2) AS p
      |  FROM persample)
      |SELECT sample_id, ${nzSql("p", "prediction")}
      |FROM scored
      |ORDER BY sample_id""".stripMargin) { (s, d) =>
    // Pin the shared inputs EAGERLY (r17): feats feeds the param table
    // AND the feature vectors, and the model re-joins strengths⋈factors
    // — all inside the ONE final scoring job, so a lazy persist let the
    // concurrent branches race the cache and re-run the lineitem
    // aggregation up to 3× (the sim_bm25 recompute class; the step/train
    // queries below are safe — the batch.count() each passes to step()
    // as n fills the caches sequentially before any multi-branch job
    // runs; `fit` sizes its batches in one job of its own).
    val f = graft.InternalCaches.pinEager(feats(s, d))
    val params = graft.InternalCaches.pinEager(paramTable(f))
    val model = FactorizationMachinesModel.fromParamTable("fmSqlOracle", K, W0, params)
    // Bit-exact math (see class doc) — no rounding; only −0.0 normalized.
    model.transform(featureVectors(f))
      .select(col("sample_id"), nz(col("prediction")).as("prediction"))
      .orderBy(col("sample_id"))
  }

  /** One SQL iteration block: from params relation pIn(id, w, v0..) to
    * pOut — the exact engine math of one [[FactorizationMachinesSGD.step]]
    * (per-sample sums, residual, gradient reduction ·lr/n, L1 soft
    * threshold). A `w0` enters the residual as the `(w0 + (…))` prefix
    * of the prediction. `resid$i` also carries the per-sample row count
    * so the loss twin ([[fmTrainLossSql]]) can reproduce the engine's
    * Σ_rows r²/cnt as the SAME multiset of addends. */
  private def stepSql(i: Int, pIn: String, pOut: String, lrSql: String,
      w0: Option[Double] = None): String = {
      val vs = (0 until K)
      val pred = s"(wx + 0.5*((${vs.map(f => s"vfx$f*vfx$f").mkString(" + ")}) - v2x2))"
      s"""terms$i AS (
        |  SELECT f.sample_id, f.feature_id, f.x, p.w,
        |         ${vs.map(f => s"p.v$f").mkString(", ")}
        |  FROM feats f JOIN $pIn p ON p.id = f.feature_id),
        |persample$i AS (
        |  SELECT sample_id, sum(w*x) AS wx, count(*) AS cnt,
        |    ${vs.map(f => s"sum(v$f*x) AS vfx$f").mkString(", ")},
        |    sum((${vs.map(f => s"v$f*v$f").mkString(" + ")}) * x * x) AS v2x2
        |  FROM terms$i GROUP BY sample_id),
        |resid$i AS (
        |  SELECT sample_id, cnt,
        |    ${w0.fold(pred)(w => s"($w + $pred)")}
        |      - CAST(sample_id % 7 AS DOUBLE) AS r,
        |    ${vs.map(f => s"vfx$f").mkString(", ")}
        |  FROM persample$i),
        |grads$i AS (
        |  SELECT t.feature_id,
        |    sum(t.x * p.r) * (($lrSql) / (SELECT n FROM n)) AS dw,
        |    ${vs.map(f =>
             s"sum((t.x * p.vfx$f - t.v$f * t.x * t.x) * p.r) * (($lrSql) / (SELECT n FROM n)) AS dv$f")
             .mkString(", ")}
        |  FROM terms$i t JOIN resid$i p ON t.sample_id = p.sample_id
        |  GROUP BY t.feature_id),
        |$pOut AS (
        |  SELECT p.id,
        |    sign(p.w - g.dw) * greatest(0.0, abs(p.w - g.dw) - ($lrSql) * 0.5) AS w,
        |    ${vs.map(f =>
             s"sign(p.v$f - g.dv$f) * greatest(0.0, abs(p.v$f - g.dv$f) - ($lrSql) * 0.5) AS v$f")
             .mkString(", ")}
        |  FROM $pIn p JOIN grads$i g ON g.feature_id = p.id)""".stripMargin
  }

  /** The step/fit oracles' shared SQL prelude: the feature relation, the
    * batch size n and the deterministic parameter table p0. */
  private val stepPreludeSql =
    s"""$featsSql,
      |n AS (SELECT count(*) AS n FROM (SELECT DISTINCT sample_id FROM feats) s),
      |p0 AS (
      |  SELECT DISTINCT feature_id AS id, ${wSql("feature_id")} AS w,
      |    ${(0 until K).map(f => s"${vSql("feature_id", f)} AS v$f").mkString(", ")}
      |  FROM feats)""".stripMargin

  /** One full-batch [[stepSql]] iteration from p0 at lr = 0.1, selecting
    * the updated weights (−0.0 normalized) plus `extraCols`. */
  private def oneStepSql(w0: Option[Double] = None, extraCols: String = ""): String =
    s"""WITH $stepPreludeSql,
      |${stepSql(1, "p0", "p1", "0.1", w0)}
      |SELECT id, ${nzSql("w", "strength")},
      |  ${(0 until K).map(f => nzSql(s"v$f", s"v$f")).mkString(", ")}$extraCols
      |FROM p1
      |ORDER BY id""".stripMargin

  /** One full SGD update step through FactorizationMachinesSGD.step —
    * gradient reduction, full-outer merge, L1 soft-threshold — checked
    * against the same math written as SQL ([[stepSql]]). */
  val fmStepSql: QueryDef = QueryDef.sql("fm_sgd_step_vs_sql_oracle", oneStepSql()) { (s, d) =>
    // Persisted: params is referenced twice inside step() (exploded join
    // + full-outer merge) and batch twice (the count passed as n +
    // explode) — uncached, each reference re-runs the lineitem
    // aggregation and vector build.
    val f = feats(s, d).persist()
    val params = paramTable(f).persist()
    val batch = labelled(f).persist()
    val Some((newParams, _, _, _)) =
      oracleEstimator("fmStepOracle").step(params, batch, batch.count(), iter = 1)
    // Bit-exact through the gradient sums; ·(lr/n) and the soft threshold
    // are deterministic scalar ops — no rounding, only −0.0 normalized.
    // NOTE: newParams is localCheckpoint'd (lineage truncated) — it must
    // NOT be unpersisted before the result materializes; Verify/Bench
    // clear the cache after each query instead.
    flatParams(newParams).orderBy(col("id"))
  }

  /** [[fmStepSql]] with INTERCEPT TRAINING on (r6, verdict #5): the
    * prediction carries w0 = 0.5, shifting every residual (so every
    * gradient, so every updated weight differs from the w0-less twin),
    * and the output also pins the trained bias
    * `w0' = w0 − Σ_samples r · (lr/n)` as a constant column. All terms
    * stay exact dyadic rationals (0.5 is exact; per-sample residuals
    * are exact, so their sum is order-independent), hence bit-exact
    * cross-engine with no rounding — only −0.0 normalized. */
  val fmStepInterceptSql: QueryDef = QueryDef.sql(
    "fm_sgd_step_intercept_vs_sql_oracle",
    oneStepSql(Some(W0),
      s",\n  (SELECT $W0 - sum(r) * (0.1 / (SELECT n FROM n)) FROM resid1) AS w0_new")) { (s, d) =>
    val f = feats(s, d).persist()
    val params = paramTable(f).persist()
    val batch = labelled(f).persist()
    val Some((newParams, _, newW0, _)) = oracleEstimator("fmStepIntercept")
      .setFitIntercept(true).step(params, batch, batch.count(), iter = 1, w0 = W0)
    // newParams is localCheckpoint'd — not unpersisted before the result runs.
    flatParams(newParams).withColumn("w0_new", lit(newW0)).orderBy(col("id"))
  }

  /** TWO chained SGD iterations against a pure-SQL oracle — pins the
    * learning-rate decay schedule, per-iteration shrinkage, and
    * iteration COMPOSITION (see [[stepSql]]). */
  val fmTwoStepsSql: QueryDef =
    QueryDef.sql(
      "fm_sgd_two_steps_vs_sql_oracle",
      s"""WITH $stepPreludeSql,
        |${stepSql(1, "p0", "p1", "0.1")},
        |${stepSql(2, "p1", "p2", "0.1 / sqrt(2.0)")},
        |rounded AS (
        |  SELECT id, round(w, 6) AS rw,
        |    ${(0 until K).map(f => s"round(v$f, 6) AS rv$f").mkString(", ")}
        |  FROM p2)
        |SELECT id, ${nzSql("rw", "strength")},
        |  ${(0 until K).map(f => nzSql(s"rv$f", s"v$f")).mkString(", ")}
        |FROM rounded
        |ORDER BY id""".stripMargin) { (s, d) =>
      // Same caching rationale as the one-step query; the batch is
      // consumed by BOTH iterations.
      val f = feats(s, d).persist()
      val batch = labelled(f).persist()
      val est = oracleEstimator("fmTwoSteps")
      val p0 = paramTable(f).persist()
      val n = batch.count()
      val Some((p1, _, _, _)) = est.step(p0, batch, n, iter = 1)
      val Some((p2, _, _, _)) = est.step(p1, batch, n, iter = 2)
      // Step 2 consumes step 1's inexact ÷n, so its sums can differ by
      // ulps across engines: round(…,6) absorbs them (generic doubles —
      // the decimal-tie pathology of the old ÷10/÷23 fixtures is gone),
      // then −0.0 (from rounding tiny negatives) is normalized.
      // p1/p2 are localCheckpoint'd: never unpersist before materializing.
      flatParams(p2, c => nz(round(c, 6))).orderBy(col("id"))
    }

  /** The full `fit()` driver loop end-to-end under the SQL oracle —
    * closes the four-round `no_oracle` gap on `fm_train_quick`. The
    * estimator warm-starts from the deterministic integer-arithmetic
    * parameter table ([[paramTable]] via `setInitialModel`), trains one
    * full-batch iteration (`maxIter=1`, `miniBatchFraction=1.0` — the
    * one split randomSplit leaves deterministic because every row
    * passes), and the LEARNED MODEL's parameter tables are compared
    * bit-exactly (step-1 math is exact dyadic; see class doc) against
    * one [[stepSql]] iteration. This pins what the raw-step queries
    * can't: fit's warm-start ingestion (vec→array round-trip),
    * randomSplit batching, the iteration driver, and model assembly. */
  val fmTrainQuickSql: QueryDef = QueryDef.sql("fm_train_quick", oneStepSql()) { (s, d) =>
    val f = feats(s, d).persist()
    val params = paramTable(f).persist()
    val warm = FactorizationMachinesModel.fromParamTable("fmTrainWarm", K, 0.0, params)
    val est = oracleEstimator("fmTrainQuick")
      .setMaxIter(1).setMiniBatchFraction(1.0).setInitialModel(warm)
    flatParams(est.fit(labelled(f)).paramTable).orderBy(col("id"))
  }

  /** Per-iteration TRAINING LOSS history over three chained full-batch
    * iterations, hash-checked against SQL — the loss-curve surface of
    * `fit` (reference SGD:134-139). The engine computes each batch loss
    * as Σ_rows residual²/cnt (one value per exploded feature row); the
    * oracle reproduces the SAME MULTISET of addends (terms⋈resid gives
    * cnt copies of r²/cnt per sample), so the engines differ only in
    * accumulation order. The grain is round(…,2), chosen from MEASURED
    * margins: losses are O(2e5) where a 1e-6 grain left only ~1e-7 to
    * the nearest rounding boundary vs ~1e-6 worst-case order noise;
    * at 0.01 grain the measured boundary margins are ≥1.2e-3 —
    * three orders of magnitude of headroom. */
  val fmTrainLossSql: QueryDef = QueryDef.sql(
    "fm_train_loss_vs_sql_oracle",
    s"""WITH $stepPreludeSql,
      |${stepSql(1, "p0", "p1", "0.1")},
      |${stepSql(2, "p1", "p2", "0.1 / sqrt(2.0)")},
      |${stepSql(3, "p2", "p3", "0.1 / sqrt(3.0)")},
      |losses(iter, raw) AS (
      |  SELECT 1, (SELECT sum(p.r*p.r/p.cnt) FROM terms1 t
      |             JOIN resid1 p ON t.sample_id = p.sample_id)
      |  UNION ALL
      |  SELECT 2, (SELECT sum(p.r*p.r/p.cnt) FROM terms2 t
      |             JOIN resid2 p ON t.sample_id = p.sample_id)
      |  UNION ALL
      |  SELECT 3, (SELECT sum(p.r*p.r/p.cnt) FROM terms3 t
      |             JOIN resid3 p ON t.sample_id = p.sample_id))
      |SELECT CAST(iter AS BIGINT) AS iter, round(raw, 2) AS loss
      |FROM losses
      |ORDER BY iter""".stripMargin) { (s, d) =>
    val f = feats(s, d).persist()
    val batch = labelled(f).persist()
    val est = oracleEstimator("fmTrainLoss")
    var params = paramTable(f)
    val n = batch.count()
    val losses = (1 to 3).map { iter =>
      val Some((next, loss, _, _)) = est.step(params, batch, n, iter)
      params = next
      loss
    }
    import s.implicits._
    losses.zipWithIndex
      .map { case (l, i) => ((i + 1).toLong, l) }
      .toDF("iter", "raw")
      .select(col("iter"), nz(round(col("raw"), 2)).as("loss"))
      .orderBy(col("iter"))
  }

  val all: Seq[QueryDef] =
    Seq(fmScoreSql, fmStepSql, fmStepInterceptSql, fmTwoStepsSql,
      fmTrainQuickSql, fmTrainLossSql)
}
