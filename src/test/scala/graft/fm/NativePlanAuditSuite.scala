package graft.fm

import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sample, Sort}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.{array, col, concat_ws, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan audits for the native expressions: every graft session carries
  * GraftExtensions, and the operators call the codegen'd expressions
  * directly — so the engine's own plans must contain them. Lives in
  * `graft.fm` for access to the SGD step. */
class NativePlanAuditSuite extends SparkSessionSuite {

  /** Simple class names of every expression in `plan`, looking through
    * subqueries, adaptive stages and cached relations (a persisted
    * intermediate's plan lives inside its InMemoryRelation). */
  private def exprNames(plan: QueryPlan[_]): Set[String] = {
    val nested: Seq[Any] = plan match {
      case m: InMemoryRelation => Seq(m.cacheBuilder.cachedPlan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    val own = plan.expressions.flatMap(_.collect { case e => e.getClass.getSimpleName })
    (own ++ (plan.children ++ plan.subqueries ++ nested)
      .flatMap(p => exprNames(p.asInstanceOf[QueryPlan[_]]))).toSet
  }

  private def names(df: DataFrame): Set[String] =
    exprNames(df.queryExecution.optimizedPlan)

  private val fmOps = Set("FmArrScale", "FmSqSum", "FmGradV", "FmSoftUpdate")

  test("one SGD step runs FmArrScale, FmSqSum, FmGradV and FmSoftUpdate") {
    val s = spark
    import s.implicits._
    val params = Seq((0, 0.1, Seq(0.5, -0.5)), (1, -0.2, Seq(1.0, 0.25)))
      .toDF("id", "strength", "vecArr")
    val batch = Seq(
      (1.0, Vectors.sparse(3, Seq(0 -> 1.0, 1 -> 2.0))),
      (0.0, Vectors.sparse(3, Seq(1 -> 0.5, 2 -> -1.0))))
      .toDF("label", "features")
    val est = new FactorizationMachinesSGD("audit")
      .setDimFactorization(2).setStepSize(0.5).setRegParam(0.1)

    // A step's one action, the eager checkpoint, reports its plan to
    // the listener; the updated table comes back checkpointed, so its
    // own plan is a leaf.
    def checkpointPlans(run: => Unit): Seq[LogicalPlan] = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, LogicalPlan)]()
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit = plans.add(funcName -> qe.optimizedPlan)
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        run
        graft.Profile.settle(spark)
      } finally spark.listenerManager.unregister(listener)
      plans.toArray(Array.empty[(String, LogicalPlan)]).toSeq
        .collect { case ("localCheckpoint", plan) => plan }
    }
    // Feature 2 has no row: it inits natively, and in a cold fit's later
    // step (shrinkages pending) its init also replays them natively, with
    // no higher-order function in the plan.
    for (pending <- Seq(Nil, Seq(0.05))) {
      val plan = checkpointPlans(
        est.step(params, batch, n = 2, iter = 2, pending = pending) should not be empty).head
      val seen = exprNames(plan)
      withClue(s"pending $pending, expressions seen: $seen\n") {
        (fmOps ++ Set("FmInitStrength", "FmInitVec")).foreach(n => assert(seen.contains(n), n))
        seen should not contain "ArrayTransform"
      }
    }

    // In a fit, a step reads its batch from the persisted tagging pass:
    // no step plan re-samples (Sample) or re-sorts the samples (a Sort
    // on features). The tagging pass's own sort sits inside the cached
    // relation, a leaf here.
    val samples = Seq.tabulate(40)(i =>
      (i % 3.0, Vectors.sparse(5, Seq(i % 5 -> 1.0, (i + 2) % 5 -> 0.5))))
      .toDF("label", "features")
    val fitPlans = checkpointPlans(
      new FactorizationMachinesSGD("audit-fit").setDimFactorization(2)
        .setMaxIter(3).setMiniBatchFraction(1.0).setSeed(3L).fit(samples))
    fitPlans should have size 3
    fitPlans.foreach { plan =>
      withClue(s"step plan:\n$plan\n") {
        plan.collect { case p: Sample => p } shouldBe empty
        plan.collect { case p: Sort
          if p.order.exists(_.references.exists(_.name == "features")) => p
        } shouldBe empty
      }
    }
  }

  test("carry-through transform scores with FmArrScale and FmSqSum") {
    val s = spark
    import s.implicits._
    val model = new FactorizationMachinesModel("audit", 2, 0.5,
      Seq(Strength(0, 0.1), Strength(1, 0.2)).toDS(),
      Seq(FactorizedInteraction(0, Vectors.dense(1.0, 2.0).toDense),
        FactorizedInteraction(1, Vectors.dense(3.0, -1.0).toDense)).toDS())
    val input = Seq((1, Vectors.dense(1.0, 2.0))).toDF("rowId", "features")
    val found = names(model.transform(input))
    withClue(s"expressions: $found\n") {
      found should contain allOf ("FmArrScale", "FmSqSum")
    }
  }

  // Inputs derive from spark.range: the optimizer would evaluate a
  // projection over an in-memory Seq into a literal relation, and the
  // expressions under audit with it.
  private def text(s: String): DataFrame = spark.range(2).select(
    col("id").as("doc_id"), concat_ws(" ", lit(s), col("id").cast("string")).as("text"))

  test("Similarity.prepared's norm runs DotProductQ") {
    val emb = spark.range(2).select(col("id").as("vec_id"),
      array(col("id").cast("float"), lit(0.5f)).as("embedding"))
    names(graft.ops.Similarity.prepared(emb)) should contain("DotProductQ")
  }

  test("Dedup.encodedToks hashes tokens with TokenHash") {
    names(graft.ops.Dedup.encodedToks(text("the quick fox"))) should contain("TokenHash")
  }

  test("TextAnalysis.normalizeUnicode runs NormalizeText") {
    val df = text("Caf\u00e9")
      .select(graft.ops.TextAnalysis.normalizeUnicode(col("text")))
    names(df) should contain("NormalizeText")
  }
}
