package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extensions registering the engine's native SQL functions,
  * the AsOf planner strategy and its optimizer rules. Every graft
  * session requires them — the operators call these expressions
  * directly, with no interpreted fallback — and [[graft.GraftSession]]
  * attaches them. In such a session `expr("dot_product_q(a, b)")`
  * resolves to the native expression in any query. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    for ((name, cls, build) <- GraftExtensions.functions)
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    e.injectPlannerStrategy(_ => graft.plans.AsOfStrategy)
    e.injectOptimizerRule(_ => graft.plans.AsOfJoinOptimization.PushLeftFilters)
    e.injectOptimizerRule(_ => graft.plans.AsOfJoinOptimization.PruneChildColumns)
  }
}

object GraftExtensions {
  /** Every native SQL function: its name, expression class and builder. */
  private[functions] val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("dot_product_q", classOf[DotProductQ], es => DotProductQ(es(0), es(1))),
    ("token_hash", classOf[TokenHash], es => TokenHash(es(0))),
    ("normalize_text", classOf[NormalizeText], es => NormalizeText(es(0))),
    ("binary_bytes", classOf[BinaryBytes], es => BinaryBytes(es(0))),
    ("gram_run_stats", classOf[GramRunStats], es => GramRunStats(es(0), es(1))),
    ("cms_sketch", classOf[CountMinSketchAgg], es => CountMinSketchAgg(es(0))),
    ("hll_sketch", classOf[HyperLogLogAgg], es => HyperLogLogAgg(es(0))),
    ("fm_arr_scale", classOf[FmArrScale], es => FmArrScale(es(0), es(1))),
    ("fm_sq_sum", classOf[FmSqSum], es => FmSqSum(es(0))),
    ("fm_grad_v", classOf[FmGradV], es => FmGradV(es(0), es(1), es(2), es(3))),
    ("fm_soft_update", classOf[FmSoftUpdate], es => FmSoftUpdate(es(0), es(1), es(2))),
    ("fm_init_strength", classOf[FmInitStrength],
      es => FmInitStrength(es(0), es(1), es(2), es(3))),
    ("fm_init_vec", classOf[FmInitVec], es => FmInitVec(es(0), es(1), es(2), es(3), es(4))))
}
