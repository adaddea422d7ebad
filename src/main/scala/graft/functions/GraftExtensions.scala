package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point — deploy-wide registration, so a
  * cluster configured with
  * `spark.sql.extensions=graft.functions.GraftExtensions` has every
  * function of [[FunctionCatalog]] in every session's SQL surface (the
  * same table [[VectorExpressions.register]] installs per session), plus
  * the optimizer rules and the as-of join strategy, which a session
  * without the extension registers itself.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // operator-optimization batch (fixpoint): both rewrites are idempotent
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinPruning)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinBinning)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // 3-arg ExpressionInfo: the only non-deprecated form without the
    // validated group/source taxonomy
    FunctionCatalog.entries.foreach { e =>
      ext.injectFunction((FunctionIdentifier(e.name),
        new ExpressionInfo("graft.functions.FunctionCatalog", null, e.name), e.builder))
    }
  }
}
