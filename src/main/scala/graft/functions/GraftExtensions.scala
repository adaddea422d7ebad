package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point, the one route by which the engine
  * reaches a session: every function of [[FunctionCatalog]] in its SQL
  * surface, the two optimizer rules and the as-of join strategy.
  * [[graft.Sessions]] sets `spark.sql.extensions` to this class, so every
  * factory session and its `newSession()` clones carry it from the start;
  * a deploy building its own sessions sets the same key.
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
