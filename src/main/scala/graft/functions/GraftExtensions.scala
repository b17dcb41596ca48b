package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: registers graft's native
  * functions at session build time, so deployments can enable the
  * engine with configuration alone:
  *
  *   spark.sql.extensions=graft.functions.GraftExtensions
  *
  * (or programmatically, via the session builder's withExtensions).
  * Injects the same [[GraftFunctions.table]] entries
  * GraftFunctions.register installs on a session, but survives session
  * cloning and applies to pure-SQL clients that never touch Scala code.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    // plan-level df rule: whole-partition COUNT windows become
    // aggregate + null-safe join (see CountWindowToJoin scaladoc)
    ext.injectOptimizerRule(_ => graft.plans.CountWindowToJoin)
  }
}
