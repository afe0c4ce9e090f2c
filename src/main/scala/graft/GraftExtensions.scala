package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.Registry

/** Session-extensions entry point: installs graft's native functions for
  * any session, so plain `spark.sql(...)` users get them without calling
  * [[graft.functions.Registry.register]]:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *
  * The functions are [[Registry.functions]], the same list `register`
  * installs; the extension adds the whole-operator rewrite that only it
  * injects.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    Registry.functions.foreach { case (name, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, null,
          "", "", "", "", "", "", "built-in"),
        build))
    }
    // whole-operator extension: rank-limit windows → native bounded top-k
    ext.injectOptimizerRule(_ => graft.plans.RewriteRankLimitToTopK)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
  }
}
