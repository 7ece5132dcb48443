package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions wiring for graft's custom expressions and
  * plans. A session must be built with
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  * }}}
  *
  * for any `graft_*` function to resolve, in SQL text or through the
  * Column accessors alike: every entry of [[GraftFunctions.specs]] is
  * injected into every session of that context, and there is no other
  * registration path. `spark.sql.extensions` is a static conf, bound
  * when the context's first session is built.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    for (s <- GraftFunctions.specs)
      e.injectFunction((FunctionIdentifier(s.name),
        new ExpressionInfo(classOf[GraftExtensions].getName, s.name),
        (exprs: Seq[Expression]) =>
          s.build(GraftFunctions.checkArity(s.name, s.arity, exprs))))
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    e.injectPlannerStrategy(_ => graft.plans.RunningTotalStrategy)
  }
}
