package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Idiomatic library entry point: makes every native graft function
  * available in ANY session of an application via
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  * }}}
  *
  * or `withExtensions(new GraftExtensions)` on a session builder. This is
  * the deployment route for a shared cluster (the functions exist before any
  * user code runs, catalog-visible to plain SQL); `Tables.configure` keeps
  * the temp-function route for sessions the library did not construct. Both
  * draw from the same builder list, so the two surfaces cannot drift.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.VectorExpressions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
    // commutative-kernel canonicalization: makes semantically-equal
    // graft_dot / graft_popcnt_and calls syntactically equal so CSE and
    // exchange reuse see through argument order (bit-identical swap)
    ext.injectOptimizerRule(_ => graft.plans.CanonicalizeCommutativeVectorOps)
  }
}
