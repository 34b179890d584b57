package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.functions._
import graft.plans.AsOfJoinStrategy

/** SparkSessionExtensions entry point: everything graft adds to a
  * session — the `graft_*` functions of [[VectorExprs.functions]] and
  * the as-of join planner strategy. [[GraftSession]]'s builders install
  * it; a session built elsewhere names it in its launch conf:
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * No library code path registers either by itself; `Tables(...)`
  * refuses a session whose graft functions are missing or shadowed.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def inject(e: SparkSessionExtensions, name: String, className: String,
      builder: Seq[Expression] => Expression): Unit =
    e.injectFunction((
      org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      // the EXPRESSION class, not this registrar: DESCRIBE FUNCTION
      // surfaces it as the implementing class
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(className, name),
      builder))

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    VectorExprs.functions.foreach { case (name, cls, builder) => inject(e, name, cls, builder) }
  }
}
