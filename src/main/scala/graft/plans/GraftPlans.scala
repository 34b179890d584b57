package graft.plans

import org.apache.spark.sql.{DataFrame, GraftSqlAccess}

/** Public wrapper for the custom plan nodes: builds the DataFrame from
  * the logical node. The session plans it with [[AsOfJoinStrategy]],
  * which GraftExtensions installs in every graft session.
  */
object GraftPlans {

  /** As-of join `left` with `right`: per left row, the right row with
    * equal key and greatest time ≤ left time (LEFT semantics);
    * `tolerance` (if set) bounds the lookback — older matches
    * null-extend instead. Key columns must be LongType; time columns
    * TimestampType.
    */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      tolerance: Option[java.time.Duration] = None): DataFrame = {
    val spark = left.sparkSession
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not in ${plan.output.map(_.name)}"))
    GraftSqlAccess.ofRows(spark,
      AsOfJoin(lp, rp,
        attr(lp, leftKey), attr(rp, rightKey),
        attr(lp, leftTime), attr(rp, rightTime),
        tolerance.map(_.toNanos / 1000L))) // micros; toMillis would zero sub-ms bounds
  }
}
