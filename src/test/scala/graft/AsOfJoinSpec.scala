package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.EventOps

/** The custom AsOfJoin operator must equal the composed (quadratic)
  * formulation: equi-join → filter time ≤ → keep latest per left row.
  */
class AsOfJoinSpec extends SparkSpec {

  test("asof exec == composed join+filter+argmax formulation") {
    val t = tables
    val got = EventOps.evAsofEnrich(t).orderBy("event_id").collect()
      .map(r => (r.getLong(0), Option(r.get(3)), Option(r.get(4)).map(_.toString)))

    val ev = t.events.select(col("event_id"), col("user_id"), col("ts"))
    val ord = t.orders.groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    val w = Window.partitionBy(col("event_id"))
      .orderBy(col("o_orderdate").desc_nulls_last)
    val composed = ev.join(ord,
        col("user_id") === col("o_custkey") && col("o_orderdate") <= col("ts"), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .orderBy(col("event_id"))
      .collect()
      .map(r => (r.getLong(0), Option(r.get(5)), Option(r.get(4)).map(_.toString)))

    assert(got.length == composed.length)
    got.zip(composed).foreach { case (g, c) => assert(g == c, s"mismatch: $g vs $c") }
  }

  test("left rows without a match are null-extended") {
    import spark.implicits._
    val left = Seq((1L, 100L), (2L, 200L), (3L, 50L)).toDF("id", "t")
      .select(col("id"), timestamp_micros(col("t")).as("t"))
    val right = Seq((1L, 90L, "a"), (1L, 95L, "b"), (2L, 300L, "c")).toDF("id2", "t2", "v")
      .select(col("id2"), timestamp_micros(col("t2")).as("t2"), col("v"))
    val out = graft.plans.GraftPlans.asofJoin(left, right, "id", "id2", "t", "t2")
      .orderBy("id").collect()
    assert(out.length == 3)
    assert(out(0).getString(4) == "b", "latest of two candidates wins")
    assert(out(1).isNullAt(4), "right time after left time → no match")
    assert(out(2).isNullAt(4), "key absent on right → no match")
  }

  test("tolerance: stale matches null-extend; a generous bound reproduces the unbounded join") {
    import spark.implicits._
    val left = Seq((1L, 1000L), (2L, 1000L)).toDF("id", "t")
      .select(col("id"), timestamp_micros(col("t")).as("t"))
    // id 1's candidate is 5 micros old (inside a 10-micro bound),
    // id 2's is 500 micros old (outside)
    val right = Seq((1L, 995L, "fresh"), (2L, 500L, "stale")).toDF("id2", "t2", "v")
      .select(col("id2"), timestamp_micros(col("t2")).as("t2"), col("v"))
    val bounded = graft.plans.GraftPlans.asofJoin(left, right, "id", "id2", "t", "t2",
        tolerance = Some(java.time.Duration.ofNanos(10 * 1000))).orderBy("id").collect()
    assert(bounded(0).getString(4) == "fresh")
    assert(bounded(1).isNullAt(4), "match older than the tolerance must null-extend")
    // generous bound ≡ unbounded, row for row
    val loose = graft.plans.GraftPlans.asofJoin(left, right, "id", "id2", "t", "t2",
        tolerance = Some(java.time.Duration.ofDays(1))).orderBy("id").collect()
    val unbounded = graft.plans.GraftPlans.asofJoin(left, right, "id", "id2", "t", "t2")
      .orderBy("id").collect()
    assert(loose.toSeq == unbounded.toSeq)
  }
}
