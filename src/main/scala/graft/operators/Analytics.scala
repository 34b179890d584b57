package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** OLAP analytics core (SURVEY §2.B): TPC-H-shaped queries expressed
  * declaratively so Catalyst handles pushdown/pruning/join strategy.
  *
  * Numeric parity convention (shared with the DuckDB oracle): row-level
  * arithmetic happens in DOUBLE (bit-deterministic per row for the same
  * left-associated expression in both engines); measures are cast to
  * DECIMAL(18,4) *before* SUM so the aggregate is order-independent and
  * exact; the final value is cast back to DOUBLE so both sides present
  * identical schema + bits. Averages divide that deterministic sum by a
  * count in double space.
  */
object Analytics {

  /** Order-independent exact sum, presented as double. */
  private def psum(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast("double")

  /** B1: pricing summary — multi-aggregate groupBy (TPC-H Q1 shape).
    * One shuffle on the (tiny-cardinality) group keys, partial
    * aggregation map-side; filter is pushed to the parquet scan.
    */
  def q1PricingSummary(t: Tables): DataFrame =
    t.lineitem
      .select($("l_returnflag"), $("l_linestatus"), $("l_quantity"),
        $("l_extendedprice"), $("l_discount"), $("l_tax"), $("l_shipdate"))
      .filter($("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy($("l_returnflag"), $("l_linestatus"))
      .agg(
        psum($("l_quantity")).as("sum_qty"),
        psum($("l_extendedprice")).as("sum_base_price"),
        psum($("l_extendedprice") * (lit(1.0) - $("l_discount"))).as("sum_disc_price"),
        psum($("l_extendedprice") * (lit(1.0) - $("l_discount")) * (lit(1.0) + $("l_tax"))).as("sum_charge"),
        (psum($("l_quantity")) / count(lit(1)).cast("double")).as("avg_qty"),
        (psum($("l_extendedprice")) / count(lit(1)).cast("double")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy($("l_returnflag"), $("l_linestatus"))

  /** B2: shipping priority — customer ⋈ orders ⋈ lineitem, revenue
    * per order, top 10. customer side is selective + small → broadcast;
    * final top-N is sort+limit = TakeOrderedAndProject (no global sort).
    */
  def q3ShippingPriority(t: Tables): DataFrame = {
    val cut = lit("1997-06-01").cast("timestamp")
    val cust = t.customer.select($("c_custkey"), $("c_mktsegment"))
      .filter($("c_mktsegment") === "BUILDING")
    val ord = t.orders.select($("o_orderkey"), $("o_custkey"), $("o_orderdate"))
      .filter($("o_orderdate") < cut)
    val li = t.lineitem.select($("l_orderkey"), $("l_extendedprice"), $("l_discount"), $("l_shipdate"))
      .filter($("l_shipdate") > cut)
    li.join(ord, $("l_orderkey") === $("o_orderkey"))
      .join(broadcast(cust), $("o_custkey") === $("c_custkey"))
      .groupBy($("l_orderkey"), $("o_orderdate"))
      .agg(psum($("l_extendedprice") * (lit(1.0) - $("l_discount"))).as("revenue"))
      .orderBy($("revenue").desc, $("l_orderkey").asc)
      .limit(10)
  }

  /** B3: local-supplier volume — 6-way join; region/nation/supplier are
    * dimension-sized → broadcast; the lineitem⋈orders fact join shuffles
    * on orderkey with AQE skew handling.
    */
  def q5LocalSupplier(t: Tables): DataFrame = {
    val reg = t.region.select($("r_regionkey"), $("r_name")).filter($("r_name") === "ASIA")
    val nat = t.nation.select($("n_nationkey"), $("n_name"), $("n_regionkey"))
    val sup = t.supplier.select($("s_suppkey"), $("s_nationkey"))
    val cust = t.customer.select($("c_custkey"), $("c_nationkey"))
    val ord = t.orders.select($("o_orderkey"), $("o_custkey"), $("o_orderdate"))
      .filter($("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .filter($("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val li = t.lineitem.select($("l_orderkey"), $("l_suppkey"), $("l_extendedprice"), $("l_discount"))
    li.join(ord, $("l_orderkey") === $("o_orderkey"))
      .join(broadcast(cust), $("o_custkey") === $("c_custkey"))
      .join(broadcast(sup), $("l_suppkey") === $("s_suppkey") && $("c_nationkey") === $("s_nationkey"))
      .join(broadcast(nat), $("s_nationkey") === $("n_nationkey"))
      .join(broadcast(reg), $("n_regionkey") === $("r_regionkey"))
      .groupBy($("n_name"))
      .agg(psum($("l_extendedprice") * (lit(1.0) - $("l_discount"))).as("revenue"))
      .orderBy($("revenue").desc, $("n_name").asc)
  }

  /** B4: window functions — per-supplier chronological row_number and
    * running quantity. Partitioned window (high-cardinality key), never
    * a global unpartitioned window.
    */
  def qWindowRunning(t: Tables): DataFrame = {
    val w = Window.partitionBy($("l_suppkey"))
      .orderBy($("l_shipdate"), $("l_orderkey"), $("l_linenumber"))
    t.lineitem
      .select($("l_suppkey"), $("l_orderkey"), $("l_linenumber"), $("l_shipdate"), $("l_quantity"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("running_qty",
        sum($("l_quantity").cast(DecimalType(18, 6)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .filter($("rn") <= 3)
      .select($("l_suppkey"), $("rn"), $("l_orderkey"), $("l_shipdate"), $("running_qty"))
      .orderBy($("l_suppkey"), $("rn"))
  }

  /** B5: ROLLUP — multi-level aggregate over returnflag/linestatus. */
  def qRollup(t: Tables): DataFrame =
    t.lineitem
      .select($("l_returnflag"), $("l_linestatus"), $("l_quantity"))
      .rollup($("l_returnflag"), $("l_linestatus"))
      .agg(psum($("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy($("l_returnflag").asc_nulls_first, $("l_linestatus").asc_nulls_first)

  /** B6: exact distinct aggregation per order-priority bucket. */
  def qDistinctAgg(t: Tables): DataFrame =
    t.orders
      .select($("o_orderpriority"), $("o_custkey"), $("o_orderstatus"))
      .groupBy($("o_orderpriority"))
      .agg(
        countDistinct($("o_custkey")).as("n_cust"),
        countDistinct($("o_orderstatus")).as("n_status"),
        count(lit(1)).as("n_orders"))
      .orderBy($("o_orderpriority"))

  /** B7: semi + anti joins — customers with ≥1 high-value order (semi)
    * and with none (anti), counted by market segment. Broadcast-friendly
    * probe side; EXISTS/NOT EXISTS in the oracle.
    */
  def qAntiSemi(t: Tables): DataFrame = {
    val hi = t.orders.select($("o_custkey"), $("o_totalprice"))
      .filter($("o_totalprice") > 150000.0)
    val cust = t.customer.select($("c_custkey"), $("c_mktsegment"))
    val withHi = cust.join(hi, $("c_custkey") === $("o_custkey"), "left_semi")
      .groupBy($("c_mktsegment")).agg(count(lit(1)).as("n_with"))
    val without = cust.join(hi, $("c_custkey") === $("o_custkey"), "left_anti")
      .groupBy($("c_mktsegment")).agg(count(lit(1)).as("n_without"))
    withHi.join(without, Seq("c_mktsegment"), "full_outer")
      .select($("c_mktsegment"),
        coalesce($("n_with"), lit(0L)).as("n_with"),
        coalesce($("n_without"), lit(0L)).as("n_without"))
      .orderBy($("c_mktsegment"))
  }

  /** B46: customer-revenue concentration (A54's Lorenz/Pareto read on
    * the money side): customers bucketed into revenue deciles by
    * broadcast exact-percentile cutoffs — never an unpartitioned
    * corpus ntile — with per-decile customer count, decimal-exact
    * revenue, share and cumulative share ("the top decile is 40% of
    * revenue" is the account-concentration risk card). The cumulative
    * window rides the ≤10-row rollup.
    */
  def qRevenueDeciles(t: Tables): DataFrame = {
    val per = t.orders
      .select($("o_custkey"), $("o_totalprice"))
      .groupBy($("o_custkey"))
      .agg(psum($("o_totalprice")).as("revenue"))
    val cutCols = (1 to 9).map(i => r4(expr(s"percentile(revenue, 0.$i)")).as(s"c$i"))
    val cuts = per.agg(cutCols.head, cutCols.tail: _*)
    // fold 9→1 so the SMALLEST cutoff is the outermost WHEN (a value
    // under several cutoffs must take the lowest decile)
    val bucket = (9 to 1 by -1).foldLeft(lit(10L)) { (acc, i) =>
      when($("revenue") <= col(s"c$i"), i.toLong).otherwise(acc)
    }
    val byDecile = per.crossJoin(broadcast(cuts))
      .withColumn("decile", bucket)
      .groupBy($("decile"))
      .agg(count(lit(1)).as("n_customers"),
        psum($("revenue")).as("revenue"))
    val total = byDecile.agg(sum($("revenue").cast(DecimalType(18, 6))).cast("double").as("tot"))
    val w = Window.orderBy($("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile.crossJoin(broadcast(total))
      .withColumn("share_r", r6($("revenue") / $("tot")))
      .withColumn("cum_rev",
        sum($("revenue").cast(DecimalType(18, 6))).over(w).cast("double"))
      .select($("decile"), $("n_customers"), $("revenue"), $("share_r"),
        r6($("cum_rev") / $("tot")).as("cum_share_r"))
      .orderBy($("decile"))
  }

  /** B45: NOT IN — the null-aware anti join, a physical operator B7's
    * NOT EXISTS form never exercises: under SQL's three-valued logic a
    * single NULL in the subquery makes every NOT IN row UNKNOWN
    * (result: empty), so Spark plans a dedicated null-aware
    * BroadcastHashJoin instead of a plain anti join whenever it can't
    * prove the subquery column non-null (parquet columns are nullable
    * by schema, so it can't here). Expressed via spark.sql because the
    * DataFrame API has no NOT IN form — exactly the case the SQL
    * entrance exists for. Scale: the subquery side must broadcast (a
    * NAAJ can't shuffle — any partition might hold the poisoning
    * NULL); keep it a filtered dimension, as here.
    */
  def qNotIn(t: Tables): DataFrame = {
    val spark = t.spark
    t.orders.createOrReplaceTempView("graft_b45_orders")
    t.customer.createOrReplaceTempView("graft_b45_customer")
    spark.sql(
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM graft_b45_orders
        |WHERE o_custkey NOT IN
        |  (SELECT c_custkey FROM graft_b45_customer WHERE c_acctbal < 0)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)
  }

  /** B8: per-group top-k — 2 highest-value orders per priority class. */
  def qTopkPerGroup(t: Tables): DataFrame = {
    val w = Window.partitionBy($("o_orderpriority"))
      .orderBy($("o_totalprice").desc, $("o_orderkey").asc)
    t.orders
      .select($("o_orderpriority"), $("o_orderkey"), $("o_totalprice"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter($("rnk") <= 2)
      .orderBy($("o_orderpriority"), $("rnk"))
  }

  /** A87: per-event-type VALUE quantiles via the portable bottom-k
    * row sample — the batch counterpart A85's stream equals
    * bit-for-bit (same aggregator, same "qsample:"+event_id hash);
    * B62's pattern pointed at the events measure. One
    * map-side-combined aggregate, ≤k pairs per (type, partition) on
    * the shuffle.
    */
  def evValueQuantileSample(t: Tables, k: Int = 256): DataFrame = {
    val bks = udaf(graft.functions.BottomKSample(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble))
    val pick = (sv: Column, m: Column, p: Double) =>
      element_at(sv, (floor(lit(p) * (m - 1).cast("double") + 0.5) + 1)
        .cast("int"))
    t.events
      .select($("event_type"),
        graft.functions.Hashing.md5_60(concat(lit("qsample:"),
          $("event_id").cast("string"))).as("hv"),
        $("value").as("x"))
      .groupBy($("event_type"))
      .agg(count(lit(1)).as("n_events"), bks($("hv"), $("x")).as("sample"))
      .select($("event_type"), $("n_events"),
        size($("sample")).cast("long").as("n_sample"),
        sort_array($("sample")).as("sv"))
      .select($("event_type"), $("n_events"), $("n_sample"),
        pick($("sv"), $("n_sample"), 0.25).as("q25"),
        pick($("sv"), $("n_sample"), 0.50).as("q50"),
        pick($("sv"), $("n_sample"), 0.75).as("q75"),
        pick($("sv"), $("n_sample"), 0.90).as("q90"))
  }

  /** A88: per-event-type top-k events by value via the bounded
    * aggregator — A86's batch counterpart (the stream equals this
    * bit-for-bit); B63's pattern on the events measure.
    */
  def evTopkByValue(t: Tables, k: Int = 3): DataFrame = {
    val topk = udaf(graft.functions.TopKRows(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))
    t.events
      .groupBy($("event_type"))
      .agg(topk($("value"), $("event_id")).as("top"))
      .select($("event_type"), posexplode($("top")).as(Seq("i", "p")))
      .select($("event_type"), ($("i") + 1).cast("long").as("rnk"),
        $("p").getField("_2").as("event_id"),
        $("p").getField("_1").as("value"))
  }

  /** B63: EXACT top-k per group via the bounded [[graft.functions.TopKRows]]
    * Aggregator — B8's result computed the way it survives 100 TB:
    * the rank window shuffles and sorts EVERY group row on one
    * reducer, while the aggregator's ≤k-pair state merges MAP-SIDE,
    * so the shuffle carries at most k pairs per (group, partition) —
    * TakeOrderedAndProject's partial-top-k idea, per group. Result is
    * exact; the oracle is the plain rank window, and the spec pins
    * aggregator ≡ window row-for-row.
    */
  def qTopkSketch(t: Tables, k: Int = 3): DataFrame = {
    val topk = udaf(graft.functions.TopKRows(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))
    t.orders
      .select($("o_orderpriority"), $("o_totalprice"), $("o_orderkey"))
      .groupBy($("o_orderpriority"))
      .agg(topk($("o_totalprice"), $("o_orderkey")).as("top"))
      .select($("o_orderpriority"), posexplode($("top")).as(Seq("i", "p")))
      .select($("o_orderpriority"),
        $("p").getField("_2").as("o_orderkey"),
        $("p").getField("_1").as("o_totalprice"),
        ($("i") + 1).cast("long").as("rnk"))
      .orderBy($("o_orderpriority"), $("rnk"))
  }

  /** B9: pivot / conditional aggregation — revenue by nation × order
    * status (statuses pinned so the plan is static, as a real pivot
    * would resolve them).
    */
  def qPivot(t: Tables): DataFrame = {
    val ord = t.orders.select($("o_orderkey"), $("o_custkey"), $("o_orderstatus"), $("o_totalprice"))
    val cust = t.customer.select($("c_custkey"), $("c_nationkey"))
    val nat = t.nation.select($("n_nationkey"), $("n_name"))
    def bucket(status: String): Column =
      sum(when($("o_orderstatus") === status, $("o_totalprice")).otherwise(lit(0.0))
        .cast(DecimalType(18, 6))).cast("double")
    ord.join(broadcast(cust), $("o_custkey") === $("c_custkey"))
      .join(broadcast(nat), $("c_nationkey") === $("n_nationkey"))
      .groupBy($("n_name"))
      .agg(
        bucket("O").as("open_total"),
        bucket("F").as("filled_total"),
        bucket("P").as("partial_total"),
        count(lit(1)).as("n_orders"))
      .orderBy($("n_name"))
  }

  /** B10: numeric binning histogram of order totals (10k-wide bins). */
  def qHistogram(t: Tables): DataFrame =
    t.orders
      .select(floor($("o_totalprice") / 10000.0).cast("long").as("bin"))
      .groupBy($("bin"))
      .agg(count(lit(1)).as("n"))
      .orderBy($("bin"))

  /** B43: 2-D histogram — the (month × price-band) heatmap B10 is the
    * marginal of: one aggregate over two computed bins (group
    * cardinality #months × #bands — tiny, map-side combined), with
    * each cell's count and exact decimal-routed revenue. The BI
    * drill-down relation: the dashboard reads it directly instead of
    * re-scanning orders per cell.
    */
  def qHistogram2d(t: Tables): DataFrame =
    t.orders
      .select(date_trunc("month", $("o_orderdate")).as("month"),
        floor($("o_totalprice") / 25000.0).cast("long").as("price_bin"),
        $("o_totalprice"))
      .groupBy($("month"), $("price_bin"))
      .agg(count(lit(1)).as("n"), psum($("o_totalprice")).as("revenue"))
      .orderBy($("month"), $("price_bin"))

  /** B44: skew-salted enrichment join — attaches each user's order
    * count to their event stream through plans.SaltedJoin (salt
    * factor 8), then rolls up per type. The postings side
    * (per-user order counts) is the medium relation of the salting
    * pattern: too big to broadcast at 100 TB, cheap to replicate 8×;
    * a power-law hot user's events spread over 8 reducers instead of
    * stalling one. Result is row-identical to the plain key join
    * (SaltedJoinSpec law + this oracle, which IS the plain join).
    */
  def qSkewSaltedJoin(t: Tables, saltFactor: Int = 8): DataFrame = {
    val userOrders = t.orders.groupBy($("o_custkey")).agg(count(lit(1)).as("o_count"))
    val ev = t.events.select($("event_type"), $("user_id"))
    graft.plans.SaltedJoin.saltedJoin(ev, userOrders, "user_id", "o_custkey", saltFactor)
      .groupBy($("event_type"))
      .agg(count(lit(1)).as("n_events"), sum($("o_count")).as("orders_weight"))
      .orderBy($("event_type"))
  }

  /** B11: exact interpolated percentiles per group (matches DuckDB
    * quantile_cont; rounded to 4dp to absorb interpolation-form ulps).
    */
  def qPercentiles(t: Tables): DataFrame =
    t.orders
      .select($("o_orderpriority"), $("o_totalprice"))
      .groupBy($("o_orderpriority"))
      .agg(
        r4(expr("percentile(o_totalprice, 0.25)")).as("p25"),
        r4(expr("percentile(o_totalprice, 0.5)")).as("p50"),
        r4(expr("percentile(o_totalprice, 0.9)")).as("p90"),
        count(lit(1)).as("n"))
      .orderBy($("o_orderpriority"))

  /** B24: approximate percentiles — the 100 TB path for B11: exact
    * `percentile` buffers and sorts every group's values; the
    * Greenwald–Khanna sketch behind `approx_percentile` is fixed-size
    * per partition and map-side merged, trading a bounded RANK error
    * (≤ n/accuracy) for the sort. Rows-only gate (approximate by
    * construction); SketchSpec pins the rank-error bound against the
    * exact values.
    */
  def qApproxPercentiles(t: Tables, accuracy: Int = 1000): DataFrame =
    t.orders
      .select($("o_orderpriority"), $("o_totalprice"))
      .groupBy($("o_orderpriority"))
      .agg(
        expr(s"approx_percentile(o_totalprice, array(0.25D, 0.5D, 0.9D), $accuracy)")
          .as("aps"),
        count(lit(1)).as("n"))
      .select($("o_orderpriority"),
        r4(element_at($("aps"), 1)).as("p25_a"),
        r4(element_at($("aps"), 2)).as("p50_a"),
        r4(element_at($("aps"), 3)).as("p90_a"),
        $("n"))
      .orderBy($("o_orderpriority"))

  /** B12: sketch aggregates — HyperLogLog++ distinct counts (no SQL
    * oracle: approximate; DedupSpec-style error-bound spec instead).
    * At 100 TB this replaces exact distinct's full shuffle with a
    * mergeable fixed-size sketch per partition.
    */
  def qApproxDistinct(t: Tables): DataFrame =
    t.lineitem
      .select($("l_returnflag"), $("l_orderkey"), $("l_partkey"))
      .groupBy($("l_returnflag"))
      .agg(
        approx_count_distinct($("l_orderkey"), 0.02).as("approx_orders"),
        approx_count_distinct($("l_partkey"), 0.02).as("approx_parts"),
        count(lit(1)).as("n"))
      .orderBy($("l_returnflag"))

  /** B13: CUBE — all grouping-set combinations. */
  def qCube(t: Tables): DataFrame =
    t.orders
      .select($("o_orderstatus"), $("o_orderpriority"), $("o_totalprice"))
      .cube($("o_orderstatus"), $("o_orderpriority"))
      .agg(psum($("o_totalprice")).as("total"), count(lit(1)).as("n"))
      .orderBy($("o_orderstatus").asc_nulls_first, $("o_orderpriority").asc_nulls_first)

  /** B25: explicit GROUPING SETS — the mixed-dimension report neither
    * ROLLUP nor CUBE expresses: per (returnflag, linestatus), per
    * shipmode, and the grand total, in ONE pass. Catalyst expands the
    * three sets under a single Expand + one aggregate — one corpus
    * scan and one shuffle, where the naive form is three scans
    * unioned. grouping_id() tags which set each output row belongs to
    * (bit per grouping column, 1 = aggregated away — the same
    * most-significant-first convention in both engines).
    */
  def qGroupingSets(t: Tables): DataFrame =
    t.lineitem
      .select($("l_returnflag"), $("l_linestatus"),
        year($("l_shipdate")).cast("long").as("ship_year"), $("l_quantity"))
      .groupingSets(
        Seq(Seq($("l_returnflag"), $("l_linestatus")), Seq(col("ship_year")), Seq.empty),
        $("l_returnflag"), $("l_linestatus"), col("ship_year"))
      .agg(psum($("l_quantity")).as("sum_qty"), count(lit(1)).as("n"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), $("l_returnflag").asc_nulls_first,
        $("l_linestatus").asc_nulls_first, col("ship_year").asc_nulls_first)

  /** B14: skew-safe exact distinct — two-phase: dedupe on (key, value)
    * first (spreads a hot key's values over the cluster), then count
    * per key. Identical result to COUNT(DISTINCT), but the second
    * shuffle carries one row per distinct pair instead of funneling
    * every raw row of a hot key through one reducer's hash set.
    */
  def qDistinctSkewsafe(t: Tables): DataFrame =
    t.events
      .select($("event_type"), $("user_id"))
      .distinct()
      .groupBy($("event_type"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy($("event_type"))

  /** B15: large-volume orders (TPC-H Q18 shape) — HAVING-filtered agg
    * joined back to dimensions; the agg-side filter runs before the
    * joins so only qualifying orders move.
    */
  def qLargeVolume(t: Tables): DataFrame = {
    val big = t.lineitem
      .select($("l_orderkey"), $("l_quantity"))
      .groupBy($("l_orderkey"))
      .agg(psum($("l_quantity")).as("sum_qty"))
      .filter($("sum_qty") > 300.0)
    big
      .join(t.orders.select($("o_orderkey"), $("o_custkey"), $("o_orderdate"), $("o_totalprice")),
        $("l_orderkey") === $("o_orderkey"))
      .join(broadcast(t.customer.select($("c_custkey"), $("c_name"))),
        $("o_custkey") === $("c_custkey"))
      .select($("c_name"), $("o_orderkey"), $("o_orderdate"), $("o_totalprice"), $("sum_qty"))
      .orderBy($("o_totalprice").desc, $("o_orderkey").asc)
      .limit(20)
  }

  /** B16: column profiling — per-column stats in one relation (the
    * data-quality sweep a pipeline runs before training ingestion).
    * ONE aggregate over ONE scan (all columns' stats side by side,
    * unpivoted by a stack over the single result row) — the unioned
    * per-column formulation reads the table once per column, which at
    * 100 TB is once per column too many. The multi-distinct aggregate
    * plans as one Expand(×columns) pass — rows×columns expansion on one
    * scan beats columns full scans, and the oracle stays the same.
    */
  def qProfile(t: Tables): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val li = t.lineitem.select(cols.map($): _*)
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
      count($(c)).as(s"${c}_nonnull"),
      countDistinct($(c)).as(s"${c}_distinct"),
      min($(c)).cast("double").as(s"${c}_min"),
      max($(c)).cast("double").as(s"${c}_max"),
      psum($(c)).as(s"${c}_sum")))
    li.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"""stack(${cols.length}, ${cols.map(c =>
          s"'$c', n_rows, ${c}_nonnull, ${c}_distinct, ${c}_min, ${c}_max, ${c}_sum")
        .mkString(", ")}) AS (column, n, n_nonnull, n_distinct, min_val, max_val, sum_val)"""))
      .orderBy($("column"))
  }

  /** B17: rolling 7-day revenue per customer — RANGE window frame over
    * event-time (epoch seconds on both engines for identical frame
    * semantics). Partitioned by the high-cardinality key.
    */
  def qRollingWindow(t: Tables): DataFrame = {
    val w = Window.partitionBy($("o_custkey"))
      .orderBy(unix_timestamp($("o_orderdate")))
      .rangeBetween(-7L * 86400, 0)
    t.orders
      .select($("o_custkey"), $("o_orderkey"), $("o_orderdate"), $("o_totalprice"))
      .withColumn("rolling_total",
        sum($("o_totalprice").cast(DecimalType(18, 6))).over(w).cast("double"))
      .filter($("o_custkey") <= 50)
      .orderBy($("o_custkey"), $("o_orderdate"), $("o_orderkey"))
  }

  /** B18: month-over-month revenue trend — aggregate series + lag +
    * deterministic pct-change (div of identical doubles both engines).
    */
  def qMonthTrend(t: Tables): DataFrame = {
    val w = Window.orderBy($("month"))
    t.orders
      .select(date_trunc("month", $("o_orderdate")).as("month"), $("o_totalprice"))
      .groupBy($("month"))
      .agg(psum($("o_totalprice")).as("revenue"))
      .withColumn("prev_revenue", lag($("revenue"), 1).over(w))
      .withColumn("pct_change",
        when($("prev_revenue").isNotNull,
          r6(($("revenue") - $("prev_revenue")) / $("prev_revenue") * 100.0)))
      .orderBy($("month"))
  }

  /** B19: correlated-aggregate subquery (TPC-H Q17 shape): lineitems
    * whose quantity is below 20% of their part's average, total
    * extendedprice / 7. Expressed directly in the decorrelated form
    * (per-part aggregate joined back — what Catalyst's decorrelation
    * produces from the subquery formulation). The threshold rides the
    * same decimal-sum/double-count average convention as B1, so the
    * boundary comparison is bit-identical on both engines.
    *
    * Scale shape: the per-part aggregate and the join both hash on
    * l_partkey — one shuffled relation, map-side partial aggregation,
    * and the final agg is a single-row reduce.
    */
  def qBelowAvg(t: Tables): DataFrame = {
    val avgq = t.lineitem
      .select($("l_partkey"), $("l_quantity"))
      .groupBy($("l_partkey"))
      .agg((psum($("l_quantity")) / count(lit(1)).cast("double")).as("avg_qty"))
    t.lineitem
      .select($("l_partkey"), $("l_quantity"), $("l_extendedprice"))
      .join(avgq, "l_partkey")
      .filter($("l_quantity") < lit(0.2) * $("avg_qty"))
      .agg((psum($("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
  }

  /** B20: set operators — UNION / INTERSECT / EXCEPT over the distinct
    * buyer sets of two years. Spark plans Intersect/Except as
    * left-semi/left-anti joins over hash-distinct inputs: no sort,
    * everything hash-partitioned on the key; the three single-row
    * counts combine via broadcast cross joins.
    *
    * This query exists to exercise the set-OPERATOR plans; the three
    * branches don't share exchanges (fresh expr ids per branch), so
    * the fact table is scanned once per side per op. A deploy pipeline
    * computing all three cardinalities together would use the
    * one-scan flag-aggregate rewrite instead — groupBy(key) with
    * has_y1/has_y2 max-flags, then conditional counts: one scan, one
    * shuffle, same numbers.
    */
  def qSetOps(t: Tables, y1: Int = 1995, y2: Int = 1996): DataFrame = {
    def buyers(y: Int) = t.orders
      .select($("o_custkey"), $("o_orderdate"))
      .filter(year($("o_orderdate")) === y)
      .select($("o_custkey"))
      .distinct()
    val (b1, b2) = (buyers(y1), buyers(y2))
    b1.union(b2).distinct().agg(count(lit(1)).as("n_union"))
      .crossJoin(b1.intersect(b2).agg(count(lit(1)).as("n_intersect")))
      .crossJoin(b1.except(b2).agg(count(lit(1)).as("n_only_first")))
  }

  /** B21: count-min heavy hitters — the exact top-k keys side-by-side
    * with their count-min sketch estimates (functions/CountMin.scala):
    * the CMS analog of B12's HLL. At 100 TB the sketch pass is the
    * one that matters — a constant 16 KiB buffer per partition merged
    * map-side (no keyspace shuffle) answers "how hot is key X" for ANY
    * key; the exact top-k here is the verification side of the pair
    * (its per-key shuffle is what the sketch avoids). No SQL oracle
    * (sketch geometry isn't DuckDB-expressible) — min-over-rows ≥
    * exact, per-row mass, and planted-heavy-hitter laws in SketchSpec.
    */
  def qHeavyHittersCms(t: Tables, k: Int = 20): DataFrame = {
    import graft.functions.{CountMin, CountMinAgg}
    val spark = t.spark
    import spark.implicits._
    val key = $("user_id").cast("string")
    val sketch = t.events
      .select(CountMin.positions(key).as("pos"))
      .as[Array[Long]]
      .select(new CountMinAgg(CountMin.D, CountMin.W).toColumn)
      .toDF("sketch")
    val topk = t.events
      .groupBy($("user_id")).agg(count(lit(1)).as("n_events"))
      .orderBy($("n_events").desc, $("user_id").asc).limit(k) // TakeOrdered
    topk.crossJoin(broadcast(sketch))
      .select($("user_id"), $("n_events"),
        CountMin.estimate($("sketch"), $("user_id").cast("string")).as("cms_est"))
      .withColumn("overcount", $("cms_est") - $("n_events"))
      .orderBy($("n_events").desc, $("user_id").asc)
  }

  /** B22: per-group Pearson correlation + population covariance
    * (quantity vs extended price) in the moment form: ONE scan
    * collects n, Σx, Σy, Σxy, Σx², Σy² — each moment decimal-cast
    * before SUM so the aggregate is order-independent and exact —
    * and the closed-form corr/cov math runs in double over the tiny
    * per-group relation. The built-in corr()/covar_pop() aggregates
    * sum doubles in partition order (bits depend on partitioning, so
    * they can't be oracle-hashed); the moment form is bit-portable
    * AND the shape that scales: six map-side-combined partial sums
    * riding B1's single #groups-row shuffle. Squared terms use
    * DECIMAL(28,6) — price² ~1e10/row overflows the 12 integer
    * digits of the repo-standard (18,6) at sf≥0.1 row counts.
    */
  def qCorr(t: Tables): DataFrame = {
    def m(c: Column): Column = sum(c.cast(DecimalType(28, 6))).cast("double")
    val nD = $("n").cast("double")
    t.lineitem
      .select($("l_returnflag"), $("l_quantity"), $("l_extendedprice"))
      .groupBy($("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        m($("l_quantity")).as("sx"),
        m($("l_extendedprice")).as("sy"),
        m($("l_quantity") * $("l_extendedprice")).as("sxy"),
        m($("l_quantity") * $("l_quantity")).as("sxx"),
        m($("l_extendedprice") * $("l_extendedprice")).as("syy"))
      .select($("l_returnflag"), $("n"),
        r6(($("sxy") - $("sx") * $("sy") / nD) / nD).as("covar_pop_r"),
        // correlation is undefined for a constant column: guard both
        // variance terms so a degenerate group yields NULL on both
        // engines instead of engine-specific 0-division behavior
        when(($("sxx") - $("sx") * $("sx") / nD) > 0 &&
             ($("syy") - $("sy") * $("sy") / nD) > 0,
          r6(($("sxy") - $("sx") * $("sy") / nD) /
            (sqrt($("sxx") - $("sx") * $("sx") / nD) *
              sqrt($("syy") - $("sy") * $("sy") / nD)))).as("corr_r"))
      .orderBy($("l_returnflag"))
  }

  /** B23: per-group OLS regression — slope/intercept/R² of
    * extendedprice on quantity per returnflag, from the SAME six
    * map-side-combined moment sums as B22 (one #groups-row shuffle;
    * the moment form is the shape that scales AND the bit-portable
    * one — see qCorr). Degenerate groups (zero x-variance) yield NULL
    * slope/intercept/R² on both engines rather than engine-specific
    * zero-division behavior.
    */
  def qRegr(t: Tables): DataFrame = {
    def m(c: Column): Column = sum(c.cast(DecimalType(28, 6))).cast("double")
    val nD = $("n").cast("double")
    val sxx = $("sxx") - $("sx") * $("sx") / nD
    val syy = $("syy") - $("sy") * $("sy") / nD
    val sxy = $("sxy") - $("sx") * $("sy") / nD
    val slope = sxy / sxx
    t.lineitem
      .select($("l_returnflag"), $("l_quantity"), $("l_extendedprice"))
      .groupBy($("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        m($("l_quantity")).as("sx"),
        m($("l_extendedprice")).as("sy"),
        m($("l_quantity") * $("l_extendedprice")).as("sxy"),
        m($("l_quantity") * $("l_quantity")).as("sxx"),
        m($("l_extendedprice") * $("l_extendedprice")).as("syy"))
      .select($("l_returnflag"), $("n"),
        when(sxx > 0, r6(slope)).as("slope_r"),
        when(sxx > 0, r6(($("sy") - slope * $("sx")) / nD)).as("intercept_r"),
        when(sxx > 0 && syy > 0, r6(sxy * sxy / (sxx * syy))).as("r2_r"))
      .orderBy($("l_returnflag"))
  }

  /** B26: order-priority counts over a semi-join (TPC-H Q4 shape) —
    * orders in a 6-month window that have at least one RETURNED line.
    * EXISTS is a left-semi hash join on orderkey (never a count-then-
    * filter over the exploded join): the lineitem side is pre-filtered
    * to returned lines so the semi build is a fraction of the fact.
    */
  def qOrderPrioritySemi(t: Tables): DataFrame = {
    val ord = t.orders
      .select($("o_orderkey"), $("o_orderpriority"), $("o_orderdate"))
      .filter($("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
      .filter($("o_orderdate") < lit("1997-07-01").cast("timestamp"))
    val returned = t.lineitem.select($("l_orderkey"))
      .filter($("l_returnflag") === "R")
    ord.join(returned, $("o_orderkey") === $("l_orderkey"), "left_semi")
      .groupBy($("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($("o_orderpriority"))
  }

  /** B27: bilateral trade volume (TPC-H Q7 shape) — revenue between
    * every (supplier nation → customer nation) pair per ship year.
    * Both nation joins ride broadcast dims onto the one fact-fact
    * lineitem⋈orders shuffle; output is #nations² × #years rows.
    */
  def qNationTrade(t: Tables): DataFrame = {
    val supNat = t.supplier.select($("s_suppkey"), $("s_nationkey"))
      .join(broadcast(t.nation.select($("n_nationkey"), $("n_name"))),
        $("s_nationkey") === $("n_nationkey"))
      .select($("s_suppkey"), $("n_name").as("supp_nation"))
    val custNat = t.customer.select($("c_custkey"), $("c_nationkey"))
      .join(broadcast(t.nation.select($("n_nationkey"), $("n_name"))),
        $("c_nationkey") === $("n_nationkey"))
      .select($("c_custkey"), $("n_name").as("cust_nation"))
    t.lineitem
      .select($("l_orderkey"), $("l_suppkey"), $("l_extendedprice"), $("l_discount"), $("l_shipdate"))
      .join(t.orders.select($("o_orderkey"), $("o_custkey")),
        $("l_orderkey") === $("o_orderkey"))
      .join(broadcast(supNat), $("l_suppkey") === $("s_suppkey"))
      .join(broadcast(custNat), $("o_custkey") === $("c_custkey"))
      .filter($("supp_nation") =!= $("cust_nation"))
      .groupBy($("supp_nation"), $("cust_nation"),
        year($("l_shipdate")).cast("long").as("l_year"))
      .agg(psum($("l_extendedprice") * (lit(1.0) - $("l_discount"))).as("revenue"))
      .orderBy($("supp_nation"), $("cust_nation"), $("l_year"))
  }

  /** B28: returned-item revenue report (TPC-H Q10 shape) — top 20
    * customers by revenue lost to returns in one quarter. The order
    * filter prunes the fact join; customer/nation broadcast onto the
    * aggregated relation; final top-N is TakeOrderedAndProject.
    */
  def qReturnedRevenue(t: Tables): DataFrame = {
    val ord = t.orders.select($("o_orderkey"), $("o_custkey"), $("o_orderdate"))
      .filter($("o_orderdate") >= lit("1996-10-01").cast("timestamp"))
      .filter($("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val li = t.lineitem
      .select($("l_orderkey"), $("l_extendedprice"), $("l_discount"), $("l_returnflag"))
      .filter($("l_returnflag") === "R")
    val rev = li.join(ord, $("l_orderkey") === $("o_orderkey"))
      .groupBy($("o_custkey"))
      .agg(psum($("l_extendedprice") * (lit(1.0) - $("l_discount"))).as("revenue"))
    rev.join(broadcast(t.customer.select($("c_custkey"), $("c_name"), $("c_nationkey"), $("c_acctbal"))),
        $("o_custkey") === $("c_custkey"))
      .join(broadcast(t.nation.select($("n_nationkey"), $("n_name"))),
        $("c_nationkey") === $("n_nationkey"))
      .select($("c_custkey"), $("c_name"), $("n_name"), $("c_acctbal"), $("revenue"))
      .orderBy($("revenue").desc, $("c_custkey").asc)
      .limit(20)
  }

  /** B29: late-shipment priority split (TPC-H Q12 shape) — among lines
    * shipped >90 days after their order date, high- vs low-priority
    * order counts per linestatus. One fact-fact join; the CASE counts
    * are map-side-combined conditional sums.
    */
  def qLateLines(t: Tables): DataFrame = {
    val hi = $("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t.lineitem.select($("l_orderkey"), $("l_linestatus"), $("l_shipdate"))
      .join(t.orders.select($("o_orderkey"), $("o_orderdate"), $("o_orderpriority")),
        $("l_orderkey") === $("o_orderkey"))
      .filter($("l_shipdate") > $("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy($("l_linestatus"))
      .agg(
        sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy($("l_linestatus"))
  }

  /** B30: customer order-count distribution (TPC-H Q13 shape) — LEFT
    * OUTER join so order-less customers land in the 0 bucket, then a
    * second #distinct-counts-key aggregate. The first aggregate keys on
    * custkey (high cardinality — scales); the second is tiny.
    */
  def qCustOrderDist(t: Tables): DataFrame = {
    val ord = t.orders.select($("o_orderkey"), $("o_custkey"), $("o_orderpriority"))
      .filter($("o_orderpriority") =!= "5-LOW")
    t.customer.select($("c_custkey"))
      .join(ord, $("c_custkey") === $("o_custkey"), "left_outer")
      .groupBy($("c_custkey"))
      .agg(count($("o_orderkey")).as("c_count"))
      .groupBy($("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy($("custdist").desc, $("c_count").desc)
  }

  /** B31: promo revenue share per month (TPC-H Q14 shape) — part is a
    * broadcast dim; numerator and denominator are decimal conditional
    * sums off the same aggregate (one scan, one #months-key shuffle),
    * ratio rounded with the shared r6 convention.
    */
  def qPromoShare(t: Tables): DataFrame = {
    val rev = $("l_extendedprice") * (lit(1.0) - $("l_discount"))
    t.lineitem
      .select($("l_partkey"), $("l_extendedprice"), $("l_discount"), $("l_shipdate"))
      .join(broadcast(t.part.select($("p_partkey"), $("p_type"))),
        $("l_partkey") === $("p_partkey"))
      .groupBy(date_format($("l_shipdate"), "yyyy-MM").as("month"))
      .agg(
        psum(when($("p_type") === "PROMO", rev).otherwise(lit(0.0))).as("promo_rev"),
        psum(rev).as("total_rev"))
      .select($("month"), $("promo_rev"), $("total_rev"),
        r6(lit(100.0) * $("promo_rev") / $("total_rev")).as("promo_pct_r"))
      .orderBy($("month"))
  }

  /** B32: disjunctive-predicate revenue (TPC-H Q19 shape) — an OR of
    * brand/size/quantity conjunctions. Expressed as one declarative
    * filter over the broadcast part join so Catalyst pushes the
    * common-column conjuncts (p_size ≥ 1, quantity bounds) below the
    * join and prunes part columns at the scan.
    */
  def qDisjunctivePred(t: Tables): DataFrame = {
    val j = t.lineitem
      .select($("l_partkey"), $("l_quantity"), $("l_extendedprice"), $("l_discount"))
      .join(broadcast(t.part.select($("p_partkey"), $("p_brand"), $("p_size"))),
        $("l_partkey") === $("p_partkey"))
    val pred =
      ($("p_brand") === "Brand#1" && $("p_size").between(1, 10) && $("l_quantity").between(1, 20)) ||
      ($("p_brand") === "Brand#2" && $("p_size").between(5, 20) && $("l_quantity").between(10, 30)) ||
      ($("p_brand") === "Brand#3" && $("p_size").between(10, 30) && $("l_quantity").between(20, 40))
    j.filter(pred)
      .agg(psum($("l_extendedprice") * (lit(1.0) - $("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** B33: sole late supplier (TPC-H Q21 shape, aggregation form) —
    * orders with ≥2 suppliers where EXACTLY ONE supplier shipped late;
    * count offending orders per supplier. The classic formulation is a
    * double correlated EXISTS/NOT EXISTS self-join; this decorrelated
    * form gets the same relation from ONE orderkey-keyed aggregate
    * (distinct suppliers vs distinct late suppliers per order — with
    * exactly one late supplier, max(late suppkey) IS that supplier),
    * then a tiny supplier rollup. One fact-fact join + one fact-keyed
    * aggregate — no self-join of lineitem with itself.
    */
  def qSoleLateSupplier(t: Tables): DataFrame = {
    val late = $("l_shipdate") > $("o_orderdate") + expr("INTERVAL 90 DAYS")
    // two-level aggregate instead of two COUNT(DISTINCT ...): multiple
    // distinct aggregates plan as a ×3 Expand of the joined fact — the
    // (orderkey, suppkey) pre-aggregate gets the same distinct
    // semantics from one map-side-combined shuffle, and the second
    // aggregate runs on the already-collapsed pair relation
    val perOrder = t.lineitem
      .select($("l_orderkey"), $("l_suppkey"), $("l_shipdate"))
      .join(t.orders.select($("o_orderkey"), $("o_orderdate")),
        $("l_orderkey") === $("o_orderkey"))
      .groupBy($("l_orderkey"), $("l_suppkey"))
      .agg(max(late.cast("int")).as("supp_late"))
      .groupBy($("l_orderkey"))
      .agg(
        count(lit(1)).as("n_supp"),
        sum($("supp_late")).as("n_late_supp"),
        max(when($("supp_late") === 1, $("l_suppkey"))).as("late_supp"))
      .filter($("n_supp") >= 2 && $("n_late_supp") === 1)
    perOrder
      .groupBy($("late_supp"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(t.supplier.select($("s_suppkey"), $("s_name"))),
        $("late_supp") === $("s_suppkey"))
      .select($("s_name"), $("numwait"))
      .orderBy($("numwait").desc, $("s_name").asc)
      .limit(10)
  }

  /** B37: FULL OUTER join (the one join type B7/B30 don't cover) —
    * year-over-year customer presence: per-customer 1995 vs 1996 order
    * counts full-outer-joined on custkey (high-cardinality key), then
    * a tiny presence-class rollup (both / only-1995 / only-1996).
    */
  def qFullOuter(t: Tables): DataFrame = {
    def yearCounts(y: Int, alias: String) = t.orders
      .select($("o_custkey"), $("o_orderdate"))
      .filter(year($("o_orderdate")) === y)
      .groupBy($("o_custkey")).agg(count(lit(1)).as(alias))
    val a = yearCounts(1995, "n95").withColumnRenamed("o_custkey", "ck_a")
    val b = yearCounts(1996, "n96").withColumnRenamed("o_custkey", "ck_b")
    a.join(b, $("ck_a") === $("ck_b"), "full_outer")
      .select(
        when($("ck_a").isNotNull && $("ck_b").isNotNull, "both")
          .when($("ck_a").isNotNull, "only_1995").otherwise("only_1996").as("presence"),
        coalesce($("n95"), lit(0L)).as("n95"),
        coalesce($("n96"), lit(0L)).as("n96"))
      .groupBy($("presence"))
      .agg(count(lit(1)).as("n_cust"),
        sum($("n95")).as("orders_1995"), sum($("n96")).as("orders_1996"))
      .orderBy($("presence"))
  }

  /** B36: window-function surface — ntile quartiles, percent_rank, and
    * first_value over each customer's chronological order sequence
    * (B4 covers row_number/running sums; this pins the rank-family
    * semantics incl. the n=1 percent_rank=0 edge). Window keys on
    * custkey — high cardinality, never a low-cardinality partition.
    * Output bounded at 2 rows/customer.
    */
  def qWindowFuncs(t: Tables): DataFrame = {
    val w = Window.partitionBy($("o_custkey")).orderBy($("o_orderdate"), $("o_orderkey"))
    t.orders
      .select($("o_custkey"), $("o_orderkey"), $("o_orderdate"), $("o_totalprice"))
      .withColumn("seq", row_number().over(w).cast("long"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank_r", r6(percent_rank().over(w)))
      .withColumn("first_price", first($("o_totalprice")).over(w))
      .filter($("seq") <= 2)
      .select($("o_custkey"), $("seq"), $("o_orderkey"), $("quartile"),
        $("pct_rank_r"), $("first_price"))
      .orderBy($("o_custkey"), $("seq"))
  }

  /** B35: fulfillment latency — order date → FIRST ship date, profiled
    * per priority (n, mean, exact p50/p90). The per-order min rides
    * one orderkey-keyed aggregate (high cardinality) before the join;
    * latency is exact integer days so the mean sum needs no decimal
    * routing; percentiles follow B11's exact-interpolated convention
    * (the B24 sketch is the 100 TB path).
    */
  def qShipLatency(t: Tables): DataFrame = {
    val firstShip = t.lineitem.select($("l_orderkey"), $("l_shipdate"))
      .groupBy($("l_orderkey")).agg(min($("l_shipdate")).as("first_ship"))
    t.orders.select($("o_orderkey"), $("o_orderdate"), $("o_orderpriority"))
      .join(firstShip, $("o_orderkey") === $("l_orderkey"))
      .withColumn("lat_days", datediff($("first_ship"), $("o_orderdate")).cast("long"))
      .groupBy($("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        r6(sum($("lat_days")).cast("double") / count(lit(1)).cast("double")).as("avg_days_r"),
        r4(expr("percentile(lat_days, 0.5)")).as("p50"),
        r4(expr("percentile(lat_days, 0.9)")).as("p90"))
      .orderBy($("o_orderpriority"))
  }

  /** B34: idle rich customers (TPC-H Q22 shape) — per market segment,
    * customers with above-average positive balance and NO orders. The
    * global average is a 1-row aggregate broadcast as a cross join;
    * "no orders" is a left-anti hash join on custkey.
    */
  def qIdleRichCustomers(t: Tables): DataFrame = {
    val avgBal = t.customer.select($("c_acctbal")).filter($("c_acctbal") > 0.0)
      .agg((psum($("c_acctbal")) / count(lit(1)).cast("double")).as("avg_bal"))
    t.customer.select($("c_custkey"), $("c_mktsegment"), $("c_acctbal"))
      .crossJoin(broadcast(avgBal))
      .filter($("c_acctbal") > $("avg_bal"))
      .join(t.orders.select($("o_custkey")), $("c_custkey") === $("o_custkey"), "left_anti")
      .groupBy($("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"), psum($("c_acctbal")).as("total_bal"))
      .orderBy($("c_mktsegment"))
  }

  /** B38: forecast-revenue delta (TPC-H Q6 shape) — single-table scan
    * with three conjunctive range predicates and one global sum. The
    * whole WHERE pushes to the parquet scan (`PushedFilters` carries
    * all three ranges); at 100 TB this is the canonical
    * min/max-statistics row-group skip: a year of shipdate out of
    * seven prunes ~6/7 of the row groups before any CPU runs.
    * Boundary constants are picked off the 0.01-grid (0.045/0.075) so
    * double-vs-decimal literal typing can't flip edge rows between
    * engines.
    */
  def qRevenueDelta(t: Tables): DataFrame =
    t.lineitem
      .select($("l_extendedprice"), $("l_discount"), $("l_quantity"), $("l_shipdate"))
      .filter($("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        $("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        $("l_discount") >= 0.045 && $("l_discount") <= 0.075 &&
        $("l_quantity") < 24.0)
      .agg(psum($("l_extendedprice") * $("l_discount")).as("revenue"),
        count(lit(1)).as("n_lines"))

  /** B39: national market share (TPC-H Q8 shape) — the target nation's
    * share of a region's revenue for one product type, by order year.
    * All four dimension legs (part filtered to the type, supplier →
    * nation for the share flag, customer → nation → region for the
    * market filter) are broadcast; lineitem ⋈ orders is the only
    * shuffle. The share is a conditional-sum ratio inside one
    * aggregate — no second pass, no join of two aggregates.
    */
  def qMarketShare(t: Tables): DataFrame = {
    val prt = t.part.select($("p_partkey")).filter($("p_type") === "ECONOMY")
    val supNation = t.supplier.select($("s_suppkey"), $("s_nationkey"))
      .join(broadcast(t.nation.select($("n_nationkey"), $("n_name"))),
        $("s_nationkey") === $("n_nationkey"))
      .select($("s_suppkey"), $("n_name").as("supp_nation"))
    val custRegion = t.customer.select($("c_custkey"), $("c_nationkey"))
      .join(broadcast(t.nation.select($("n_nationkey"), $("n_regionkey"))),
        $("c_nationkey") === $("n_nationkey"))
      .join(broadcast(t.region.select($("r_regionkey"), $("r_name"))
        .filter($("r_name") === "EUROPE")), $("n_regionkey") === $("r_regionkey"))
      .select($("c_custkey"))
    val ord = t.orders.select($("o_orderkey"), $("o_custkey"), $("o_orderdate"))
      .filter($("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        $("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(custRegion), $("o_custkey") === $("c_custkey"))
    t.lineitem
      .select($("l_orderkey"), $("l_partkey"), $("l_suppkey"),
        $("l_extendedprice"), $("l_discount"))
      .join(broadcast(prt), $("l_partkey") === $("p_partkey"))
      .join(broadcast(supNation), $("l_suppkey") === $("s_suppkey"))
      .join(ord, $("l_orderkey") === $("o_orderkey"))
      .withColumn("vol", $("l_extendedprice") * (lit(1.0) - $("l_discount")))
      .groupBy(year($("o_orderdate")).cast("long").as("o_year"))
      .agg(
        psum(when($("supp_nation") === "NATION_3", $("vol")).otherwise(0.0)).as("nation_rev"),
        psum($("vol")).as("total_rev"))
      .withColumn("mkt_share_r", r6($("nation_rev") / $("total_rev")))
      .orderBy($("o_year"))
  }

  /** B40: top supplier by quarterly revenue (TPC-H Q15 shape) — the
    * per-supplier revenue aggregate reused twice: once for its global
    * max (1 row, broadcast back) and once as the join probe. The
    * window-over-empty-partition alternative (`max() OVER ()`) funnels
    * every supplier row through one partition — the 1-row-aggregate
    * broadcast join is the shape that survives a 1000-executor fleet.
    */
  def qTopSupplier(t: Tables): DataFrame = {
    val rev = t.lineitem
      .select($("l_suppkey"), $("l_extendedprice"), $("l_discount"), $("l_shipdate"))
      .filter($("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        $("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy($("l_suppkey"))
      .agg(psum($("l_extendedprice") * (lit(1.0) - $("l_discount"))).as("total_rev"))
    val maxRev = rev.agg(max($("total_rev")).as("max_rev"))
    rev.crossJoin(broadcast(maxRev))
      .filter($("total_rev") === $("max_rev"))
      .join(broadcast(t.supplier.select($("s_suppkey"), $("s_name"))),
        $("l_suppkey") === $("s_suppkey"))
      .select($("s_suppkey"), $("s_name"), $("total_rev"))
      .orderBy($("s_suppkey"))
  }

  /** B41: small-quantity-order revenue (TPC-H Q17 shape) — lines whose
    * quantity is under 20% of their part's average, for one brand.
    * The per-part average is computed on the brand-filtered lineitem
    * subset (brand filter FIRST — computing averages for all parts and
    * filtering later would aggregate 25× the rows) and joined back on
    * partkey. Both sides of the join-back arrive partitioned by
    * partkey from the same child, so AQE plans the probe without a
    * second full shuffle of the filtered lines.
    */
  def qSmallQtyRevenue(t: Tables): DataFrame = {
    val brandParts = t.part.select($("p_partkey"))
      .filter($("p_brand") === "Brand#3")
    val lines = t.lineitem
      .select($("l_partkey"), $("l_quantity"), $("l_extendedprice"))
      .join(broadcast(brandParts), $("l_partkey") === $("p_partkey"))
    val avgQty = lines.groupBy($("p_partkey").as("ap_partkey"))
      .agg((psum($("l_quantity")) / count(lit(1)).cast("double")).as("avg_qty"))
    lines.join(avgQty, $("p_partkey") === $("ap_partkey"))
      .filter($("l_quantity") < lit(0.2) * $("avg_qty"))
      .agg(
        r6(psum($("l_extendedprice")) / 7.0).as("avg_yearly_r"),
        count(lit(1)).as("n_lines"))
  }

  /** B42: year-over-year revenue growth by nation — the trend read on
    * the star schema (B18's month trend, one dimension up and one
    * period coarser): per (nation, year) decimal-exact order revenue,
    * then lag + growth over the #nations×#years rollup (a tiny
    * relation — the window never touches the fact table). Customer →
    * nation legs broadcast; orders is the only scanned fact.
    */
  def qYoyGrowth(t: Tables): DataFrame = {
    val rev = t.orders
      .select($("o_custkey"), $("o_totalprice"), year($("o_orderdate")).cast("long").as("o_year"))
      .join(broadcast(t.customer.select($("c_custkey"), $("c_nationkey"))),
        $("o_custkey") === $("c_custkey"))
      .join(broadcast(t.nation.select($("n_nationkey"), $("n_name"))),
        $("c_nationkey") === $("n_nationkey"))
      .groupBy($("n_name"), $("o_year"))
      .agg(psum($("o_totalprice")).as("revenue"))
    val w = Window.partitionBy($("n_name")).orderBy($("o_year"))
    rev
      .withColumn("prev_revenue", lag($("revenue"), 1).over(w))
      .withColumn("growth_r",
        when($("prev_revenue").isNotNull,
          r6(($("revenue") - $("prev_revenue")) / $("prev_revenue"))))
      .orderBy($("n_name"), $("o_year"))
  }

  /** B47: distinct-user estimate per event type via the PORTABLE KMV
    * sketch (functions/KmvSketch) — the oracle-gateable cardinality
    * sketch next to B12's rows-only HLL: state is the k smallest
    * distinct md5_60 hashes per group (≤ k longs, merged map-side, so
    * the shuffle carries ≤ k·partitions longs per group — never the
    * distinct set), estimate (k−1)·2⁶⁰/hₖ, EXACT below k distinct.
    * The card rides the exact distinct count alongside so the error
    * is visible at test SF (n_exact is the column a 100 TB run drops —
    * the sketch is the whole point there); every arithmetic step is a
    * single deterministic double op mirrored verbatim in the oracle.
    */
  def qDistinctKmv(t: Tables, k: Int = 64): DataFrame = {
    val kmv = udaf(graft.functions.KmvSketch(k), org.apache.spark.sql.Encoders.scalaLong)
    t.events
      .select($("event_type"),
        $("user_id"),
        graft.functions.Hashing.md5_60(
          concat(lit("kmv:"), $("user_id").cast("string"))).as("hv"))
      .groupBy($("event_type"))
      .agg(kmv($("hv")).as("kept"),
        countDistinct($("user_id")).as("n_exact"))
      .select($("event_type"),
        size($("kept")).cast("long").as("n_kept"),
        element_at($("kept"), size($("kept"))).as("kth_min"),
        r6(when(size($("kept")) < k, size($("kept")).cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(1152921504606846976.0d) /
            element_at($("kept"), k).cast("double"))).as("est_distinct_r"),
        $("n_exact"))
      .orderBy($("event_type"))
  }

  /** B52: important stock (TPC-H Q11 shape) — per-part revenue value
    * with a HAVING > fraction-of-global-total cut. The global total
    * is a ONE-ROW aggregate broadcast into the per-part relation
    * (BroadcastNestedLoopJoin of a scalar — no second scan shuffled,
    * no correlated subquery re-evaluation); both sums route through
    * DECIMAL(18,6) so the threshold comparison is deterministic.
    *
    * Scale shape: one map-side-combined aggregate over the fact at
    * part granularity + one scalar broadcast. The cut is stated
    * against `mult` × the AVERAGE per-part value (total/#parts), so
    * the head stays a stable fraction of parts at every corpus size
    * — a share-of-total constant silently empties (or floods) the
    * result as the part universe grows; nothing downstream of the
    * aggregate sees more than #parts rows.
    */
  def qImportantStock(t: Tables, mult: Double = 1.5): DataFrame = {
    val rev = $("l_extendedprice") * (lit(1.0) - $("l_discount"))
    val perPart = t.lineitem
      .select($("l_partkey"), rev.as("rev"))
      .groupBy($("l_partkey"))
      .agg(psum($("rev")).as("value"))
    val total = perPart.agg(psum($("value")).as("total"),
      count(lit(1)).as("n_parts"))
    perPart.crossJoin(broadcast(total))
      .filter($("value") > lit(mult) * $("total") / $("n_parts").cast("double"))
      .select($("l_partkey").as("p_partkey"), $("value"),
        r6(lit(100.0) * $("value") / $("total")).as("share_pct_r"))
      .orderBy($("value").desc, $("p_partkey"))
  }

  /** B51: EXACT distinct per event type as a sparse bitmap built from
    * Spark's own aggregates — the exact counterpart to B47's KMV
    * estimate and the engine-portable analog of a Roaring-bitmap union
    * distinct. Key `id` sets bit `id & 63` of word `id >>> 6`: the
    * first aggregate ORs each (event_type, word)'s bits with `bit_or`,
    * the second sums their `bit_count`s per event type. Both are
    * map-side combined, so the shuffle carries one row per touched
    * 64-id word per partition, never the rows and never the key set —
    * unlike `countDistinct`, whose two-phase expansion shuffles one
    * row per (group, key). Exact at every cardinality; the density
    * column shows the bits-per-word utilization that justifies the
    * bitmap (dense ids → ~64 bits/word; sparse ids → fall back to
    * KMV or two-phase distinct). NULL keys are ignored, as
    * COUNT(DISTINCT) ignores them (an all-NULL group reads 0 distinct,
    * 0 words, NULL max_word and density); a negative key has no word
    * and fails the query.
    */
  def qDistinctBitmap(t: Tables): DataFrame = {
    val id = $("user_id")
    val key = when(id < 0, raise_error(concat(
        lit("bitmap distinct requires nonnegative keys, got "), id.cast("string"))))
      .otherwise(id)
    t.events
      .select($("event_type"), key.as("k"))
      .groupBy($("event_type"), shiftrightunsigned($("k"), 6).as("word"))
      .agg(bit_or(call_function("shiftleft", lit(1L), $("k").bitwiseAND(63L).cast("int")))
        .as("bits"))
      .groupBy($("event_type"))
      .agg(coalesce(sum(bit_count($("bits"))), lit(0L)).as("n_distinct"),
        count($("word")).as("n_words"),
        max($("word")).as("max_word"))
      .select($("event_type"), $("n_distinct"), $("n_words"), $("max_word"),
        r6(try_divide($("n_distinct").cast("double"),
          lit(64.0) * $("n_words").cast("double"))).as("density_r"))
      .orderBy($("event_type"))
  }

  /** B48: PORTABLE count-min error card — the oracle-gateable CMS next
    * to B21's rows-only native sketch: depth×width counts over the
    * affine-permutation buckets (Hashing.perm — the same literal (a,b)
    * family the bloom/minhash oracles already mirror), probed at the
    * exact top-K keys so the card shows each heavy hitter's true
    * count, CMS estimate (min over depth rows), and overcount.
    *
    * Scale shape: the SKETCH is one ×depth narrow explode into a
    * depth·width-bounded aggregate — map-side combined, mergeable
    * across shards by addition (the E50 card discipline; a 100 TB run
    * ships the 1024-row relation, not keys). The exact top-K ground
    * truth is a corpus-keyed aggregate + TakeOrdered — the diagnostic
    * half a production run replaces with candidate keys from the
    * sketch itself. Every estimate is exact integer arithmetic; no
    * doubles anywhere.
    */
  def qCmsPortable(t: Tables, depth: Int = 4, width: Int = 256,
      topK: Int = 20): DataFrame = {
    import graft.functions.Hashing
    def h0of(c: Column) =
      Hashing.md5_60(concat(lit("cms:"), c.cast("string")))
    def bucketStructs = (0 until depth).map(d =>
      struct(lit(d.toLong).as("d"), (Hashing.perm($("h0"), d) % width).as("bucket")))
    val cms = t.events.select(h0of($("user_id")).as("h0"))
      .select(explode(array(bucketStructs: _*)).as("s"))
      .groupBy($("s.d").as("d"), $("s.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val top = t.events.groupBy($("user_id")).agg(count(lit(1)).as("n_true"))
      .orderBy($("n_true").desc, $("user_id")).limit(topK)
      .withColumn("h0", h0of($("user_id")))
    val probes = top
      .select($("user_id"), $("n_true"), explode(array(bucketStructs: _*)).as("s"))
      .select($("user_id"), $("n_true"), $("s.d").as("d"), $("s.bucket").as("bucket"))
    probes.join(broadcast(cms), Seq("d", "bucket"))
      .groupBy($("user_id"), $("n_true"))
      .agg(min($("cnt")).as("cms_est"))
      .withColumn("overcount", $("cms_est") - $("n_true"))
      .orderBy($("n_true").desc, $("user_id"))
  }

  /** B50: KMV set-operation estimates between groups — the theta-
    * sketch read on top of B47: for every pair of event types,
    * estimated distinct-user UNION, INTERSECTION and Jaccard from the
    * two ≤k-long sketches alone (θ = the smaller k-th minimum; both
    * sketches truncated below θ are uniform samples of the union, so
    * count·2⁶⁰/θ estimates cardinality) — the audience-overlap
    * question answered WITHOUT a users-level join. Exact counterparts
    * ride alongside (the distinct (type,user) relation — the
    * diagnostic half a 100 TB run drops; the sketch half touches only
    * #types·k longs).
    *
    * Determinism: sketches are exact order statistics (B47), counts
    * are integers, and each estimate is two double ops mirrored
    * verbatim in the oracle — bit-exact, unlike any engine-private
    * theta sketch.
    */
  def qKmvSetOps(t: Tables, k: Int = 64): DataFrame = {
    val kmv = udaf(graft.functions.KmvSketch(k), org.apache.spark.sql.Encoders.scalaLong)
    val full = lit(1152921504606846976L) // 2^60: theta when |group| < k
    val sk = t.events
      .select($("event_type"),
        graft.functions.Hashing.md5_60(
          concat(lit("kmv:"), $("user_id").cast("string"))).as("hv"))
      .groupBy($("event_type"))
      .agg(kmv($("hv")).as("kept"))
      .withColumn("theta",
        when(size($("kept")) >= k, element_at($("kept"), k)).otherwise(full))
    val a = sk.select($("event_type").as("type_a"), $("kept").as("ka"), $("theta").as("tha"))
    val b = sk.select($("event_type").as("type_b"), $("kept").as("kb"), $("theta").as("thb"))
    val du = t.events.select($("event_type"), $("user_id")).distinct()
    val nx = du.groupBy($("event_type")).agg(count(lit(1)).as("n"))
    val ei = du.select($("event_type").as("ea"), $("user_id").as("u"))
      .join(du.select($("event_type").as("eb"), $("user_id").as("u2")),
        $("u") === $("u2") && $("ea") < $("eb"))
      .groupBy($("ea"), $("eb")).agg(count(lit(1)).as("n_inter_x"))
    val two60 = lit(1152921504606846976.0d)
    a.join(b, $("type_a") < $("type_b"))
      .withColumn("theta", least($("tha"), $("thb")))
      .withColumn("u_cnt",
        size(array_distinct(filter(concat($("ka"), $("kb")), h => h < $("theta")))))
      .withColumn("i_cnt",
        size(filter(array_intersect($("ka"), $("kb")), h => h < $("theta"))))
      .join(broadcast(nx.select($("event_type").as("type_a"), $("n").as("na"))), "type_a")
      .join(broadcast(nx.select($("event_type").as("type_b"), $("n").as("nb"))), "type_b")
      .join(ei, $("type_a") === $("ea") && $("type_b") === $("eb"), "left")
      .select($("type_a"), $("type_b"),
        ($("na") + $("nb") - coalesce($("n_inter_x"), lit(0L))).as("n_union"),
        coalesce($("n_inter_x"), lit(0L)).as("n_inter"),
        r6($("u_cnt").cast("double") * two60 / $("theta").cast("double")).as("est_union_r"),
        r6($("i_cnt").cast("double") * two60 / $("theta").cast("double")).as("est_inter_r"),
        r6($("i_cnt").cast("double") / $("u_cnt").cast("double")).as("est_jaccard_r"))
      .orderBy($("type_a"), $("type_b"))
  }

  /** B49: cheapest supplier per part — the TPC-H Q2 correlated-min
    * shape on the available tables (no partsupp in the data model, so
    * the cost relation derives from lineitem unit prices): per
    * (part, supplier) the minimum observed unit price, per part the
    * argmin supplier (ties → lowest suppkey), enriched with the
    * supplier's nation. The classic rewrite: the correlated subquery
    * (`cost = (SELECT MIN … WHERE same part)`) becomes ONE window
    * ranked by (cost, suppkey) over the part key — corpus-cardinality
    * partitioning, one pass, no self-join; dimension legs broadcast.
    * MIN of per-row double divisions is order-free, so no decimal
    * routing is needed anywhere.
    */
  def qMinCostSupplier(t: Tables): DataFrame = {
    val unit = t.lineitem
      .select($("l_partkey"), $("l_suppkey"),
        ($("l_extendedprice") / $("l_quantity")).as("unit_price"))
      .groupBy($("l_partkey"), $("l_suppkey"))
      .agg(min($("unit_price")).as("cost"))
    val w = Window.partitionBy($("l_partkey")).orderBy($("cost").asc, $("l_suppkey").asc)
    unit
      .withColumn("rn", row_number().over(w))
      .filter($("rn") === 1)
      .join(broadcast(t.supplier.select($("s_suppkey"), $("s_name"), $("s_nationkey"))),
        $("l_suppkey") === $("s_suppkey"))
      .join(broadcast(t.nation.select($("n_nationkey"), $("n_name"))),
        $("s_nationkey") === $("n_nationkey"))
      .select($("l_partkey").as("p_partkey"), $("s_name"), $("n_name"),
        r6($("cost")).as("min_cost_r"))
      .orderBy($("p_partkey"))
  }

  /** B53: Bloom semi-join REDUCTION — the selective fact⋈dim join with
    * an explicit runtime filter: the selected dim keys (high-value
    * orders, ~3% of the table) fold into ONE dense 8 KiB bit-array row
    * that broadcasts into the fact scan; only fact rows passing all k
    * bit tests reach the exact join, which then kills the false
    * positives — so the RESULT is provably identical to the plain join
    * (the oracle states the plain join) while the join's probe-side
    * shuffle shrinks from the whole fact table to ~selectivity·fact.
    *
    * At 100 TB this is the sideways-information-passing shape Spark's
    * own runtime Bloom (spark.sql.optimizer.runtimeFilter) automates:
    * a dim selection of 100 M keys is gigabytes as a broadcast hash
    * relation but megabytes as a Bloom — the bit test rides the
    * codegen'd scan (narrow), and the exact join afterwards only pays
    * for survivors. Bit positions come from k seeded Murmur3 hashes;
    * false positives only cost wasted probe rows, never correctness.
    */
  def qBloomJoinReduce(t: Tables, priceMin: Double = 480000.0,
      mBits: Int = 65536, kHashes: Int = 4): DataFrame = {
    val nWords = mBits / 64
    val sel = t.orders.filter($("o_totalprice") >= priceMin)
      .select($("o_orderkey"), $("o_orderpriority"))
    def pos(c: Column, r: Int): Column = pmod(hash(c, lit(r)), lit(mBits)).cast("long")
    val bloomRow = sel
      .select(explode(array((0 until kHashes).map(r => pos($("o_orderkey"), r)): _*)).as("p"))
      .groupBy(shiftright($("p"), 6).cast("int").as("w"))
      .agg(expr("bit_or(shiftleft(cast(1 as bigint), cast(p % 64 as int)))").as("bits"))
      .agg(map_from_entries(collect_list(struct($("w"), $("bits")))).as("wm"))
      .select(transform(sequence(lit(0), lit(nWords - 1)),
        w => coalesce(element_at($("wm"), w), lit(0L))).as("bloom"))
    def bitTest(p: Column): Column =
      element_at($("bloom"), (shiftright(p, 6) + 1).cast("int"))
        .bitwiseAND(call_function("shiftleft", lit(1L), (p % 64).cast("int"))) =!= 0L
    val pre = t.lineitem
      .select($("l_orderkey"), $("l_extendedprice"), $("l_discount"))
      .crossJoin(broadcast(bloomRow))
      .filter((0 until kHashes).map(r => bitTest(pos($("l_orderkey"), r))).reduce(_ && _))
      .drop("bloom")
    pre.join(sel, $("l_orderkey") === $("o_orderkey"))
      .groupBy($("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        psum($("l_extendedprice") * (lit(1.0) - $("l_discount"))).as("revenue"))
      .orderBy($("o_orderpriority"))
  }

  /** B54: value-based RANGE window frame — per customer, the trailing
    * 7-DAY order total (RANGE BETWEEN 6 PRECEDING AND CURRENT ROW over
    * an integer day key): the time-windowed running aggregate ROWS
    * frames can't express (two orders on one day must both see the
    * same trailing window; a row frame would split them). The missing
    * window-feature exercise next to B4's running sum and B17's
    * row-frame rolling mean.
    *
    * Scale shape: ONE customer-keyed window (corpus-cardinality
    * partition key — never an unpartitioned frame); the day key is
    * exact integer µs division; the frame sum routes through
    * DECIMAL(18,6) so the per-frame set sums order-independently.
    */
  def qRangeFrame(t: Tables, days: Int = 7): DataFrame = {
    // o_orderdate is TIMESTAMP_NTZ; cast through TIMESTAMP (session tz
    // pinned to UTC) so unix_micros resolves — same instant both engines
    val dayN = (unix_micros($("o_orderdate").cast("timestamp")) / lit(86400000000L))
      .cast("long")
    val w = Window.partitionBy($("o_custkey")).orderBy($("day_n"))
      .rangeBetween(-(days - 1).toLong, 0L)
    t.orders
      .select($("o_custkey"), $("o_orderkey"), dayN.as("day_n"),
        $("o_totalprice"))
      .withColumn("n_in_window", count(lit(1)).over(w))
      .withColumn("trail_sum",
        sum($("o_totalprice").cast(DecimalType(18, 6))).over(w).cast("double"))
      .select($("o_custkey"), $("o_orderkey"), $("day_n"), $("n_in_window"),
        col("trail_sum"),
        r6(col("trail_sum") / $("n_in_window").cast("double")).as("trail_avg_r"))
  }

  /** B55: product-type profit (TPC-H Q9 shape on the available data
    * model — there is no partsupp table, so per-unit supply cost is
    * proxied at half the part's retail price): for parts whose name
    * carries the probe token, profit per (supplier nation, order year)
    * = Σ (l_extendedprice·(1−l_discount) − 0.5·p_retailprice·l_quantity).
    *
    * Plan shape at 100 TB: the selective part filter broadcasts into
    * the fact scan FIRST (probe-side reduction before anything wide),
    * supplier/nation broadcast; the only big-big exchange is
    * lineitem⋈orders on the order key. The per-row amount is the same
    * left-associated IEEE expression in both engines; the rollup sum
    * routes DECIMAL(18,6) so it is order-free; output is ≤ #nations ×
    * #years rows.
    */
  def qProductProfit(t: Tables, nameToken: String = "bolt"): DataFrame = {
    val prt = t.part.filter($("p_name").contains(nameToken))
      .select($("p_partkey"), $("p_retailprice"))
    val sup = t.supplier.select($("s_suppkey"), $("s_nationkey"))
    val nat = t.nation.select($("n_nationkey"), $("n_name"))
    val ord = t.orders.select($("o_orderkey"), $("o_orderdate"))
    t.lineitem
      .select($("l_orderkey"), $("l_partkey"), $("l_suppkey"), $("l_quantity"),
        $("l_extendedprice"), $("l_discount"))
      .join(broadcast(prt), $("l_partkey") === $("p_partkey"))
      .join(broadcast(sup), $("l_suppkey") === $("s_suppkey"))
      .join(broadcast(nat), $("s_nationkey") === $("n_nationkey"))
      .join(ord, $("l_orderkey") === $("o_orderkey"))
      .groupBy($("n_name").as("nation"), year($("o_orderdate")).cast("long").as("o_year"))
      .agg(psum($("l_extendedprice") * (lit(1.0) - $("l_discount"))
        - lit(0.5) * $("p_retailprice") * $("l_quantity")).as("profit"))
      .orderBy($("nation"), $("o_year"))
  }

  /** B56: supplier/part-type relationship (TPC-H Q16 shape): how many
    * distinct suppliers have actually shipped parts of each surviving
    * (brand, type, size) combination — with a brand and a type
    * excluded by predicate and "complaint" suppliers (negative account
    * balance, the available stand-in) removed by anti-join. The
    * supplier-part relation derives from lineitem (no partsupp table).
    *
    * Plan shape: both exclusion legs broadcast (part dim filtered
    * before the fact join; the bad-supplier key set is tiny), so the
    * fact scan reduces before the one shuffle — the two-phase
    * count-distinct on (brand, type, size). Output ≤ |brand×type×size|.
    */
  def qSupplierPartTypes(t: Tables,
      sizes: Seq[Int] = Seq(2, 5, 11, 28, 37, 42, 49, 50)): DataFrame = {
    val badSup = t.supplier.filter($("s_acctbal") < 0).select($("s_suppkey"))
    val prt = t.part
      .filter($("p_brand") =!= "Brand#17" && $("p_type") =!= "PROMO" &&
        $("p_size").isin(sizes: _*))
      .select($("p_partkey"), $("p_brand"), $("p_type"), $("p_size"))
    t.lineitem.select($("l_partkey"), $("l_suppkey"))
      .join(broadcast(prt), $("l_partkey") === $("p_partkey"))
      .join(broadcast(badSup), $("l_suppkey") === $("s_suppkey"), "left_anti")
      .groupBy($("p_brand"), $("p_type"), $("p_size"))
      .agg(countDistinct($("l_suppkey")).as("supplier_cnt"))
      .orderBy($("supplier_cnt").desc, $("p_brand"), $("p_type"), $("p_size"))
  }

  /** B57: potential part promotion (TPC-H Q20 shape): suppliers who
    * carried a dominant share of a probe part family in a ship-year —
    * the correlated-aggregate semi-join chain (`qty(part,supp) >
    * share · qty(part)`) rewritten as ONE aggregate on (part, supp)
    * plus a part-keyed window sum (corpus-cardinality partition key),
    * then a semi-reduction to the supplier dimension.
    *
    * l_quantity is integer-valued, so the per-group and window sums
    * are exact in double regardless of order — no decimal routing
    * needed. The probe-part filter broadcasts into the fact scan; the
    * one corpus shuffle is an explicit repartition on l_partkey,
    * which satisfies BOTH the (part, supp) rollup's clustering (a
    * partitioning on a subset of the group keys co-locates the
    * groups) and the part-keyed window — so the rollup and the
    * window ride the same exchange and the fact never shuffles twice.
    */
  def qPotentialPromotion(t: Tables, nameToken: String = "red",
      share: Double = 0.2): DataFrame = {
    val prt = t.part.filter($("p_name").startsWith(nameToken)).select($("p_partkey"))
    val ps = t.lineitem
      .filter($("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        $("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(prt), $("l_partkey") === $("p_partkey"))
      .repartition($("l_partkey"))
      .groupBy($("l_partkey"), $("l_suppkey"))
      .agg(sum($("l_quantity")).as("qty"))
    val wTot = Window.partitionBy($("l_partkey"))
    val winners = ps
      .withColumn("part_qty", sum($("qty")).over(wTot))
      .filter($("qty") > lit(share) * $("part_qty"))
      .select($("l_suppkey")).distinct()
    t.supplier
      .join(winners, $("s_suppkey") === $("l_suppkey"), "left_semi")
      .join(broadcast(t.nation.select($("n_nationkey"), $("n_name"))),
        $("s_nationkey") === $("n_nationkey"))
      .select($("s_suppkey"), $("s_name"), $("n_name"))
      .orderBy($("s_suppkey"))
  }

  /** B58: partition sizing ADVISOR — the knob card an operator reads
    * before setting `spark.sql.files.maxPartitionBytes` / shuffle
    * partitions for a 100 TB run: per table, exact decoded row bytes
    * (8 per BIGINT/DOUBLE/TIMESTAMP, 4 per INTEGER, 4+bytes per
    * string, 4+4·len per float array — the IN-MEMORY/shuffle width,
    * which is what partition memory sizing actually needs; parquet
    * footers only give the compressed on-disk size, which under-
    * estimates decoded width 3–10× on codec-friendly columns), the
    * partition count that hits the target size, and the resulting
    * rows per partition.
    *
    * Determinism: the whole card is integer arithmetic (byte counts,
    * ceil-divisions on the long lattice) — no doubles anywhere.
    * Scale shape: one narrow column-pruned pass per table (the scan
    * reads ONLY the variable-width columns; fixed widths fold into
    * the constant), each collapsing map-side to a 1-row aggregate;
    * the union is #tables rows.
    */
  def qPartitionAdvisor(t: Tables, targetMb: Long = 128): DataFrame = {
    val p = targetMb * 1024L * 1024L
    def card(name: String, df: DataFrame, rowBytes: Column): DataFrame =
      df.agg(count(lit(1)).as("n_rows"), sum(rowBytes.cast("long")).as("est_bytes"))
        .withColumn("parts_target", expr(s"(est_bytes + ${p - 1}L) DIV ${p}L"))
        .withColumn("rows_per_part",
          expr("(n_rows + parts_target - 1) DIV parts_target"))
        .select(lit(name).as("table_name"), $("n_rows"), $("est_bytes"),
          $("parts_target"), $("rows_per_part"))
    card("documents", t.documents,
        lit(28L) + octet_length($("text")) + octet_length($("lang")) + octet_length($("source")))
      .unionAll(card("embeddings", t.embeddings,
        lit(16L) + lit(4L) * size($("embedding"))))
      .unionAll(card("events", t.events,
        lit(40L) + octet_length($("event_type")) + octet_length($("props"))))
      .unionAll(card("lineitem", t.lineitem,
        lit(76L) + octet_length($("l_returnflag")) + octet_length($("l_linestatus"))))
      .unionAll(card("orders", t.orders,
        lit(40L) + octet_length($("o_orderstatus")) + octet_length($("o_orderpriority"))))
      .orderBy($("table_name"))
  }

  /** B59: distinct-user estimate per event type via a PORTABLE
    * HyperLogLog (Flajolet et al. 2007) — the industry-standard
    * cardinality sketch, here in a fully DETERMINISTIC formulation so
    * the DuckDB oracle reproduces every register and the estimate
    * bit-for-bit (unlike B12's engine-private `approx_count_distinct`
    * HLL, which is rows-only). Completes the portable sketch suite:
    * B47 KMV (order statistics), B48 CMS (frequency), B51 bitmap
    * (exact), B50 theta set-ops — HLL is what a 100 TB run actually
    * ships for distinct counts (m=256 registers = 256 small ints per
    * group, constant-size, mergeable by per-register MAX — the E50
    * mergeability discipline, spec-pinned).
    *
    * Construction (every step integer-exact): h0 = md5_60 of the key,
    * bucket = h0 mod m, word w = h0 div m (52 bits), rank
    * rho = 53 − bitlen(w) via a chained integer-comparison ladder
    * (NO floating log2 — floor(log2(w)) misrounds near 2^52 where the
    * double grid is coarser than 1), capped at 52 so the register
    * scale 2^(52−reg) stays on the long lattice. The indicator sum
    * Σ 2^(−reg) is computed as the INTEGER Σ 2^(52−reg) + zeros·2^52
    * (≤ 2^60, no overflow), so the raw estimate α·m²·2^52/S is one
    * double division. Small-range (linear counting) correction applied
    * under the standard E ≤ 2.5m ∧ V>0 rule. Exact distinct rides
    * alongside (the diagnostic column a production run drops).
    *
    * Scale shape: duplicate-insensitive by construction (MAX), so no
    * pre-DISTINCT — ONE map-side-combined aggregate at (group, bucket)
    * granularity (≤ m·#groups rows shuffled), then a #groups-row
    * rollup. The exact leg is the only corpus-keyed distinct and is
    * the leg you delete at 100 TB.
    */
  def qHllPortable(t: Tables): DataFrame = {
    val exact = t.events.groupBy($("event_type"))
      .agg(countDistinct($("user_id")).as("n_exact"))
    hllCard(hllRegisters(t.events)).join(broadcast(exact), "event_type")
      .orderBy($("event_type"))
  }

  /** B59's register relation (event_type, bucket, reg) — the
    * constant-size mergeable state (≤ 256 rows/group, merge = MAX per
    * (group, bucket)) that G24's sink persists per shard/run.
    */
  private[graft] def hllRegisters(events: DataFrame): DataFrame =
    hllRegistersBy(events, $("event_type"), "event_type",
      $("user_id").cast("string"))

  /** The generic B59 register builder: one group column (re-aliased to
    * `groupName`), one string key expression, salted md5_60 base hash.
    * E59 reuses it for distinct TOKENS per source; the A-side for
    * distinct users per event type.
    */
  private[graft] def hllRegistersBy(df: DataFrame, group: Column,
      groupName: String, key: Column): DataFrame = {
    val h0 = graft.functions.Hashing.md5_60(concat(lit("hll:"), key))
    // rho = leading zeros of the 52-bit word + 1 = 53 - bitlen(w),
    // capped at 52 (w = 0); pure integer comparisons, codegen'd
    val rho = (50 to 0 by -1).foldLeft(
      when($("w") >= lit(1L << 51), lit(1))) { (acc, k) =>
        acc.when($("w") >= lit(1L << k), lit(52 - k))
      }.otherwise(lit(52))
    df
      .select(group.as(groupName), h0.as("h0"))
      .select(col(groupName), ($("h0") % 256L).as("bucket"),
        expr("h0 DIV 256").as("w"))
      .groupBy(col(groupName), $("bucket"))
      .agg(max(rho).as("reg"))
  }

  /** B59's estimate from a register relation alone (no corpus access —
    * what a cross-run reader computes off merged G24 artifacts).
    */
  private[graft] def hllCard(regs: DataFrame,
      groupName: String = "event_type"): DataFrame = {
    val m = 256L
    val two52 = 4503599627370496L // 2^52
    val agg = regs.groupBy($(groupName))
      .agg(count(lit(1)).as("nb"),
        sum(call_function("shiftleft", lit(1L), lit(52) - $("reg"))).as("s_present"))
      .select($(groupName), (lit(m) - $("nb")).as("n_zero"),
        ($("s_present") + (lit(m) - $("nb")) * lit(two52)).as("sum_scaled"))
    // alpha_256 * m^2 * 2^52 / S — the constant expression is spelled
    // identically in the oracle so both engines fold the same IEEE ops
    val eraw = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) *
      lit(65536.0) * lit(4503599627370496.0) / $("sum_scaled").cast("double")
    agg.select($(groupName), $("n_zero"), $("sum_scaled"),
      r6(eraw).as("est_raw_r"),
      r6(when(eraw <= lit(640.0) && $("n_zero") > 0,
          lit(256.0) * log(lit(256.0) / $("n_zero").cast("double")))
        .otherwise(eraw)).as("est_r"))
  }

  /** B60: forecasting revenue change (TPC-H Q6 shape) — the classic
    * "what would revenue gain if small-quantity discounts were
    * eliminated": Σ extendedprice·discount over one year, a discount
    * band, and a quantity cap. Deliberately the SIMPLEST query in the
    * suite: its entire value is the PLAN — all three predicates must
    * reach the parquet scan as PushedFilters (year bounds, discount
    * band, quantity cap) so a 100 TB scan prunes row groups on the
    * shipdate min/max stats and reads four columns; one map-side
    * partial aggregate to a single row, no join, no window, no
    * shuffle beyond the 1-row final. PlanSpec pins the pushdown.
    */
  def qRevenueForecast(t: Tables): DataFrame =
    t.lineitem
      .filter($("l_shipdate") >= lit("1995-01-01") &&
        $("l_shipdate") < lit("1996-01-01") &&
        $("l_discount") >= 0.03 && $("l_discount") <= 0.07 &&
        $("l_quantity") < 24.0)
      .agg(psum($("l_extendedprice") * $("l_discount")).as("revenue_gain"),
        count(lit(1)).as("n_lines"))

  /** B61: revenue CONCENTRATION (Pareto) card — the share of total
    * revenue captured by the top 1 / 10 / 20 % of customers. The
    * scale-honest formulation: NO corpus-wide rank/ntile window (the
    * single-partition global sort PlanSpec bans) — each rung's cutoff
    * is an exact `percentile` AGGREGATE over the per-customer revenue
    * relation, broadcast as a one-row relation into a conditional
    * rollup; adding a rung adds a conditional sum, never a pass. The
    * per-customer relation is ONE map-side-combined aggregate of the
    * fact. Percentiles r4'd (the A45 convention: exact interpolated
    * percentile ≡ DuckDB quantile_cont); shares decimal-routed.
    */
  def qRevenueConcentration(t: Tables,
      topPcts: Seq[Int] = Seq(1, 10, 20)): DataFrame = {
    val rev = t.lineitem
      .join(broadcast(t.orders.select($("o_orderkey"), $("o_custkey"))),
        $("l_orderkey") === $("o_orderkey"))
      .groupBy($("o_custkey"))
      .agg(psum($("l_extendedprice") * (lit(1.0) - $("l_discount"))).as("rev"))
    val cutAggs = Seq(
      count(lit(1)).as("n_total"),
      sum($("rev").cast(DecimalType(18, 6))).as("total")) ++
      topPcts.map(p =>
        r4(expr(s"percentile(rev, ${1.0 - p / 100.0})")).as(s"cut$p"))
    val cutoffs = rev.agg(cutAggs.head, cutAggs.tail: _*)
    // ONE conditional rollup over rev ⋈ broadcast(cutoffs): every rung
    // is a conditional sum inside the SAME aggregate (adding a rung
    // adds two conditional sums, never a pass or an exchange-reuse
    // dependence), and an empty rung still yields its count-0 row on
    // BOTH engines — the one-row wide result then stacks to rows.
    val condAggs = topPcts.flatMap { p =>
      Seq(
        sum(when($("rev") >= $(s"cut$p"), 1L).otherwise(0L)).as(s"n_$p"),
        sum(when($("rev") >= $(s"cut$p"), $("rev").cast(DecimalType(18, 6)))
          .otherwise(lit(0).cast(DecimalType(18, 6)))).as(s"r_$p"),
        first($(s"cut$p")).as(s"c_$p"))
    } ++ Seq(first($("n_total")).as("n_total"), first($("total")).as("total"))
    val wide = rev.crossJoin(broadcast(cutoffs))
      .agg(condAggs.head, condAggs.tail: _*)
    val rungs = topPcts.map { p =>
      wide.select(lit(p.toLong).as("top_pct"), $(s"c_$p").as("cutoff_r"),
        $(s"n_$p").as("n_customers"),
        r6($(s"n_$p").cast("double") / $("n_total").cast("double"))
          .as("cust_frac_r"),
        r6($(s"r_$p").cast("double") / $("total").cast("double"))
          .as("share_r"))
    }
    rungs.reduce(_ unionByName _).orderBy($("top_pct"))
  }

  /** B62: portable QUANTILE sketch card — per-returnflag price
    * quantiles off a deterministic bottom-k ROW sample
    * ([[graft.functions.BottomKSample]]): the k lexicographically
    * smallest (md5_60(order:line), price) pairs are a simple random
    * k-row sample any engine reproduces exactly, and the quantiles
    * are PICKED sample order statistics (nearest rank, never
    * interpolated) — so unlike B24's engine-private
    * `approx_percentile` this sketch is oracle-gated bit-for-bit.
    * Completes the portable sketch suite: B47 KMV (distinct), B48 CMS
    * (heavy hitters), B59 HLL (cardinality), B62 (quantiles).
    *
    * Scale shape: ONE map-side-combined aggregate; the shuffle
    * carries ≤k pairs per (group, partition) — never rows (exact
    * percentile shuffles and sorts the whole fact table per group).
    * DKW bound at k=256: rank error > 0.1 with prob ~1.2%
    * (SketchSpec pins the corpus inside it, plus merge ≡ one-pass).
    */
  def qQuantileSample(t: Tables, k: Int = 256): DataFrame = {
    val bks = udaf(graft.functions.BottomKSample(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble))
    val pick = (sv: Column, m: Column, p: Double) =>
      element_at(sv, (floor(lit(p) * (m - 1).cast("double") + 0.5) + 1)
        .cast("int"))
    t.lineitem
      .select($("l_returnflag"),
        graft.functions.Hashing.md5_60(concat(lit("qsample:"),
          $("l_orderkey").cast("string"), lit(":"),
          $("l_linenumber").cast("string"))).as("hv"),
        $("l_extendedprice").as("x"))
      .groupBy($("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), bks($("hv"), $("x")).as("sample"))
      .select($("l_returnflag"), $("n_rows"),
        size($("sample")).cast("long").as("n_sample"),
        sort_array($("sample")).as("sv"))
      .select($("l_returnflag"), $("n_rows"), $("n_sample"),
        pick($("sv"), $("n_sample"), 0.25).as("q25"),
        pick($("sv"), $("n_sample"), 0.50).as("q50"),
        pick($("sv"), $("n_sample"), 0.75).as("q75"),
        pick($("sv"), $("n_sample"), 0.90).as("q90"))
      .orderBy($("l_returnflag"))
  }

  private def $(name: String): Column = col(name)
}
