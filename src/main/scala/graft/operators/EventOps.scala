package graft.operators

import java.time.Instant
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.model.{EmittedEv, Ev}
import graft.sources.Tables

/** Event-stream processing operators (SURVEY §2.A) — the reference's
  * batch-expressible semantics, re-expressed Spark-first over the
  * `events` table. Streaming twins live in graft.streaming.
  *
  * Reference mapping (cisco-open/event-stream-for-k8s):
  *  - key space `uid:resource_version` (src/types.rs:21) → `user_id:event_type`
  *  - timestamp precedence (src/types.rs:38)             → evTimeDerivation
  *  - TTL-cache emission (src/tasks.rs:66,184)           → evTtlCache
  *  - Prometheus label counts (src/tasks.rs:26,107)      → evCountsByLabels
  *  - cache hit/miss accounting (src/tasks.rs:132)       → evCacheStats
  *  - stdout JSON serialization (src/tasks.rs:105)       → evSerializeJson
  */
object EventOps {

  /** Composite event key, mirroring types.rs:21. */
  private def evKey: Column =
    concat(col("user_id").cast("string"), lit(":"), col("event_type"))

  /** A1: timestamp derivation — coalesce(lastTimestamp, firstTimestamp,
    * creationTimestamp) precedence of types.rs:38. The three source
    * timestamps are synthesized deterministically (the k8s fields don't
    * exist in the synthetic table); the operator under test is the
    * precedence logic itself.
    */
  def evTimeDerivation(t: Tables): DataFrame =
    t.events
      .select(col("event_id"), col("ts"))
      .withColumn("last_ts", when(col("event_id") % 3 =!= 0, col("ts")))
      .withColumn("first_ts", when(col("event_id") % 5 =!= 0, col("ts") - expr("INTERVAL 1 HOUR")))
      .withColumn("creation_ts", col("ts") - expr("INTERVAL 1 DAY"))
      .select(
        col("event_id"),
        coalesce(col("last_ts"), col("first_ts"), col("creation_ts")).as("derived_ts"),
        when(col("last_ts").isNotNull, "last")
          .when(col("first_ts").isNotNull, "first")
          .otherwise("creation").as("ts_source"))

  /** A2: exact first-occurrence dedup on the composite key (the cache-miss
    * path of tasks.rs:98). One shuffle on the key; at 100 TB this is a
    * hash-partitioned window, no global sort.
    */
  def evDedupExact(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("ts"), col("event_id"))
    t.events
      .select(evKey.as("key"), col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_events", count(lit(1)).over(Window.partitionBy(col("key"))))
      .filter(col("rn") === 1)
      .select(col("key"), col("ts"), col("event_id"), col("n_events"))
  }

  /** A3: true TTL-cache emission semantics (tasks.rs:66 + clean_cache
    * tasks.rs:184): an event is emitted iff no same-key event was
    * *emitted* within the last TTL. Sequential per key → groupByKey +
    * flatMapSortedGroups: shuffle on key, sort within partition, O(1)
    * state per key (last emitted ts) — the scalable shape of the
    * reference's sled cache.
    */
  def evTtlCache(t: Tables, ttlHours: Long = 24): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val ds = t.events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[Ev]
    ds.groupByKey(e => s"${e.user_id}:${e.event_type}")
      .flatMapSortedGroups(col("ts"), col("event_id")) { (key, it) =>
        var lastEmit: Instant = null
        it.flatMap { e =>
          if (lastEmit == null || !e.ts.isBefore(lastEmit.plus(ttlHours, ChronoUnit.HOURS))) {
            lastEmit = e.ts
            Some(EmittedEv(key, e.ts, e.event_id))
          } else None
        }
      }
      .toDF()
  }

  /** A4: lag-based throttle — the windowed approximation of A3 (emit iff
    * the *previous* same-key event, emitted or not, is ≥ TTL older).
    * Pure window functions, fully SQL-expressible.
    */
  def evThrottleLag(t: Tables, ttlHours: Long = 24): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("ts"), col("event_id"))
    t.events
      .select(evKey.as("key"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("prev_ts").isNull ||
        col("ts") >= col("prev_ts") + expr(s"INTERVAL $ttlHours HOUR"))
      .select(col("key"), col("ts"), col("event_id"))
  }

  /** A5: Prometheus `events_count{labels}` analog (tasks.rs:107):
    * grouped counts over the full label set (type × derived severity ×
    * shard). Map-side partial aggregation; tiny result.
    */
  def evCountsByLabels(t: Tables): DataFrame =
    t.events
      .select(col("event_type"),
        when(col("value") > 100.0, "high").otherwise("low").as("severity"),
        (col("user_id") % 10).as("shard"))
      .groupBy(col("event_type"), col("severity"), col("shard"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("severity"), col("shard"))

  /** A6: cache hit/miss accounting (tasks.rs:132): per event_type, total
    * events processed, unique keys (= cache misses under an infinite
    * TTL) and duplicate events (= cache hits).
    */
  def evCacheStats(t: Tables): DataFrame =
    t.events
      .select(col("event_type"), evKey.as("key"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("total"),
        countDistinct(col("key")).as("cache_misses"),
        (count(lit(1)) - countDistinct(col("key"))).as("cache_hits"))
      .orderBy(col("event_type"))

  /** A7: per-hour event rate — tumbling-window counts + value sums. */
  def evWindowedRate(t: Tables): DataFrame =
    t.events
      .select(date_trunc("hour", col("ts")).as("hour"), col("value"), col("user_id"))
      .groupBy(col("hour"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("hour"))

  /** A29: MAD-based rate anomaly detection — the monitoring question a
    * k8s event pipeline exists to answer: which (event_type, hour)
    * rates are anomalous against that type's own history? Median +
    * median-absolute-deviation (robust to the very outliers being
    * hunted, unlike mean/stddev), flagging hours above
    * median + k·MAD.
    *
    * Scale shape: the hourly-rate relation is (types × hours)-sized —
    * time-BOUNDED, not corpus-sized (a year is 8 760 hours/type), so
    * the per-type exact percentiles aggregate bounded groups; the two
    * tiny stat relations broadcast back onto the rate relation.
    */
  def evAnomalyMad(t: Tables, k: Double = 3.0): DataFrame = {
    val rates = t.events
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n"))
    val med = rates.groupBy(col("event_type"))
      .agg(r4(expr("percentile(n, 0.5)")).as("med"))
    val dev = rates.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("n") - col("med")))
    val mad = dev.groupBy(col("event_type"))
      .agg(r4(expr("percentile(dev, 0.5)")).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .select(col("event_type"), col("hour"), col("n"), col("med"), col("mad"),
        (col("n") > col("med") + lit(k) * col("mad")).cast("int").as("is_anomaly"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** A33: EWMA-smoothed hourly rates + spike flags — the trend-aware
    * complement to A29's distribution-based MAD: an exponentially
    * weighted baseline over the previous `horizon` hours (most recent
    * weighted highest), flagging hours whose count exceeds
    * spikeFactor × baseline. The baseline EXCLUDES the current hour
    * (rowsBetween(-horizon, -1)) so a spike can't mask itself; the
    * first hour of each type has no history → NULL baseline, never
    * flagged.
    *
    * Engine parity: α = 0.5 makes every weight 0.5^lag an exact
    * dyadic, so products against integer counts and their ≤ horizon
    * (default 12)-term sums are EXACT in double — the EWMA is
    * bit-identical across engines by construction, not by rounding
    * luck (a generic α would ride on libm-pow agreement).
    *
    * Scale shape: the rate relation is (types × hours) — time-bounded
    * as in A29 — and the window is keyed by event_type with a FIXED
    * horizon-row frame: per-row state is ≤ horizon structs regardless
    * of series length.
    */
  def evEwma(t: Tables, horizon: Int = 12, spikeFactor: Double = 3.0): DataFrame = {
    val rates = t.events
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(-horizon, -1)
    // collect_list over a window frame has no order guarantee —
    // sort_array by (hour, n) restores it deterministically
    rates
      .withColumn("ms",
        transform(sort_array(collect_list(struct(col("hour").as("h"), col("n").as("v"))).over(w)),
          x => x.getField("v")))
      .withColumn("s", size(col("ms")))
      .withColumn("num", expr(
        "aggregate(transform(ms, (x, i) -> x * power(0.5D, size(ms)-1-i)), 0.0D, (a, b) -> a + b)"))
      .withColumn("den", expr(
        "aggregate(transform(ms, (x, i) -> power(0.5D, size(ms)-1-i)), 0.0D, (a, b) -> a + b)"))
      .withColumn("ewma", when(col("s") > 0, col("num") / col("den")))
      .select(col("event_type"), col("hour"), col("n"), r6(col("ewma")).as("ewma_r"),
        coalesce((col("n") > lit(spikeFactor) * col("ewma")).cast("int"), lit(0)).as("is_spike"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** A8: JSON property extraction from `props` + aggregation. */
  def evJsonProps(t: Tables): DataFrame =
    t.events
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"), col("event_type"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy(col("k_bucket"))

  /** A9: stdout-JSON serialization analog (tasks.rs:105) — the emitted
    * record as a canonical JSON string (int + string fields, so the
    * rendering is engine-portable).
    */
  def evSerializeJson(t: Tables): DataFrame =
    t.events
      .select(col("event_id"),
        to_json(struct(col("event_id"), col("user_id"), col("event_type"))).as("json"))

  /** A10: top-N hot keys by event count (deterministic tiebreak). */
  def evTopKeys(t: Tables, n: Int = 10): DataFrame =
    t.events
      .select(evKey.as("key"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("key").asc)
      .limit(n)

  /** A18: as-of enrichment — attach to each event the user's latest
    * order at event time, via the custom AsOfJoin operator
    * (graft.plans.AsOfJoin: one shuffle per side + linear sort-merge
    * pass; the composed equivalent join+filter+argmax materializes
    * O(events × orders-per-user) rows). Right side pre-deduped to one
    * row per (key, time) so tie-breaking is engine-independent.
    */
  def evAsofEnrich(t: Tables): DataFrame = {
    val ev = t.events.select(col("event_id"), col("user_id"), col("ts"))
    val ord = t.orders
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    graft.plans.GraftPlans.asofJoin(ev, ord, "user_id", "o_custkey", "ts", "o_orderdate")
      .select(col("event_id"), col("user_id"), col("ts"), col("o_orderkey"), col("o_orderdate"))
  }

  /** A18b: tolerance-bounded as-of enrich — A18 with a maximum
    * lookback (pandas merge_asof `tolerance` semantics): an event is
    * only enriched by an order within the last `days` days; staler
    * state null-extends. Same custom linear sort-merge exec, the
    * bound gates the match inside the same O(1)-state pass — no extra
    * join, filter, or shuffle vs A18.
    */
  def evAsofTolerance(t: Tables, days: Int = 7): DataFrame = {
    val ev = t.events.select(col("event_id"), col("user_id"), col("ts"))
    val ord = t.orders
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    // no-match rows carry sentinels + a matched flag instead of NULLs:
    // a NULL timestamp is NaT downstream, which compares unequal to
    // itself in numpy-family comparators (the oracle gate included)
    graft.plans.GraftPlans.asofJoin(ev, ord, "user_id", "o_custkey", "ts", "o_orderdate",
        tolerance = Some(java.time.Duration.ofDays(days)))
      .select(col("event_id"), col("user_id"), col("ts"),
        coalesce(col("o_orderkey"), lit(-1L)).as("o_orderkey"),
        coalesce(col("o_orderdate"), to_timestamp(lit("1970-01-01 00:00:00"))).as("o_orderdate"),
        col("o_orderkey").isNotNull.cast("int").as("matched"))
  }

  /** A27: bucketed interval self-join — errors preceded by a same-user
    * click within the last hour. The scalable range-join shape: the
    * probe side buckets to its hour, the build side explodes into the
    * (≤2) hour buckets its 1h window can land in, the join is a plain
    * equi-join on (user, bucket), and the exact interval predicate
    * filters after — never a non-equi join over the full stream.
    */
  def evErrorAfterClick(t: Tables): DataFrame = {
    val errors = t.events.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts").as("te"), col("event_id"))
    val clickBuckets = t.events.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("tc"))
      .select(col("cu"), col("tc"), explode(array(
        date_trunc("hour", col("tc")),
        date_trunc("hour", col("tc")) + expr("INTERVAL 1 HOUR"))).as("hb"))
    val flagged = errors
      .join(clickBuckets,
        col("user_id") === col("cu") &&
          date_trunc("hour", col("te")) === col("hb") &&
          col("tc") <= col("te") &&
          col("tc") >= col("te") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("event_id")).distinct()
    val perUser = errors.groupBy(col("user_id")).agg(count(lit(1)).as("n_errors"))
    val perUserFlagged = flagged.groupBy(col("user_id")).agg(count(lit(1)).as("n_with_click"))
    perUser.join(perUserFlagged, Seq("user_id"), "left")
      .select(col("user_id"), col("n_errors"),
        coalesce(col("n_with_click"), lit(0L)).as("n_with_click"))
  }

  /** A24: funnel analysis — ordered signup → click → purchase
    * progression per user (each stage's timestamp must follow the
    * previous stage's). Three small per-user aggregates chained by
    * broadcast joins; one summary row out.
    */
  def evFunnel(t: Tables): DataFrame = {
    val ev = t.events.select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click").as("c")
      .join(broadcast(s1), "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase").as("p")
      .join(broadcast(s2), "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    s1.agg(count(lit(1)).as("n_signup"))
      .crossJoin(s2.agg(count(lit(1)).as("n_click_after")))
      .crossJoin(s3.agg(count(lit(1)).as("n_purchase_after")))
  }

  /** A23: PII-style scrubbing — mask digit runs in the raw payload
    * before long-term storage (the ELK-bound form), keeping a count of
    * masked spans for auditability.
    */
  def evScrubProps(t: Tables): DataFrame =
    t.events
      .select(col("event_id"),
        regexp_replace(col("props"), "[0-9]+", "#").as("props_masked"),
        (length(col("props")) -
          length(regexp_replace(col("props"), "[0-9]", ""))).cast("long").as("n_masked_chars"))

  /** A22: time-series gap filling — the dense hourly series between
    * the stream's bounds, zero-filled where no events landed (sequence
    * + explode; the tiny bounds row broadcasts to the counts join).
    */
  def evGapFill(t: Tables): DataFrame = {
    val counts = t.events
      .select(date_trunc("hour", col("ts")).as("hour"))
      .groupBy(col("hour")).agg(count(lit(1)).as("n_raw"))
    val hours = t.events
      .agg(date_trunc("hour", min(col("ts"))).as("h0"), date_trunc("hour", max(col("ts"))).as("h1"))
      .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
    hours.join(counts, Seq("hour"), "left")
      .select(col("hour"), coalesce(col("n_raw"), lit(0L)).as("n"))
      .orderBy(col("hour"))
  }

  /** A11: gap-based sessionization — a new session starts after a >1h
    * silence per user; per-session bounds + counts via lag + cumulative
    * sum (partitioned windows only).
    */
  def evSessionize(t: Tables, gapHours: Long = 1): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t.events
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr(s"INTERVAL $gapHours HOUR"), 1L).otherwise(0L))
      .withColumn("sid", sum(col("is_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** A43: session statistics — the dataset-card rollup over A11's
    * sessionizer: session count, mean events/session, and exact
    * interpolated p50/p90 of both session size and session duration
    * (seconds). Reuses evSessionize's single user-keyed window stage
    * and adds one small aggregate over the (users · sessions)-bounded
    * relation — no new shuffle class; duration is exact integer
    * seconds off unix_micros so the mean needs no decimal routing.
    */
  def evSessionStats(t: Tables, gapHours: Long = 1): DataFrame =
    evSessionize(t, gapHours)
      .withColumn("dur_sec",
        ((unix_micros(col("session_end")) - unix_micros(col("session_start"))) /
          lit(1000000L)).cast("long"))
      .agg(
        count(lit(1)).as("n_sessions"),
        r6(sum(col("n_events")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_events_r"),
        r4(expr("percentile(n_events, 0.5)")).as("events_p50"),
        r4(expr("percentile(n_events, 0.9)")).as("events_p90"),
        r6(sum(col("dur_sec")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_dur_sec_r"),
        r4(expr("percentile(dur_sec, 0.5)")).as("dur_p50"),
        r4(expr("percentile(dur_sec, 0.9)")).as("dur_p90"))

  /** A31: cohort retention — users cohorted by first-active day; for
    * each (cohort day, day offset) the number of cohort users active
    * again that day. The activation/stickiness rollup every event
    * platform derives from its emitted stream.
    *
    * Scale shape: ONE user-keyed shuffle — per-user active-day sets
    * are collect_set partials merged map-side (state per user is
    * calendar-bounded, ~365·years entries, NOT event-volume), the
    * cohort day is array_min of the same set (no second aggregate, no
    * join-back), and the rollup keys (cohort_day, day_offset) are
    * calendar²-bounded with an additive count — no count-distinct
    * shuffle anywhere. date_trunc (timestamp) rather than to_date so
    * both engines hash the same physical type.
    */
  def evRetention(t: Tables): DataFrame = {
    val perUser = t.events
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .groupBy(col("user_id"))
      .agg(collect_set(col("day")).as("days"))
      .select(array_min(col("days")).as("cohort_day"), explode(col("days")).as("day"))
    perUser
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** A50: cohort lifetime value — A31's monetary cousin: users
    * cohorted by first-active day; per (cohort, day offset) the
    * decimal-exact value booked that day, the day's active users, and
    * the cohort's CUMULATIVE value (the LTV curve growth teams read).
    * Same scale shape as A31 — one user-keyed aggregate over the
    * calendar-bounded (user, day, value) relation, cohort day from a
    * window over that same relation (no corpus re-scan for the min),
    * then a calendar²-bounded rollup; the running sum rides a window
    * over THAT tiny relation, not the corpus.
    */
  def evCohortLtv(t: Tables): DataFrame = {
    val perUserDay = t.events
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"), col("value"))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("value").cast(DecimalType(18, 6))).as("day_value_dec"))
    val withCohort = perUserDay
      .withColumn("cohort_day",
        min(col("day")).over(Window.partitionBy(col("user_id"))))
    val rollup = withCohort
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_active"),
        sum(col("day_value_dec")).as("value_dec"))
    val w = Window.partitionBy(col("cohort_day")).orderBy(col("day_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rollup
      .withColumn("cum_value_dec", sum(col("value_dec")).over(w))
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("value_dec").cast("double").as("day_value"),
        col("cum_value_dec").cast("double").as("cum_value"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** A34: per-user state-transition matrix — for each user's event
    * sequence (ordered by ts, event_id), every consecutive
    * (event_type → next event_type) pair rolled up corpus-wide:
    * transition count, total gap time, and the row-conditional
    * probability P(to | from). The Markov-chain view of the stream —
    * the reference's k8s analog is Normal/Warning phase flips per
    * object, and at the pipeline level it's what powers "what happens
    * after an error" dashboards (A27 asks one fixed question of this
    * matrix).
    *
    * Scale shape: ONE user-keyed shuffle for the lead() window (user
    * cardinality keys, per-user sequences are bounded and sorted once),
    * then an additive rollup on #types² keys. The per-from totals are a
    * window over THAT AGGREGATED relation (#types² rows, ≤ #types per
    * group — bounded both ways), not a self-join back to a re-derived
    * aggregate: the join-back form re-scanned and re-windowed the whole
    * corpus for the totals side (the subtrees differ, so no exchange
    * reuse). Gap sums are integer µs (exact); the probability divides
    * two exact longs at the end — same two ops in the oracle,
    * bit-portable.
    */
  def evStateTransitions(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = t.events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .withColumn("gap_us", unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"), sum(col("gap_us")).as("gap_us_total"))
    trans
      .withColumn("n_from", sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n"), col("gap_us_total"),
        r6(col("n").cast("double") / col("n_from").cast("double")).as("p_r"))
  }

  /** A71: seasonal-adjusted anomaly card — hourly counts scored
    * against the per-(type, hour-of-day) baseline instead of A29's
    * global one, so the 3 AM lull and the noon peak each get their
    * own normal band and a quiet-hour burst that hides under the
    * global mean still flags. Baselines are integer moments (k, Σn,
    * Σn² — exact, order-free) turned into μ/σ by the same double ops
    * on both engines; z is r6'd BEFORE the flag compare so the flag
    * bit is engine-portable. Composes A46 (which profiles the
    * seasonality) with A29 (which alarms) into one relation.
    *
    * Scale shape: one hourly rollup of the corpus (map-side
    * combined), one ≤ types×24-row baseline aggregate broadcast back
    * over the rollup — the corpus is scanned once and nothing wider
    * than the calendar-bounded hourly relation ever shuffles.
    */
  def evAnomalySeasonal(t: Tables, zFlag: Double = 3.0): DataFrame = {
    val hourly = t.events
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hour_idx"))
      .groupBy(col("event_type"), col("hour_idx"))
      .agg(count(lit(1)).as("n"))
      .withColumn("hod", col("hour_idx") % 24)
    val base = hourly
      .groupBy(col("event_type").as("bt"), col("hod").as("bh"))
      .agg(count(lit(1)).as("k"), sum(col("n")).as("s1"),
        // n² through DECIMAL(38,0): exact at any hourly volume (a
        // long×long would ANSI-throw past ~3e9 events/hour)
        sum(col("n").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * col("n")).as("s2"))
      .select(col("bt"), col("bh"),
        (col("s1").cast("double") / col("k").cast("double")).as("mu"),
        sqrt(greatest(
          col("s2").cast("double") / col("k").cast("double") -
            (col("s1").cast("double") / col("k").cast("double")) *
            (col("s1").cast("double") / col("k").cast("double")),
          lit(0.0))).as("sigma"))
    hourly.join(broadcast(base),
        col("event_type") === col("bt") && col("hod") === col("bh"))
      .withColumn("z_r",
        when(col("sigma") > 0.0, r6((col("n").cast("double") - col("mu")) / col("sigma"))))
      .select(col("event_type"), col("hour_idx"), col("n"), col("hod"),
        r6(col("mu")).as("mu_r"), col("z_r"),
        (abs(coalesce(col("z_r"), lit(0.0))) > zFlag).as("flagged"))
  }

  /** A70: stationary distribution of the event-type Markov chain —
    * `iters` fixed power-iteration steps over A34's transition
    * counts, all arithmetic on the 1e-12 integer lattice (the D19
    * pagerank convention): each step's edge term is
    * (p·n) div n_from, one exact truncating integer op, so the whole
    * recursion is bit-reproducible and the oracle can unroll the
    * identical steps as chained CTEs. Per-step truncation mass
    * (≤ k² lattice units) and mass entering types with no outgoing
    * edges are dropped by declared semantics — identically on both
    * engines. The stationary vector is where the per-session type
    * mix settles; its gap to A55's raw type share measures how far
    * the observed mix sits from the chain's equilibrium.
    *
    * Scale shape: the corpus pays ONE windowed pass (lead-by-user →
    * k²-row transition counts, localCheckpoint-truncated); each
    * iteration is then a broadcast join of the ≤k-row vector with
    * the k²-row matrix — 10 iterations are 10 tiny stages, never 10
    * corpus scans, and the driver only ever plans (no collect).
    */
  def evStationaryDist(t: Tables, iters: Int = 10): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = graft.operators.Dedup.stableCheckpoint(t.events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_from", sum(col("n")).over(Window.partitionBy(col("from_type")))))
    val types = trans.select(col("from_type").as("event_type"))
      .union(trans.select(col("to_type").as("event_type"))).distinct()
    var p = types.crossJoin(broadcast(types.agg(count(lit(1)).as("k"))))
      .select(col("event_type"), expr("1000000000000 div k").as("p"))
    for (_ <- 1 to iters) {
      p = p.join(broadcast(trans), col("event_type") === col("from_type"))
        .select(col("to_type"),
          expr("CAST((CAST(p AS DECIMAL(38,0)) * n) div n_from AS LONG)").as("term"))
        .groupBy(col("to_type")).agg(sum(col("term")).as("p"))
        .select(col("to_type").as("event_type"), col("p"))
    }
    p.select(col("event_type"), col("p").as("p_e12"),
        r6(col("p").cast("double") / lit(1e12)).as("p_r"))
      .orderBy(col("event_type"))
  }

  /** A36: per-user lifespan profile — event count, first/last seen,
    * distinct active days, span in hours, events per active day (the
    * per-entity activity relation retention/engagement analyses start
    * from; the reference's uid keyspace seen longitudinally). ONE
    * user-keyed shuffle (high-cardinality key — scales); span math is
    * exact integer µs diffed then one deterministic double divide, r6.
    */
  def evUserLifespan(t: Tables): DataFrame =
    t.events.select(col("user_id"), col("ts"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"),
        countDistinct(date_trunc("day", col("ts"))).as("active_days"))
      .select(col("user_id"), col("n_events"), col("first_ts"), col("last_ts"),
        col("active_days"),
        r6((unix_micros(col("last_ts")) - unix_micros(col("first_ts"))) / lit(3.6e9))
          .as("span_hours_r"),
        r6(col("n_events").cast("double") / col("active_days").cast("double"))
          .as("events_per_day_r"))

  /** A35: event-type co-occurrence matrix — for every unordered type
    * pair, the number of (user, hour) cells where both occur (the
    * symmetric "which behaviors travel together" generalization of
    * A27's one fixed ordered question). The distinct projection
    * collapses raw volume to ≤ users·hours·#types cells BEFORE the
    * self-join; the join keys on (user, hour) — high-cardinality, and
    * per-cell fan-out is bounded at #types² by construction.
    */
  def evCooccurrence(t: Tables): DataFrame = {
    val cells = t.events
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .distinct()
    val b = cells.select(col("user_id").as("u2"), col("hour").as("h2"),
      col("event_type").as("type_b"))
    cells.join(b,
        col("user_id") === col("u2") && col("hour") === col("h2") &&
          col("event_type") < col("type_b"))
      .select(col("event_type").as("type_a"), col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_cooccur"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** A63: per-type value profile — the metric-summary card for the
    * event payload (`value`): count, decimal-exact total, mean, and
    * exact interpolated p50/p90/p99. The p99-vs-mean gap per type is
    * the long-tail read that sizes A52's SLO budgets and A29's
    * anomaly thresholds from data. ONE aggregate keyed on #types
    * (exact percentiles collect per-group values on the executors —
    * bounded groups; B24's sketch is the 100 TB swap per B11's
    * convention).
    */
  def evValueProfile(t: Tables): DataFrame =
    t.events
      .select(col("event_type"), col("value"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total"),
        r6(sum(col("value").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)).cast("double")).as("mean_r"),
        r4(expr("percentile(value, 0.5)")).as("p50"),
        r4(expr("percentile(value, 0.9)")).as("p90"),
        r4(expr("percentile(value, 0.99)")).as("p99"))
      .orderBy(col("event_type"))

  /** A60: user-activity power-law fit (E33's Zipf OLS on the traffic
    * side) — the slope of ln(events) on ln(rank) over the top-K most
    * active users. Near −1 ⇒ genuinely power-law traffic, which is the
    * EMPIRICAL justification for the skew machinery (B44 salting, AQE
    * skew splits, B14's two-phase distincts): one hot user owning a
    * constant fraction of a 100 TB stream is exactly what this
    * relation detects before the shuffle discovers it the hard way.
    * Top-K is a two-stage exact TakeOrdered; the rank window and
    * integer micro-ln moment sums ride the K-row relation only.
    */
  def evUserZipf(t: Tables, topK: Int = 100): DataFrame = {
    val top = t.events
      .select(col("user_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id").asc)
      .limit(topK)
    val ranked = top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("user_id").asc)).cast("long"))
      .select(
        floor(log(col("rank").cast("double")) * 1e6 + 0.5).cast("long").as("xm"),
        floor(log(col("n").cast("double")) * 1e6 + 0.5).cast("long").as("ym"))
    val nD = col("k").cast("double")
    val sxx = col("sxx") - col("sx") * col("sx") / nD
    val syy = col("syy") - col("sy") * col("sy") / nD
    val sxy = col("sxy") - col("sx") * col("sy") / nD
    val slope = sxy / sxx
    ranked.agg(
      count(lit(1)).as("k"),
      sum(col("xm")).cast("double").as("sx"),
      sum(col("ym")).cast("double").as("sy"),
      sum(col("xm") * col("ym")).cast("double").as("sxy"),
      sum(col("xm") * col("xm")).cast("double").as("sxx"),
      sum(col("ym") * col("ym")).cast("double").as("syy"))
      .select(col("k"),
        when(sxx > 0, r6(slope)).as("zipf_slope_r"),
        when(sxx > 0 && syy > 0, r6(sxy * sxy / (sxx * syy))).as("r2_r"))
  }

  /** A58: type-affinity lift over A35's co-occurrence basis — the
    * normalized association A35's raw counts can't give: lift(a,b) =
    * P(a∧b)/(P(a)·P(b)) over distinct (user, hour) baskets, > 1 ⇔
    * the types attract (error-after-click at the population level),
    * < 1 ⇔ they repel. Shape: the same distinct-cell self-join as A35
    * plus two broadcast per-type marginals and a broadcast 1-row
    * basket total; lift multiplies exact BIGINT counts first and
    * divides ONCE in double (r6'd), so the relation is
    * engine-deterministic.
    */
  def evTypeAffinity(t: Tables): DataFrame = {
    val cells = t.events
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .distinct()
    val b = cells.select(col("user_id").as("u2"), col("hour").as("h2"),
      col("event_type").as("type_b"))
    val pairCounts = cells.join(b,
        col("user_id") === col("u2") && col("hour") === col("h2") &&
          col("event_type") < col("type_b"))
      .select(col("event_type").as("type_a"), col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_cooccur"))
    val marg = cells.groupBy(col("event_type")).agg(count(lit(1)).as("n_m"))
    val total = cells.select(col("user_id"), col("hour")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    pairCounts
      .join(broadcast(marg.select(col("event_type").as("ma"), col("n_m").as("n_a"))),
        col("type_a") === col("ma"))
      .join(broadcast(marg.select(col("event_type").as("mb"), col("n_m").as("n_b"))),
        col("type_b") === col("mb"))
      .crossJoin(broadcast(total))
      .select(col("type_a"), col("type_b"), col("n_cooccur"), col("n_a"), col("n_b"),
        r6((col("n_cooccur") * col("n_baskets")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift_r"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** A37: SLIDING-window burst rates — per-type counts over 1-hour
    * windows advancing every 15 minutes (A7's tumbling hour cannot see
    * a burst straddling an hour boundary; the 4× overlap is the
    * standard fix). Spark's `window(ts, len, slide)` explodes each
    * event into len/slide rows map-side — a narrow ×4 Expand, then the
    * same (window, type)-keyed aggregate as A7; no self-join, no
    * range join.
    */
  def evSlidingRate(t: Tables): DataFrame =
    t.events
      .select(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .groupBy(col("w.start").as("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("win_start"), col("event_type"))

  /** A54: engagement concentration — the Lorenz/Pareto read: users
    * bucketed into activity deciles by exact percentile cutoffs (the
    * A41 broadcast-cutoff pattern — never an unpartitioned ntile),
    * then per decile: users, events, event share, and the cumulative
    * share (the "top decile drives X% of traffic" curve). Heavy ties
    * in per-user counts make some deciles merge — that's the honest
    * statistic, not a bug; the cumulative window rides the ≤10-row
    * rollup only.
    */
  def evEngagementDeciles(t: Tables): DataFrame = {
    val per = t.events.select(col("user_id"))
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val cutCols = (1 to 9).map(k =>
      r4(expr(s"percentile(n, 0.${k})")).as(s"c$k"))
    val cuts = per.agg(cutCols.head, cutCols.tail: _*)
    val decile = (1 to 9).map(k =>
      when(col("n").cast("double") > col(s"c$k"), 1L).otherwise(0L))
      .reduce(_ + _) + 1L
    val total = per.agg(sum(col("n")).as("tot"))
    val byDecile = per.crossJoin(broadcast(cuts))
      .select(decile.as("decile"), col("n"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("n")).as("n_events"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile.crossJoin(broadcast(total))
      .withColumn("share_r", r6(col("n_events").cast("double") / col("tot").cast("double")))
      .withColumn("cum_events", sum(col("n_events")).over(w))
      .withColumn("cum_share_r", r6(col("cum_events").cast("double") / col("tot").cast("double")))
      .select(col("decile"), col("n_users"), col("n_events"),
        col("share_r"), col("cum_share_r"))
      .orderBy(col("decile"))
  }

  /** A55: event-type mix drift — per (day, type): the day's share vs
    * the corpus baseline share and their absolute gap (the batch
    * twin of the streaming source-drift monitor: a type that
    * vanishes or floods shows up as a large drift day). Two
    * calendar-bounded aggregates + a broadcast #types baseline;
    * drift is computed from the r6'd shares so the comparison column
    * is engine-deterministic.
    */
  def evTypeShareDrift(t: Tables): DataFrame = {
    val byDay = t.events
      .select(expr("unix_micros(ts) div 86400000000").as("dn"), col("event_type"))
      .groupBy(col("dn"), col("event_type")).agg(count(lit(1)).as("n"))
    val dayTot = byDay.groupBy(col("dn").as("d2")).agg(sum(col("n")).as("day_tot"))
    val base = t.events.groupBy(col("event_type").as("bt")).agg(count(lit(1)).as("bn"))
    val tot = t.events.agg(count(lit(1)).as("tot"))
    byDay
      .join(dayTot, col("dn") === col("d2")).drop("d2")
      .join(broadcast(base.crossJoin(tot)
        .select(col("bt"), r6(col("bn").cast("double") / col("tot").cast("double"))
          .as("base_share_r"))), col("event_type") === col("bt"))
      .withColumn("share_r", r6(col("n").cast("double") / col("day_tot").cast("double")))
      .select(
        timestamp_seconds(col("dn") * lit(86400L)).as("day"),
        col("event_type"), col("n"), col("share_r"), col("base_share_r"),
        r6(abs(col("share_r") - col("base_share_r"))).as("drift_r"))
      .orderBy(col("day"), col("event_type"))
  }

  /** A53: new vs returning actives — per day, how many of the day's
    * active users are first-ever-seen vs returning, with the new-user
    * share (the growth-vs-retention split read next to A44's DAU).
    * One distinct (user, day) relation; the cohort day rides a window
    * over that calendar-bounded relation (user-keyed — corpus
    * cardinality), then a per-day rollup. Integer day arithmetic as
    * in A44.
    */
  def evNewVsReturning(t: Tables): DataFrame = {
    val ud = t.events
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("dn"))
      .distinct()
    ud.withColumn("cohort_dn",
        min(col("dn")).over(Window.partitionBy(col("user_id"))))
      .groupBy(col("dn"))
      .agg(
        sum(when(col("dn") === col("cohort_dn"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("dn") === col("cohort_dn"), 0L).otherwise(1L)).as("n_returning"))
      .select(
        timestamp_seconds(col("dn") * lit(86400L)).as("day"),
        col("n_new"), col("n_returning"),
        r6(col("n_new").cast("double") /
          (col("n_new") + col("n_returning")).cast("double")).as("new_share_r"))
      .orderBy(col("day"))
  }

  /** A52: SLO multi-window burn rate — the SRE alerting relation: per
    * 15-min frame, the error share over the trailing 1 h AND 6 h
    * windows expressed as a multiple of the error budget, with the
    * classic two-window alert (fast window confirms it's happening
    * NOW, slow window confirms it's sustained — either alone
    * false-positives). The corpus collapses to the frame relation
    * first (calendar-bounded), trailing windows are ×4/×24 narrow
    * explodes of THAT — the A44 pattern; no self-join, no
    * range-window over raw events. Rates divide exact integer counts,
    * r6'd, so the alert predicate is engine-deterministic.
    */
  def evSloBurn(t: Tables, budget: Double = 0.1): DataFrame = {
    val frames = t.events
      .select(expr("unix_micros(ts) div 900000000").as("f"),
        (col("event_type") === "error").cast("long").as("is_err"))
      .groupBy(col("f"))
      .agg(count(lit(1)).as("tot"), sum(col("is_err")).as("err"))
    def trailing(k: Int, ea: String, ta: String): DataFrame =
      frames.select(
          explode(sequence(col("f"), col("f") + lit((k - 1).toLong))).as("tf"),
          col("err"), col("tot"))
        .groupBy(col("tf"))
        .agg(sum(col("err")).as(ea), sum(col("tot")).as(ta))
    val w1 = trailing(4, "err_1h", "tot_1h")
    val w6 = trailing(24, "err_6h", "tot_6h")
    frames.select(col("f"))
      .join(w1, col("f") === w1("tf")).drop("tf")
      .join(w6, col("f") === w6("tf")).drop("tf")
      .withColumn("burn_1h_r",
        r6(col("err_1h").cast("double") / col("tot_1h").cast("double") / lit(budget)))
      .withColumn("burn_6h_r",
        r6(col("err_6h").cast("double") / col("tot_6h").cast("double") / lit(budget)))
      .select(
        timestamp_micros((col("f") + 1) * lit(900000000L)).as("frame_end"),
        col("err_1h"), col("tot_1h"), col("burn_1h_r"),
        col("err_6h"), col("tot_6h"), col("burn_6h_r"),
        (col("burn_1h_r") > 2.0 && col("burn_6h_r") > 1.5).as("alert"))
      .orderBy(col("frame_end"))
  }

  /** A39: dormant users — the churn list: users whose LAST event is ≥
    * `hours` behind the corpus frontier (relative to max ts, not wall
    * clock, so the relation is reproducible on historical data). ONE
    * user-keyed shuffle + a broadcast 1-row frontier; hour arithmetic
    * on exact integer µs.
    */
  def evDormantUsers(t: Tables, hours: Int = 24): DataFrame = {
    val frontier = t.events.agg(max(col("ts")).as("max_ts"))
    t.events.select(col("user_id"), col("ts"))
      .groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("n_events"))
      .crossJoin(broadcast(frontier))
      .withColumn("hours_inactive",
        floor((unix_micros(col("max_ts")) - unix_micros(col("last_ts"))) / lit(3.6e9))
          .cast("long"))
      .filter(col("hours_inactive") >= hours)
      .select(col("user_id"), col("last_ts"), col("n_events"), col("hours_inactive"))
  }

  /** A41: CUSUM change-point detection over per-type hourly rates —
    * the sequential-decision complement to A29's pointwise MAD and
    * A33's EWMA: CUSUM accumulates small persistent shifts
    * (S⁺ᵢ = max(0, S⁺ᵢ₋₁ + (xᵢ − μ − k·σ))) that neither pointwise
    * detector sees, firing when S⁺ crosses h·σ. Baseline (μ, σ) comes
    * from the first `baselineHours` of each type's series — the
    * train-on-prefix discipline, no lookahead. The recursion is
    * inherently sequential per type, so it runs as a typed
    * flatMapGroups over the HOURLY-AGGREGATED relation: state per
    * group is the calendar-bounded hourly series (≤ #hours rows, like
    * A29's bounded percentile relation), never raw events; the only
    * corpus shuffle is the (type, hour) count aggregate. Oracle-gated:
    * the S⁺ recursion is a DuckDB recursive CTE over the row-numbered
    * hourly series, and the baseline moments are exact integer sums so
    * every double op is order-free and bit-identical on both engines.
    */
  def evCusumChangepoint(t: Tables, baselineHours: Int = 48,
      kSigma: Double = 0.5, hSigma: Double = 5.0): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val hourly = t.events
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n"))
      .as[(String, java.sql.Timestamp, Long)]
    val out = hourly.groupByKey(_._1).flatMapGroups { (ty, it) =>
      val rows = it.toArray.sortBy(_._2.getTime)
      val base = rows.take(baselineHours).map(_._3)
      // integer-moment baseline: Σn and Σn² are exact integers, so
      // mu/sigma are single deterministic double ops — the two-pass
      // Σ(x−mu)² form sums DOUBLES in array order, which a SQL oracle
      // cannot reproduce order-exactly (the r8 verdict's oracle-
      // conversion item hinged on this)
      val mu = base.sum.toDouble / base.length
      val sumSq = base.map(n => n * n).sum
      val sigma = math.max(
        math.sqrt(math.max(sumSq.toDouble / base.length - mu * mu, 0.0)), 1e-9)
      var s = 0.0
      rows.iterator.map { case (_, h, n) =>
        s = math.max(0.0, s + (n.toDouble - mu - kSigma * sigma))
        (ty, h, n, math.floor(s / sigma * 1e6 + 0.5) / 1e6, s > hSigma * sigma)
      }
    }.toDF("event_type", "hour", "n", "cusum_sigmas_r", "flagged")
    out
  }

  /** A38: top-k 3-step behavior paths — the most frequent consecutive
    * event-type triples across users (the path-mining view one step up
    * from A34's pair matrix; funnels you DIDN'T think to ask about
    * surface here). Both leads ride ONE user-keyed window (corpus-
    * cardinality key, same sort serves both), the rollup keys on
    * ≤#types³, and the final top-k is TakeOrderedAndProject.
    */
  def evTopPaths(t: Tables, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t.events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("step2", lead(col("event_type"), 1).over(w))
      .withColumn("step3", lead(col("event_type"), 2).over(w))
      .filter(col("step3").isNotNull)
      .select(col("event_type").as("step1"), col("step2"), col("step3"))
      .groupBy(col("step1"), col("step2"), col("step3"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("step1"), col("step2"), col("step3"))
      .limit(k)
  }

  /** A44: DAU/WAU/MAU active-user rollup — per day, distinct users
    * active that day / in the trailing 7 / trailing 30 days, plus the
    * DAU/MAU stickiness ratio. The corpus collapses to the DISTINCT
    * (user, day) relation first (calendar-bounded: users × days, NOT
    * event volume — the same vocabulary-collapse trick as E38); the
    * trailing windows are a ×7 / ×30 narrow explode of that bounded
    * relation, re-distinct'ed, then counted — no count-distinct over
    * raw events, no 30-day range self-join. Day arithmetic is integer
    * (µs div 86400e6) so both engines bucket identically.
    */
  def evActiveUsers(t: Tables): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // ONE events scan: the distinct (user, day) relation is persisted
    // and every rollup (bounds, DAU, trailing windows) derives from it
    // — without this, Catalyst re-expands the lineage and the 100 TB
    // events table is scanned once per consumer (PlanSpec pins ≤1)
    val ud = t.events
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("dn"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    ud.count() // materialize before the 4-way fan-out
    try {
      val bounds = ud.agg(min(col("dn")).as("lo"), max(col("dn")).as("hi"))
      val days = bounds.select(explode(sequence(col("lo"), col("hi"))).as("dn"))
      def trailing(daysBack: Int, alias: String): DataFrame =
        ud.select(col("user_id"),
            explode(sequence(col("dn"), col("dn") + lit(daysBack.toLong))).as("td"))
          .distinct()
          .groupBy(col("td")).agg(count(lit(1)).as(alias))
      val dau = ud.groupBy(col("dn").as("d1")).agg(count(lit(1)).as("dau"))
      val wau = trailing(6, "wau")
      val mau = trailing(29, "mau")
      days
        .join(dau, col("dn") === col("d1"), "left")
        .join(wau, col("dn") === wau("td"), "left")
        .join(mau, col("dn") === mau("td"), "left")
        .select(
          timestamp_seconds(col("dn") * lit(86400L)).as("day"),
          coalesce(col("dau"), lit(0L)).as("dau"),
          coalesce(col("wau"), lit(0L)).as("wau"),
          coalesce(col("mau"), lit(0L)).as("mau"))
        .withColumn("stickiness_r",
          when(col("mau") > 0L,
            r6(col("dau").cast("double") / col("mau").cast("double"))))
        .orderBy(col("day"))
        .localCheckpoint(true)
    } finally ud.unpersist(true)
  }

  /** A45: inter-arrival profile — time since the user's previous
    * event, grouped by the type of the CURRENT event ("how long do
    * users pause before a purchase vs an error"). The lag rides the
    * user-keyed window (corpus-cardinality key — never a per-type
    * window, which would funnel each type through one task); gaps are
    * exact integer seconds; percentiles follow B11's exact convention
    * with B24's sketch as the 100 TB swap-in.
    */
  def evInterarrival(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t.events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("gap_sec",
        ((unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))) /
          lit(1000000L)).cast("long"))
      .filter(col("gap_sec").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_gaps"),
        r6(sum(col("gap_sec")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_gap_r"),
        r4(expr("percentile(gap_sec, 0.5)")).as("gap_p50"),
        r4(expr("percentile(gap_sec, 0.9)")).as("gap_p90"),
        r4(expr("percentile(gap_sec, 0.99)")).as("gap_p99"))
      .orderBy(col("event_type"))
  }

  /** A48: linear multi-touch attribution — every purchase splits one
    * unit of credit equally across the user's touches (click / view /
    * signup) in the preceding hour; rollup per touch type. Credit is
    * an exact INTEGER micro-share (10⁶ div n_touches) so the rollup
    * sum is order-independent — summing 1/n doubles would be
    * association-dependent and engine-divergent. The purchase × touch
    * interval join shuffles both sides on user_id once; per-user
    * fan-out is rate × window bounded (at 100 TB, pre-bucketing both
    * sides by (user, hour-bucket) keeps each task's probe local).
    */
  def evAttribution(t: Tables, windowHours: Long = 1): DataFrame = {
    val ev = t.events.select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("pu"), col("ts").as("pts"))
    val touch = ev.filter(col("event_type").isin("click", "view", "signup"))
      .select(col("user_id").as("tu"), col("ts").as("tts"), col("event_type").as("touch_type"))
    val j = p.join(touch, col("pu") === col("tu") &&
        col("tts") >= col("pts") - expr(s"INTERVAL $windowHours HOUR") &&
        col("tts") < col("pts"))
      .select(col("pid"), col("touch_type"))
    val n = j.groupBy(col("pid")).agg(count(lit(1)).as("n_touch"))
    j.join(n, "pid")
      .select(col("touch_type"), expr("1000000 div n_touch").as("credit_micro"))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touches"), sum(col("credit_micro")).as("credit_total_micro"))
      .withColumn("credit_r", r6(col("credit_total_micro").cast("double") / lit(1000000.0)))
      .orderBy(col("touch_type"))
  }

  /** A46: seasonality profile — event volume by (ISO day-of-week ×
    * hour-of-day) with the within-week share (the load-shape relation
    * capacity planning and anomaly baselines read). Both keys are
    * INTEGER arithmetic on the µs epoch (day 0 = 1970-01-01 =
    * Thursday ⇒ iso_dow = ((dn+3) mod 7)+1) — no engine-specific
    * dayofweek() conventions, no timezone surface. One scan into a
    * ≤168-key aggregate.
    */
  def evSeasonality(t: Tables): DataFrame = {
    val cells = t.events
      .select(
        expr("((unix_micros(ts) div 86400000000 + 3) % 7) + 1").as("iso_dow"),
        expr("(unix_micros(ts) div 3600000000) % 24").as("hour_of_day"))
      .groupBy(col("iso_dow"), col("hour_of_day"))
      .agg(count(lit(1)).as("n_events"))
    val total = cells.agg(sum(col("n_events")).as("total"))
    cells.crossJoin(broadcast(total))
      .select(col("iso_dow"), col("hour_of_day"), col("n_events"),
        r6(col("n_events").cast("double") / col("total").cast("double")).as("share_r"))
      .orderBy(col("iso_dow"), col("hour_of_day"))
  }

  /** A41: RFM segmentation — per-user recency (seconds behind the
    * corpus frontier), frequency, monetary (exact decimal-routed value
    * sum), each bucketed into quartiles. Quartile CUTOFFS come from one
    * 1-row exact-percentile aggregate broadcast back over the per-user
    * relation — NOT an unpartitioned ntile window, which would funnel
    * every user through a single task; the cutoff-join form is
    * embarrassingly parallel and the shape that survives a
    * 1000-executor fleet (swap B24's sketch percentiles in at 100 TB).
    * Cutoffs are r4-rounded on both engines so an ulp of interpolation
    * drift can't flip a boundary user's bucket.
    */
  def evRfm(t: Tables): DataFrame = {
    val per = t.events
      .select(col("user_id"), col("ts"), col("value"))
      .groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("freq"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("monetary"))
    val frontier = per.agg(max(col("last_ts")).as("max_ts"))
    val pr = per.crossJoin(broadcast(frontier))
      .withColumn("recency_sec",
        ((unix_micros(col("max_ts")) - unix_micros(col("last_ts"))) / lit(1000000L)).cast("long"))
      .select(col("user_id"), col("recency_sec"), col("freq"), col("monetary"))
    val cuts = pr.agg(
      r4(expr("percentile(recency_sec, 0.25)")).as("r1"),
      r4(expr("percentile(recency_sec, 0.5)")).as("r2"),
      r4(expr("percentile(recency_sec, 0.75)")).as("r3"),
      r4(expr("percentile(freq, 0.25)")).as("f1"),
      r4(expr("percentile(freq, 0.5)")).as("f2"),
      r4(expr("percentile(freq, 0.75)")).as("f3"),
      r4(expr("percentile(monetary, 0.25)")).as("m1"),
      r4(expr("percentile(monetary, 0.5)")).as("m2"),
      r4(expr("percentile(monetary, 0.75)")).as("m3"))
    def bucket(c: Column, q1: Column, q2: Column, q3: Column): Column =
      when(c <= q1, 1L).when(c <= q2, 2L).when(c <= q3, 3L).otherwise(4L)
    pr.crossJoin(broadcast(cuts))
      .withColumn("r_b", bucket(col("recency_sec").cast("double"), col("r1"), col("r2"), col("r3")))
      .withColumn("f_b", bucket(col("freq").cast("double"), col("f1"), col("f2"), col("f3")))
      .withColumn("m_b", bucket(col("monetary"), col("m1"), col("m2"), col("m3")))
      .select(col("user_id"), col("recency_sec"), col("freq"), col("monetary"),
        col("r_b"), col("f_b"), col("m_b"),
        concat(lit("R"), col("r_b"), lit("F"), col("f_b"), lit("M"), col("m_b")).as("segment"))
  }

  /** A59: funnel by signup cohort — did conversion IMPROVE over time,
    * or is the aggregate funnel (A24) averaging a good January with a
    * bad March? The cascade runs once (same user-keyed min-aggregates
    * as A24/A56); each user's cohort is the week of their t1, and the
    * three stage relations roll up per cohort with r6'd conversion
    * rates. Per-cohort rollups are #weeks-cardinality; the only
    * corpus-scale work is the shared cascade.
    */
  def evFunnelByCohort(t: Tables): DataFrame = {
    val ev = t.events.select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      .withColumn("cohort_week", date_trunc("week", col("t1")))
    val s2 = ev.filter(col("event_type") === "click")
      .join(broadcast(s1.select(col("user_id"), col("t1"))), "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(broadcast(s2), "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val base = s1.groupBy(col("cohort_week")).agg(count(lit(1)).as("n_signup"))
    val clicks = s1.join(s2, "user_id")
      .groupBy(col("cohort_week")).agg(count(lit(1)).as("n_click"))
    val purchases = s1.join(s3, "user_id")
      .groupBy(col("cohort_week")).agg(count(lit(1)).as("n_purchase"))
    base
      .join(clicks, Seq("cohort_week"), "left")
      .join(purchases, Seq("cohort_week"), "left")
      .select(col("cohort_week"), col("n_signup"),
        coalesce(col("n_click"), lit(0L)).as("n_click"),
        coalesce(col("n_purchase"), lit(0L)).as("n_purchase"),
        r6(coalesce(col("n_click"), lit(0L)).cast("double") /
          col("n_signup").cast("double")).as("click_rate_r"),
        r6(coalesce(col("n_purchase"), lit(0L)).cast("double") /
          col("n_signup").cast("double")).as("purchase_rate_r"))
      .orderBy(col("cohort_week"))
  }

  /** A57: per-user behavioral entropy — the bot/automation signal:
    * scripted traffic hammers one event type (entropy ≈ 0, high
    * rate); organic users mix types. Per user: event count, distinct
    * types, Shannon entropy of the type distribution (E29's exact
    * lattice — ln(c) r6'd BEFORE the multiply, count×ln products
    * summed in DECIMAL, one scalar double finish), active span and
    * events/hour over it. ONE corpus shuffle: the (user, type)
    * aggregate combines map-side and carries min/max ts, the user
    * rollup reshuffles only #user×#type rows.
    */
  def evUserEntropy(t: Tables): DataFrame = {
    val utc = t.events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"), min(col("us")).as("lo"), max(col("us")).as("hi"))
    utc.groupBy(col("user_id"))
      .agg(
        sum(col("c")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(col("c") * r6(log(col("c").cast("double"))).cast(DecimalType(18, 6)))
          .cast("double").as("s_clnc"),
        (max(col("hi")) - min(col("lo"))).as("span_us"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        r6(log(col("n_events").cast("double")) -
          col("s_clnc") / col("n_events").cast("double")).as("entropy_r"),
        col("span_us"),
        when(col("span_us") > 0L,
          r6(col("n_events").cast("double") * lit(3.6e9) / col("span_us").cast("double")))
          .as("rate_per_hour_r"))
  }

  /** A56: funnel conversion latency — A24 counts WHO converts; this
    * measures HOW FAST: per funnel step (signup→click, click→purchase),
    * the number of converting users and the exact p50/p90 of their
    * conversion latency. The cascade is A24's (each stage a user-keyed
    * min-aggregate of the filtered event slice joined to the broadcast
    * prior stage — converters only, a shrinking relation), then each
    * step's latency relation is the user-keyed join of adjacent stages
    * and the two steps union into ONE percentile aggregate (group
    * cardinality = #steps). Latencies are exact integer µs
    * (`unix_micros` diffs — no float time math), percentiles r4'd per
    * B11's convention.
    */
  def evFunnelLatency(t: Tables): DataFrame = {
    val ev = t.events.select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(broadcast(s1), "user_id")
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(broadcast(s2), "user_id")
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val lat1 = s1.join(s2, "user_id")
      .select(lit("signup_to_click").as("step"),
        (unix_micros(col("t2")) - unix_micros(col("t1"))).as("lat_us"))
    val lat2 = s2.join(s3, "user_id")
      .select(lit("click_to_purchase").as("step"),
        (unix_micros(col("t3")) - unix_micros(col("t2"))).as("lat_us"))
    lat1.unionByName(lat2)
      .groupBy(col("step"))
      .agg(count(lit(1)).as("n_users"),
        r4(expr("percentile(lat_us, 0.5)")).as("p50_us"),
        r4(expr("percentile(lat_us, 0.9)")).as("p90_us"))
      .orderBy(col("step"))
  }

  /** A64: INTERVAL (range) join — events matched to arbitrary
    * time WINDOWS (`ts ∈ [start, end)`, boundaries NOT bucket-aligned
    * and windows overlapping), rolled up per window. The window set
    * here is derived from the stream itself — the k busiest hours,
    * widened −30/+90 minutes (the "what happened around each incident"
    * report) — but the operator is the general one: incident spans,
    * maintenance windows, deploy windows.
    *
    * Spark has no native range-join strategy: a plain `ts BETWEEN
    * start AND end` join plans BroadcastNestedLoopJoin (fine only
    * while windows broadcast) and degrades to a cartesian beyond.
    * The scale shape here is the standard CHUNKED range join: each
    * window explodes to the fixed-width time chunks it overlaps
    * (span/chunk ≤ 3 rows here — bounded by span, never corpus), each
    * event maps to exactly ONE chunk (integer µs div — no float time
    * math), and the join is a plain EQUI-join on chunk with the exact
    * `[start, end)` predicate as a post-filter. At 100 TB with a
    * corpus-scale window table (incident logs), the chunk key is the
    * shuffle key — no nested loop anywhere; AQE broadcasts the
    * window side while it fits, exactly like every dimension join.
    * The k-row busiest-hour rollup is calendar-bounded (#hours), and
    * the w_id ranking window rides that ≤k-row relation.
    */
  /** A68: burst WINDOWS — maximal runs of consecutive above-threshold
    * hours per type (threshold μ + 2σ over the type's own hourly
    * series, integer-moment exact like A49/A65), each run collapsed to
    * one row: start, end, duration, peak, volume. A29/A49 flag HOURS;
    * operators act on INCIDENTS — "three hours, peaked at 4× normal,
    * ended 02:00" — and this relation is also A64's natural window
    * feed. The gaps-and-islands shape: island id = epoch-hour − per-
    * type row_number (constant exactly while hours are consecutive),
    * all integer arithmetic.
    *
    * Scale shape: corpus collapses to the calendar-bounded hourly
    * rollup; the per-type stats join broadcasts (#types rows); the
    * islands window rides the bounded rollup keyed by type.
    */
  def evBurstWindows(t: Tables, kSigma: Double = 2.0): DataFrame = {
    val hourly = t.events
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .groupBy(col("event_type"), col("hour")).agg(count(lit(1)).as("n"))
    val stats = hourly.groupBy(col("event_type").as("et2"))
      .agg(
        (sum(col("n")).cast("double") / count(lit(1)).cast("double")).as("mu"),
        count(lit(1)).as("cnt"),
        sum(col("n") * col("n")).as("sumsq"),
        sum(col("n")).as("sumn"))
      .select(col("et2"), col("mu"),
        sqrt(greatest(
          col("sumsq").cast("double") / col("cnt").cast("double") -
            (col("sumn").cast("double") / col("cnt").cast("double")) *
            (col("sumn").cast("double") / col("cnt").cast("double")),
          lit(0.0))).as("sigma"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    hourly.join(broadcast(stats), col("event_type") === col("et2"))
      .filter(col("n").cast("double") > col("mu") + lit(kSigma) * col("sigma"))
      .withColumn("eh", expr("unix_micros(hour) div 3600000000"))
      .withColumn("grp", col("eh") - row_number().over(w))
      .groupBy(col("event_type"), col("grp"))
      .agg(
        min(col("hour")).as("start_hour"),
        max(col("hour")).as("end_hour"),
        count(lit(1)).as("n_hours"),
        max(col("n")).as("peak_n"),
        sum(col("n")).as("total_n"))
      .drop("grp")
      .orderBy(col("event_type"), col("start_hour"))
  }

  /** A69: burst IMPACT — the incident-context card composing A68's
    * windows with A64's chunked interval join: for each of the top-K
    * burst windows (by volume), what ELSE happened inside it —
    * other-type event count, distinct other types, distinct users.
    * The "was the login burst correlated with the error burst"
    * question, answered as one relation; same chunk equi-join shape
    * as A64 (window side explodes to its hour chunks, events map to
    * one chunk, exact span predicate as post-filter — no nested
    * loop), windows bounded at topK by the deterministic
    * (volume desc, type, start) ranking.
    */
  def evBurstImpact(t: Tables, kSigma: Double = 2.0, topK: Int = 20): DataFrame = {
    val rankW = Window.orderBy(col("total_n").desc, col("event_type"), col("start_hour"))
    val wins = evBurstWindows(t, kSigma)
      .orderBy(col("total_n").desc, col("event_type"), col("start_hour")).limit(topK)
      .withColumn("w_id", row_number().over(rankW).cast("long")) // ≤ topK rows
      .select(col("w_id"), col("event_type").as("burst_type"), col("start_hour"),
        (col("end_hour") + expr("INTERVAL 1 HOURS")).as("end_excl"))
    val wchunks = wins.withColumn("chunk", explode(sequence(
      expr("unix_micros(start_hour) div 3600000000"),
      expr("(unix_micros(end_excl) - 1) div 3600000000"))))
    val ev = t.events.select(col("ts"), col("event_type"), col("user_id"))
      .withColumn("chunk", expr("unix_micros(ts) div 3600000000"))
    ev.join(wchunks, "chunk")
      .filter(col("ts") >= col("start_hour") && col("ts") < col("end_excl") &&
        col("event_type") =!= col("burst_type"))
      .groupBy(col("w_id"), col("burst_type"), col("start_hour"))
      .agg(count(lit(1)).as("n_other_events"),
        countDistinct(col("event_type")).as("n_other_types"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("w_id"))
  }

  /** A67: Holt double-exponential smoothing over per-type hourly
    * rates — the FORECASTING primitive next to A33's single EWMA
    * (which tracks level only and lags any trend): level + trend
    * state, one-step-ahead forecast, residual. The residual column is
    * the trend-aware anomaly signal (A29 flags deviation from a
    * static median; this flags deviation from where the series was
    * HEADING), and the final (level, trend) pair is the capacity
    * forecast a scale-up decision reads.
    *
    * Recursion: ℓ_t = α·x_t + (1−α)(ℓ_{t−1} + b_{t−1});
    * b_t = β(ℓ_t − ℓ_{t−1}) + (1−β)b_{t−1}; forecast_t = ℓ_{t−1} +
    * b_{t−1}; seeded ℓ₁ = x₁, b₁ = 0. α, β are exact binary fractions
    * (0.5, 0.25) so every step is the same few IEEE ops with
    * identical association on both engines — the A49 recursive-CTE
    * oracle discipline. Runs as a typed flatMapGroups over the
    * calendar-bounded HOURLY rollup (state = two doubles; the only
    * corpus shuffle is the (type, hour) count).
    */
  def evHoltForecast(t: Tables, alpha: Double = 0.5, beta: Double = 0.25): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val hourly = t.events
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n"))
      .as[(String, java.sql.Timestamp, Long)]
    def r6d(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val out = hourly.groupByKey(_._1).flatMapGroups { (ty, it) =>
      val rows = it.toArray.sortBy(_._2.getTime)
      var level = 0.0
      var trend = 0.0
      var first = true
      rows.iterator.map { case (_, h, n) =>
        val x = n.toDouble
        if (first) {
          first = false
          level = x; trend = 0.0
          (ty, h, n, r6d(level), r6d(trend), null.asInstanceOf[java.lang.Double])
        } else {
          val forecast = level + trend
          val prevLevel = level
          level = alpha * x + (1.0 - alpha) * (level + trend)
          trend = beta * (level - prevLevel) + (1.0 - beta) * trend
          (ty, h, n, r6d(level), r6d(trend),
            java.lang.Double.valueOf(r6d(x - forecast)))
        }
      }
    }.toDF("event_type", "hour", "n", "level_r", "trend_r", "resid_r")
    out
  }

  /** A65: lag-k autocorrelation of per-type hourly rates — the
    * NUMERIC seasonality/persistence read next to A46's hour-of-day
    * profile and A49's CUSUM: acf(1) ≈ 0 says hourly noise, acf(24)
    * high says a daily cycle worth modeling before alerting on A29's
    * thresholds. Pearson r over (xₜ, xₜ₊ₖ) pairs where BOTH hours are
    * observed in the series.
    *
    * Scale + parity shape: the corpus collapses to the calendar-
    * bounded (type, hour) count rollup first — the per-lag self-joins
    * and moment aggregates ride that ≤ #types·#hours relation, never
    * events. All five moments are EXACT integers (counts cast to
    * decimal BEFORE multiplying — BIGINT squares overflow under ANSI;
    * HUGEINT on the DuckDB side), the numerator/denominator are exact
    * integer expressions, and doubles appear only in the final
    * num/√(denx·deny) — three deterministic ops, identical on both
    * engines. Zero-variance series (constant counts) emit null.
    */
  def evAutocorr(t: Tables, lags: Seq[Int] = Seq(1, 24)): DataFrame = {
    val h = t.events
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .groupBy(col("event_type"), col("hour")).agg(count(lit(1)).as("n"))
    val dec = DecimalType(18, 0)
    val perLag = lags.map { k =>
      val x = h.select(col("event_type"), col("hour"), col("n").as("x"))
      val y = h.select(col("event_type").as("et2"),
        col("hour").as("h2"), col("n").as("y"))
      x.join(y, col("event_type") === col("et2") &&
          col("h2") === col("hour") + expr(s"INTERVAL $k HOURS"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("x").cast(dec)).as("sx"),
          sum(col("y").cast(dec)).as("sy"),
          sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"),
          sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
          sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"))
        .select(col("event_type"), lit(k.toLong).as("lag_hours"), col("n_pairs"),
          (col("n_pairs").cast(dec) * col("sxy") - col("sx") * col("sy")).as("num"),
          (col("n_pairs").cast(dec) * col("sxx") - col("sx") * col("sx")).as("denx"),
          (col("n_pairs").cast(dec) * col("syy") - col("sy") * col("sy")).as("deny"))
    }
    perLag.reduce(_ unionByName _)
      .select(col("event_type"), col("lag_hours"), col("n_pairs"),
        when(col("denx") > 0 && col("deny") > 0,
          r6(col("num").cast("double") /
            sqrt(col("denx").cast("double") * col("deny").cast("double"))))
          .as("acf_r"))
      .orderBy(col("event_type"), col("lag_hours"))
  }

  def evIntervalJoin(t: Tables, k: Int = 20): DataFrame = {
    val hours = t.events.select(date_trunc("hour", col("ts")).as("hour"))
      .groupBy(col("hour")).agg(count(lit(1)).as("n"))
    val rankW = Window.orderBy(col("n").desc, col("hour")) // ≤ #hours rows, then limit k
    val wins = hours.orderBy(col("n").desc, col("hour")).limit(k)
      .withColumn("w_id", row_number().over(rankW).cast("long"))
      .select(col("w_id"),
        (col("hour") - expr("INTERVAL 30 MINUTES")).as("w_start"),
        (col("hour") + expr("INTERVAL 90 MINUTES")).as("w_end"))
    val wchunks = wins.withColumn("chunk",
      explode(sequence(
        expr("unix_micros(w_start) div 3600000000"),
        expr("(unix_micros(w_end) - 1) div 3600000000"))))
    val ev = t.events.select(col("ts"), col("user_id"))
      .withColumn("chunk", expr("unix_micros(ts) div 3600000000"))
    ev.join(wchunks, "chunk")
      .filter(col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .groupBy(col("w_id"), col("w_start"), col("w_end"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("w_id"))
  }

  /** A72: per-user token-bucket throttle simulation — the reference's
    * TTL cache (tasks.rs:66,184 — "emit iff quota available") is a
    * fixed-window rate limiter; this is the classic generalized one
    * (capacity `capTokens`, continuous refill of one token per
    * `usPerMicroToken`·10⁶ µs), replayed over the log to size a
    * quota BEFORE deploying it: per user, how many events the bucket
    * would have admitted vs dropped, and the tokens left at the end.
    *
    * Exactness: tokens live on an integer micro-token lattice and
    * refill is integer µs-gap division, so the recursion is
    * bit-identical to the oracle's recursive CTE (the A67/A49
    * discipline — no double drift over thousands of steps). First
    * event sees a full bucket; a consume takes exactly 10⁶ µtokens.
    *
    * Scale shape: ONE user-keyed shuffle; per-user state is two longs
    * and the sort is bounded by a user's own activity (A11's bound);
    * output is #users rows. The oracle's recursion depth is the max
    * per-user event count — bounded by the same skew A60 measures.
    */
  def evTokenBucket(t: Tables, capTokens: Int = 2,
      usPerMicroToken: Long = 43200L): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val cap = capTokens * 1000000L
    val ev = t.events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
      .as[(Long, Long, Long)]
    val out = ev.groupByKey(_._1).mapGroups { (uid, it) =>
      val rows = it.toArray.sortBy(r => (r._3, r._2))
      var tokens = cap
      var prevT = 0L
      var first = true
      var allowed = 0L
      rows.foreach { case (_, _, tus) =>
        if (!first) tokens = math.min(cap, tokens + (tus - prevT) / usPerMicroToken)
        first = false
        prevT = tus
        if (tokens >= 1000000L) { tokens -= 1000000L; allowed += 1 }
      }
      (uid, rows.length.toLong, allowed, rows.length - allowed, tokens)
    }.toDF("user_id", "n_events", "n_allowed", "n_dropped", "final_tokens")
    out
  }

  /** A73: forecast BACKTEST — does A67's Holt model actually beat the
    * naive last-value forecast on this corpus? Per type: MAE and RMSE
    * of both one-step-ahead forecasts over the same scored hours, plus
    * the verdict bit. The model-selection card an operator reads
    * before wiring A67b's online residuals into alerting — a
    * forecaster that loses to "tomorrow = today" should not gate
    * pages.
    *
    * Determinism: the Holt recursion is bit-identical across engines
    * (A67's law); residuals are r6'd BEFORE abs/square, holt squares
    * r6'd per row then DECIMAL-summed; naive errors are exact
    * integers. The final mean/sqrt are single double ops, r6'd.
    *
    * Scale shape: rides A67's calendar-bounded hourly relation — the
    * naive lag shares the same per-type ordering, the rollup keys on
    * #types. No new corpus-volume stage.
    */
  def evForecastEval(t: Tables, alpha: Double = 0.5, beta: Double = 0.25): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    val scored = evHoltForecast(t, alpha, beta)
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .filter(col("resid_r").isNotNull && col("prev_n").isNotNull)
      .select(col("event_type"),
        abs(col("resid_r")).as("h_abs"),
        r6(col("resid_r") * col("resid_r")).as("h_sq"),
        abs(col("n") - col("prev_n")).as("nv_abs"),
        ((col("n") - col("prev_n")) * (col("n") - col("prev_n"))).as("nv_sq"))
    scored.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_scored"),
        sum(col("h_abs").cast(DecimalType(18, 6))).as("sha"),
        sum(col("h_sq").cast(DecimalType(18, 6))).as("shs"),
        sum(col("nv_abs")).as("sna"),
        sum(col("nv_sq")).as("sns"))
      .select(col("event_type"), col("n_scored"),
        r6(col("sha").cast("double") / col("n_scored").cast("double")).as("holt_mae_r"),
        r6(sqrt(col("shs").cast("double") / col("n_scored").cast("double"))).as("holt_rmse_r"),
        r6(col("sna").cast("double") / col("n_scored").cast("double")).as("naive_mae_r"),
        r6(sqrt(col("sns").cast("double") / col("n_scored").cast("double"))).as("naive_rmse_r"))
      .withColumn("holt_better", col("holt_rmse_r") < col("naive_rmse_r"))
  }

  /** A74: ENTROPY RATE of the event-type Markov chain — per from-type,
    * the conditional next-step entropy H_i = −Σⱼ P_ij ln P_ij and its
    * stationary-weighted contribution π_i·H_i (whose sum is the chain's
    * entropy rate, Shannon's H(X_{t+1}|X_t)): the predictability read
    * on A34's matrix — a type with H_i ≈ 0 makes its successor nearly
    * deterministic (the scripted-flow signature next to A57's per-user
    * entropy), while high-H_i types are genuine branch points; the π
    * weighting says how much each answers for globally.
    *
    * Determinism: P_ij is a double cast of an exact integer ratio, the
    * Shannon terms are r6'd BEFORE the DECIMAL sum (order-independent),
    * π rides A70's 1e-12 integer lattice, and contrib is two
    * deterministic double multiplications r6'd.
    *
    * Scale shape: the transition matrix is A34's ONE user-keyed window
    * stage (#types² rollup); the entropy rollup and the π join both
    * run on ≤#types² / ≤#types rows.
    */
  def evMarkovEntropyRate(t: Tables, iters: Int = 10): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = t.events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("n_from", sum(col("n")).over(Window.partitionBy(col("from_type"))))
    val pij = col("n").cast("double") / col("n_from").cast("double")
    val rowEnt = trans
      .select(col("from_type"), col("n_from"),
        r6(-pij * log(pij)).as("term_r"))
      .groupBy(col("from_type"), col("n_from"))
      .agg(sum(col("term_r").cast(DecimalType(18, 6))).cast("double").as("row_entropy"))
    val pi = evStationaryDist(t, iters).select(col("event_type"), col("p_r"))
    rowEnt.join(pi, col("from_type") === col("event_type"))
      .select(col("from_type"), col("n_from"), col("p_r"),
        r6(col("row_entropy")).as("row_entropy_r"),
        r6(col("p_r") * col("row_entropy")).as("contrib_r"))
  }

  /** A77: TTL tuning LADDER — the reference's central knob
    * (config.rs CACHE_TTL) priced from the log: for each candidate
    * TTL, how many events the A3 cache semantics would emit and the
    * suppression rate bought (the C19/D37-style sensitivity curve,
    * pointed at the reference's own parameter — the card an operator
    * reads before changing CACHE_TTL in production).
    *
    * ONE user-keyed pass for ALL rungs: the emission recursion's
    * entire per-key state is `lastEmit`, so k TTLs ride the same
    * sorted group iteration as k instants + k counters — never k
    * scans (the D37 prefix-reuse discipline applied to a stateful
    * recursion). The oracle replays each rung's exact A3 recursive
    * CTE and unions the counts.
    */
  def evTtlTuning(t: Tables, ttls: Seq[Long] = Seq(1L, 6L, 24L, 96L)): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val ds = t.events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[Ev]
    val perKey = ds.groupByKey(e => s"${e.user_id}:${e.event_type}")
      .flatMapSortedGroups(col("ts"), col("event_id")) { (_, it) =>
        val lastEmit = Array.fill[Instant](ttls.length)(null)
        val counts = Array.fill(ttls.length)(0L)
        var total = 0L
        it.foreach { e =>
          total += 1
          var i = 0
          while (i < ttls.length) {
            if (lastEmit(i) == null ||
                !e.ts.isBefore(lastEmit(i).plus(ttls(i), ChronoUnit.HOURS))) {
              lastEmit(i) = e.ts
              counts(i) += 1
            }
            i += 1
          }
        }
        ttls.indices.map(i => (ttls(i), counts(i), total))
      }
      .toDF("ttl_hours", "emitted", "total")
    perKey.groupBy(col("ttl_hours"))
      .agg(sum(col("emitted")).as("n_emitted"), sum(col("total")).as("n_total"))
      .select(col("ttl_hours"), col("n_emitted"), col("n_total"),
        r6(lit(1.0) - col("n_emitted").cast("double") / col("n_total").cast("double"))
          .as("dedup_rate_r"))
  }

  /** A76: anomaly ENSEMBLE — A29 (robust static MAD), A33 (trend-aware
    * EWMA), and A71 (seasonal-adjusted z) joined into one alarm
    * relation with a vote count and the ≥2-votes consensus bit: the
    * page-worthiness triage a single detector can't give (MAD alone
    * pages on every daily peak a seasonal baseline absorbs; EWMA alone
    * goes blind after a slow ramp; consensus is the "two independent
    * models agree" bar SREs actually use). No new detection logic —
    * the three oracle-gated relations join on (type, epoch-hour), so
    * the ensemble can never drift from its members.
    *
    * Scale shape: three calendar-bounded hourly relations joined on
    * their common key — every feeder's own scale argument carries
    * over, the join is #types×#hours rows.
    */
  def evAnomalyEnsemble(t: Tables): DataFrame = {
    def eh(c: Column): Column = (unix_micros(c) / lit(3600000000L)).cast("long")
    val mad = evAnomalyMad(t).select(col("event_type"),
      eh(col("hour")).as("hour_idx"), col("n"),
      col("is_anomaly").cast("int").as("mad_flag"))
    val ew = evEwma(t).select(col("event_type").as("et2"),
      eh(col("hour")).as("h2"), col("is_spike").cast("int").as("ewma_flag"))
    val se = evAnomalySeasonal(t).select(col("event_type").as("et3"),
      col("hour_idx").as("h3"), col("flagged").cast("int").as("seasonal_flag"))
    mad
      .join(ew, col("event_type") === col("et2") && col("hour_idx") === col("h2"))
      .join(se, col("event_type") === col("et3") && col("hour_idx") === col("h3"))
      .select(col("event_type"), col("hour_idx"), col("n"),
        col("mad_flag"), col("ewma_flag"), col("seasonal_flag"))
      .withColumn("votes",
        (col("mad_flag") + col("ewma_flag") + col("seasonal_flag")).cast("int"))
      .withColumn("consensus", col("votes") >= 2)
  }

  /** A75: drop-side CUSUM — the OUTAGE detector A49 can't be: S⁺
    * accumulates upward shifts (bursts), this accumulates the
    * downward ones, S⁻ = max(0, S⁻ + (μ − kσ − x)), firing at hσ. A
    * service that quietly loses a third of its traffic never trips a
    * spike rule or A49's S⁺; the drop-side recursion integrates the
    * deficit hour over hour (the two sides together are the classic
    * two-sided CUSUM — kept as separate relations so each alarm
    * carries its own direction). Same train-on-prefix baseline,
    * integer-moment μ/σ, and recursive-CTE oracle discipline as A49.
    */
  def evCusumDrop(t: Tables, baselineHours: Int = 48,
      kSigma: Double = 0.5, hSigma: Double = 5.0): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val hourly = t.events
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .groupBy(col("event_type"), col("hour"))
      .agg(count(lit(1)).as("n"))
      .as[(String, java.sql.Timestamp, Long)]
    val out = hourly.groupByKey(_._1).flatMapGroups { (ty, it) =>
      val rows = it.toArray.sortBy(_._2.getTime)
      val base = rows.take(baselineHours).map(_._3)
      val mu = base.sum.toDouble / base.length
      val sumSq = base.map(n => n * n).sum
      val sigma = math.max(
        math.sqrt(math.max(sumSq.toDouble / base.length - mu * mu, 0.0)), 1e-9)
      var s = 0.0
      rows.iterator.map { case (_, h, n) =>
        s = math.max(0.0, s + (mu - kSigma * sigma - n.toDouble))
        (ty, h, n, math.floor(s / sigma * 1e6 + 0.5) / 1e6, s > hSigma * sigma)
      }
    }.toDF("event_type", "hour", "n", "cusum_drop_sigmas_r", "flagged")
    out
  }

  /** A78: A/B experiment card — Welch's t-test on events-per-user
    * between two HASH-ASSIGNED variants, per event type. Variant =
    * md5_60("ab:"‖user_id) mod 2 — exactly how an experimentation
    * system deterministically buckets users (salted hash, no
    * assignment table to join). The metric is each engaged user's
    * event count; per (type, variant) the EXACT integer moments
    * (n, Σc, Σc² — Σc² decimal-routed so shard sums never overflow)
    * feed mean, sample variance (n·S2−S1²)/(n(n−1)) and the Welch
    * statistic t = (m_a−m_b)/√(v_a/n_a + v_b/n_b); `significant` cuts
    * |t| at 1.96. A forecaster-grade guard: t is null when either arm
    * has <2 users or the pooled standard error is 0.
    *
    * Scale shape: ONE corpus-keyed aggregate (type,user) — the same
    * shuffle every per-user card pays — then a #types×2-row moment
    * rollup; nothing downstream exceeds #types rows. Determinism: all
    * moments integer-exact; mean/variance/t are fixed left-associated
    * double expressions mirrored verbatim in the oracle.
    */
  def evAbtest(t: Tables): DataFrame = {
    val m = abMoments(t)
    val se2 = abVarA / col("n_a").cast("double") + abVarB / col("n_b").cast("double")
    val tstat = when(col("n_a") > 1 && col("n_b") > 1 && se2 > 0.0,
      (abMeanA - abMeanB) / sqrt(se2))
    m.select(col("event_type"), col("n_a"), col("n_b"),
      r6(abMeanA).as("mean_a_r"), r6(abMeanB).as("mean_b_r"),
      r6(abMeanA - abMeanB).as("diff_r"), r6(tstat).as("t_r"),
      (abs(tstat) > 1.96).as("significant"))
  }

  /** The A78/A79 shared per-arm EXACT moment relation: per event type,
    * (n, Σc, Σc²) for each hash-assigned variant (Σc² decimal-routed).
    */
  private def abMoments(t: Tables): DataFrame = {
    val cnt = t.events
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
      .withColumn("v", graft.functions.Hashing.md5_60(
        concat(lit("ab:"), col("user_id").cast("string"))) % 2)
    def arm(v: Int, n: String, s1: String, s2: String) = Seq(
      sum(when(col("v") === v, 1L).otherwise(0L)).as(n),
      sum(when(col("v") === v, col("c")).otherwise(0L)).as(s1),
      // cast BEFORE multiplying: long*long would square on the long
      // lattice first and can overflow under ANSI for extreme per-user
      // counts (the evBotSuspects sgg construction; oracle multiplies
      // on HUGEINT the same way)
      sum(when(col("v") === v, col("c").cast(DecimalType(38, 0)) * col("c"))
        .otherwise(lit(0).cast(DecimalType(38, 0)))).as(s2))
    val aggs = arm(0, "n_a", "s1a", "s2a") ++ arm(1, "n_b", "s1b", "s2b")
    cnt.groupBy(col("event_type")).agg(aggs.head, aggs.tail: _*)
  }

  private def abMean(s1: Column, n: Column) = s1.cast("double") / n.cast("double")
  private def abVar(n: Column, s1: Column, s2: Column) =
    (n.cast("double") * s2.cast("double") - s1.cast("double") * s1.cast("double")) /
      (n.cast("double") * (n.cast("double") - 1.0))
  private def abMeanA = abMean(col("s1a"), col("n_a"))
  private def abMeanB = abMean(col("s1b"), col("n_b"))
  private def abVarA = abVar(col("n_a"), col("s1a"), col("s2a"))
  private def abVarB = abVar(col("n_b"), col("s1b"), col("s2b"))

  /** A84: conversion-WINDOW sweep — the attribution-window knob (A48
    * hardcodes 1 h; this is the C19/D37/A77 sensitivity-ladder pattern
    * pointed at it): per candidate window, how many clicks convert to
    * a purchase within it. ONE corpus-keyed window pass computes each
    * click's time-to-next-purchase (min purchase ts over the
    * user-ordered FOLLOWING frame — no self-join, no per-window
    * rescans), then every ladder rung is a conditional sum over the
    * same gap column stacked to rows; monotone in the window by
    * construction (a spec law). The card an analyst reads before
    * fixing the attribution horizon: where the curve knees is where
    * credit stops being causal.
    */
  def evConversionWindowSweep(t: Tables, windowsH: Seq[Int] = Seq(1, 6, 24)): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val gaps = t.events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("pts",
        min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .over(w))
      .filter(col("event_type") === "click")
      .select((col("pts") - unix_micros(col("ts"))).as("gap_us"))
    def conv(h: Int) =
      sum(when(col("gap_us").isNotNull &&
        col("gap_us") <= h.toLong * 3600000000L, 1L).otherwise(0L))
    val aggd = gaps.agg(count(lit(1)).as("n_clicks"),
      windowsH.map(h => conv(h).as(s"c$h")): _*)
    val stacked = aggd.select(col("n_clicks"), expr(
      s"stack(${windowsH.size}, " +
        windowsH.map(h => s"${h}L, c$h").mkString(", ") +
        ") AS (window_hours, n_converted)"))
      .select(col("window_hours"), col("n_clicks"), col("n_converted"),
        r6(col("n_converted").cast("double") / col("n_clicks").cast("double"))
          .as("rate_r"))
    stacked
  }

  /** A83: bot-suspect card — the behavioral-data curation gate run
    * BEFORE training on event streams: per user, the coefficient of
    * variation of interarrival gaps. Human (Poisson-ish) arrivals
    * have cv ≈ 1; schedulers, crons and replay bots are hyper-REGULAR
    * (cv → 0). Reports the `k` most-regular users with ≥ `minEvents`
    * events (so the card always has rows to eyeball — thresholding
    * alone returns empty on clean corpora), flag at cv < `cvFlag`.
    *
    * Scale shape: one user-keyed lag window (corpus-cardinality
    * partition key) into a user-keyed exact-moment aggregate (Σg in
    * longs, Σg² decimal-routed — month-scale micro gaps square to
    * ~10²⁵), then TakeOrdered k — no global sort materializes. The
    * variance guard (≥ 0 before sqrt) is mirrored in the oracle so
    * double rounding near zero can't diverge engines.
    */
  def evBotSuspects(t: Tables, k: Int = 20, minEvents: Long = 20,
      cvFlag: Double = 0.3): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gaps = t.events.select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("g",
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .filter(col("g").isNotNull)
    val m = gaps.groupBy(col("user_id")).agg(
        count(lit(1)).as("n_gaps"),
        sum(col("g")).as("sg"),
        sum(col("g").cast(DecimalType(38, 0)) * col("g")).as("sgg"))
      .filter(col("n_gaps") >= minEvents)
    def d(c: Column) = c.cast("double")
    val mean = d(col("sg")) / d(col("n_gaps"))
    val vr = (d(col("n_gaps")) * d(col("sgg")) - d(col("sg")) * d(col("sg"))) /
      (d(col("n_gaps")) * (d(col("n_gaps")) - 1.0))
    val cv = when(col("n_gaps") > 1 && mean > 0.0 && vr >= 0.0, sqrt(vr) / mean)
    m.select(col("user_id"), (col("n_gaps") + 1L).as("n_events"),
        r6(mean / 1000000.0).as("mean_gap_s_r"), r6(cv).as("cv_r"),
        (cv < cvFlag).as("bot_flag"))
      .filter(col("cv_r").isNotNull)
      .orderBy(col("cv_r").asc, col("user_id").asc)
      .limit(k)
  }

  /** A82: CUPED variance reduction (Deng et al. 2013 — the standard
    * experimentation trick that closes the A78/A79/A81 suite): adjust
    * each user's experiment-period metric Y by their PRE-period
    * covariate X, Y′ = Y − θ·X with θ = cov(X,Y)/var(X); at the
    * optimal θ the residual variance is var(Y)·(1 − ρ²), so the card
    * reports θ, the squared correlation (= the variance fraction CUPED
    * removes ⇒ the A79 MDE shrinks by √(1−ρ²)), and both variances.
    * Periods split at the corpus time midpoint (min + (max−min)/2 in
    * exact integer micros, one broadcast 1-row aggregate — no literal
    * calendar assumption).
    *
    * Scale shape: ONE corpus-keyed (type,user) aggregate with
    * conditional pre/post counts, then a #types-row HUGEINT/decimal
    * moment rollup; every double op a fixed left-associated expression
    * mirrored in the oracle. Guarded for var(X) = 0 or var(Y) = 0.
    */
  def evCuped(t: Tables): DataFrame = {
    val mid = t.events.agg(expr(
      "min(unix_micros(ts)) + (max(unix_micros(ts)) - min(unix_micros(ts))) DIV 2")
      .as("mid_us"))
    val xy = t.events
      .crossJoin(broadcast(mid))
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(when(unix_micros(col("ts")) < col("mid_us"), 1L).otherwise(0L)).as("x"),
        sum(when(unix_micros(col("ts")) >= col("mid_us"), 1L).otherwise(0L)).as("y"))
    def d(c: Column) = c.cast("double")
    val m = xy.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      // cast before multiplying — the long-lattice square could
      // overflow under ANSI for extreme per-user counts (abMoments fix)
      sum(col("x").cast(DecimalType(38, 0)) * col("y")).as("sxy"),
      sum(col("x").cast(DecimalType(38, 0)) * col("x")).as("sxx"),
      sum(col("y").cast(DecimalType(38, 0)) * col("y")).as("syy"))
    val vx = (d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))) /
      (d(col("n")) * (d(col("n")) - 1.0))
    val vy = (d(col("n")) * d(col("syy")) - d(col("sy")) * d(col("sy"))) /
      (d(col("n")) * (d(col("n")) - 1.0))
    val cxy = (d(col("n")) * d(col("sxy")) - d(col("sx")) * d(col("sy"))) /
      (d(col("n")) * (d(col("n")) - 1.0))
    val ok = col("n") > 1 && vx > 0.0 && vy > 0.0
    val theta = when(ok, cxy / vx)
    val rho2 = when(ok, cxy * cxy / (vx * vy))
    m.select(col("event_type"), col("n").as("n_users"),
      r6(theta).as("theta_r"), r6(rho2).as("var_reduction_r"),
      r6(vy).as("var_y_r"), r6(when(ok, vy * (lit(1.0) - rho2))).as("var_yadj_r"))
  }

  /** A81: sample-ratio-mismatch (SRM) check — the sanity gate an
    * experimentation system evaluates BEFORE reading A78's t-test: if
    * the arm sizes deviate from the designed 50/50 split beyond
    * chance, the assignment or logging pipeline is broken and every
    * downstream readout is invalid (the classic silent A/B failure).
    * Chi-square with 1 dof against the even split:
    * χ² = (n_a − n_b)²/(n_a + n_b), flagged at 3.841 (p < 0.05).
    * Shares A78's single corpus-keyed moment aggregate; #types rows.
    */
  def evAbSrm(t: Tables): DataFrame = {
    val d = (col("n_a") - col("n_b")).cast("double")
    val chi2 = d * d / (col("n_a") + col("n_b")).cast("double")
    abMoments(t).select(col("event_type"), col("n_a"), col("n_b"),
      r6(chi2).as("chi2_r"), (chi2 > 3.841).as("srm_flag"))
  }

  /** A79: experiment POWER card — the design read taken BEFORE running
    * an A/B test on this traffic: per event type, the standard error
    * of the arm-mean difference from the measured variance and arm
    * sizes, and the minimum detectable effect at the standard
    * α = 0.05 two-sided / 80 % power operating point —
    * MDE = (z_{0.975} + z_{0.80})·SE = (1.96 + 0.8416)·SE — in
    * absolute events/user and relative to the pooled mean. An
    * experimenter reads `mde_rel_r` to answer "can this metric detect
    * a 1 % move at current traffic, or do I need a longer window".
    *
    * Scale shape: shares A78's ONE corpus-keyed moment aggregate;
    * everything downstream is #types rows. Determinism: the same
    * integer moments; SE/MDE are fixed left-associated double
    * expressions mirrored in the oracle.
    */
  def evMdePower(t: Tables): DataFrame = {
    val se2 = abVarA / col("n_a").cast("double") + abVarB / col("n_b").cast("double")
    val se = when(col("n_a") > 1 && col("n_b") > 1 && se2 > 0.0, sqrt(se2))
    val pooled = (col("s1a") + col("s1b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val mde = lit(2.8016) * se
    abMoments(t).select(col("event_type"), col("n_a"), col("n_b"),
      r6(pooled).as("pooled_mean_r"), r6(se).as("se_r"),
      r6(mde).as("mde_abs_r"), r6(mde / pooled).as("mde_rel_r"))
  }
}
