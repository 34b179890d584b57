package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's per-event logic over the real k8s Event shape,
  * column-for-column (cisco-open/event-stream-for-k8s):
  *
  *  - `derivedTime` — types.rs:38: coalesce(lastTimestamp,
  *    firstTimestamp, metadata.creationTimestamp); the reference falls
  *    back to now() with a warning — here the fallback is null (a
  *    deterministic engine shouldn't inject wall-clock time; callers
  *    can filter/fill).
  *  - `eventKey` — types.rs:21: "{uid}:{resourceVersion}" with
  *    missing fields as empty strings (unwrap_or(String::default)).
  *  - `stdoutRecord` — types.rs:10-17: {"time": …, "kubernetes_event":
  *    …} (nested to avoid ELK key collisions).
  *  - `labelCounts` — tasks.rs:107-122: Prometheus events_count with
  *    missing labels as "-" (unwrap_or("-")).
  */
object KubeEventOps {

  def derivedTime(ev: Column): Column =
    coalesce(ev.getField("lastTimestamp"), ev.getField("firstTimestamp"),
      ev.getField("metadata").getField("creationTimestamp"))

  def eventKey(ev: Column): Column =
    concat(
      coalesce(ev.getField("metadata").getField("uid"), lit("")),
      lit(":"),
      coalesce(ev.getField("metadata").getField("resourceVersion"), lit("")))

  /** Parsed events + the derived `time` and cache `key` columns. An
    * event with none of the three timestamps gets a null `time`; the
    * streaming pipeline's `processingTimeFallback` is the one place
    * that fills it (see [[streamPipeline]]).
    */
  def withDerived(events: DataFrame): DataFrame =
    events
      .withColumn("time", derivedTime(col("kubernetes_event")))
      .withColumn("key", eventKey(col("kubernetes_event")))

  /** The stdout record (types.rs:10): one JSON line per event. */
  def stdoutRecord(derived: DataFrame): DataFrame =
    derived.select(
      to_json(struct(col("time"), col("kubernetes_event"))).as("line"))

  /** First-occurrence dedup on the cache key — the reference's
    * cache-miss filter (tasks.rs:98): everything after this point (the
    * stdout emit AND the Prometheus counters) sees each key once.
    */
  def dedupedByKey(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("key"))
      .orderBy(col("time").asc_nulls_last, col("kubernetes_event.metadata.uid"))
    withDerived(events)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Batch form of the full pipeline: derive → first-occurrence dedup
    * on the cache key → stdout lines. (The TTL variant composes
    * EventOps.evTtlCache semantics on the same key.)
    */
  def pipeline(events: DataFrame): DataFrame =
    stdoutRecord(dedupedByKey(events))

  /** Streaming form: watermark-bounded exact dedup on the cache key
    * (the reference's TTL cache — state expires with the watermark just
    * as clean_cache purges by CACHE_TTL).
    *
    * `processingTimeFallback` is the reference's types.rs:38 behavior
    * opt-in: when all three event timestamps are missing, substitute
    * the processing time (`current_timestamp()` — the micro-batch's
    * clock) instead of dropping the event. Off by default deliberately:
    * a wall-clock fallback makes replays non-deterministic (the
    * reference has the same property and logs a warning).
    *
    * Cache observability rides the plan itself: two CollectMetrics
    * nodes count rows entering and leaving the dedup, and
    * GraftMetricsListener derives cache_hits/cache_misses from the
    * per-batch observed metrics (reference tasks.rs:92-100). Observed
    * metrics work with ANY sink — the deployed text FileStreamSink is
    * a V1 sink whose progress reports numOutputRows = -1, so
    * sink-based accounting would read zero forever.
    */
  def streamPipeline(events: DataFrame, cacheTtl: String = "1 hour",
      processingTimeFallback: Boolean = false): DataFrame = {
    // `kes_time_null` counts the all-timestamps-missing events per
    // batch — the reference's now()-fallback warning as a counter.
    // Without the fallback those events are DROPPED (and the counter is
    // their only trace); with it they continue at processing time.
    val timed = withDerived(events)
      .observe("kes_time_null",
        sum(col("time").isNull.cast("long")).as("n"))
    val filled =
      if (processingTimeFallback)
        timed.withColumn("time", coalesce(col("time"), current_timestamp()))
      else timed
    stdoutRecord(
      filled
        .filter(col("time").isNotNull)
        .observe("kes_cache_in", count(lit(1)).as("n"))
        .withWatermark("time", cacheTtl)
        .dropDuplicatesWithinWatermark("key")
        .observe("kes_cache_out", count(lit(1)).as("n")))
  }

  /** Prometheus events_count{type, reason, kind, namespace} analog
    * (tasks.rs:107) — "-" for missing labels, and counted over the
    * *deduped* stream: the reference increments events_count only on a
    * cache miss (tasks.rs:98-122), so a redelivered duplicate never
    * bumps the counter.
    */
  def labelCounts(events: DataFrame): DataFrame =
    dedupedByKey(events)
      .select(
        coalesce(col("kubernetes_event.type"), lit("-")).as("event_type"),
        coalesce(col("kubernetes_event.reason"), lit("-")).as("event_reason"),
        coalesce(col("kubernetes_event.involvedObject.kind"), lit("-")).as("event_kind"),
        coalesce(col("kubernetes_event.involvedObject.namespace"), lit("-")).as("event_namespace"))
      .groupBy(col("event_type"), col("event_reason"), col("event_kind"), col("event_namespace"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("event_reason"), col("event_kind"), col("event_namespace"))
}
