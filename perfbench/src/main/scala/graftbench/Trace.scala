package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around the harness's calls into graft. A span has a
  * name, start and end (ns), the index of its parent span (-1 at the
  * top) and the run id; they are written out once, when the run ends.
  * With tracing off `span` only runs its body.
  */
final class Trace(val enabled: Boolean, runId: String) {
  final case class Span(name: String, start: Long, end: Long, parent: Int)

  private val spans = ArrayBuffer[Span]()
  private var open = List.empty[Int]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.length
      spans += Span(name, System.nanoTime(), 0L, open.headOption.getOrElse(-1))
      open = idx :: open
      try body
      finally {
        open = open.tail
        spans(idx) = spans(idx).copy(end = System.nanoTime())
      }
    }

  def toJson: Seq[Map[String, Any]] = spans.zipWithIndex.map { case (s, i) =>
    Map("id" -> i, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
      "parent" -> s.parent, "run" -> runId)
  }.toSeq
}

/** Scheduler-side counts from Spark's public listener API. */
final class SchedulerCounts(enabled: Boolean) extends SparkListener {
  private val c = scala.collection.concurrent.TrieMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit =
    c.getOrElseUpdate(k, new AtomicLong(0)).addAndGet(v): Unit

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("input_bytes", m.inputMetrics.bytesRead)
      add("input_rows", m.inputMetrics.recordsRead)
      add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_rows", m.shuffleWriteMetrics.recordsWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("gc_ms", m.jvmGCTime)
    }
  }

  def snapshot(spark: SparkSession): Map[String, Long] = {
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    c.map { case (k, v) => k -> v.get }.toMap
  }

  /** Counts added while `body` ran (empty when counting is off). */
  def delta[T](spark: SparkSession)(body: => T): (T, Map[String, Long]) =
    if (!enabled) (body, Map.empty)
    else {
      val before = snapshot(spark)
      val r = body
      val after = snapshot(spark)
      (r, after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) })
    }
}

/** Catalyst phase times of each finished action (QueryPlanningTracker). */
final class PhaseTimes extends QueryExecutionListener {
  val done = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Double]]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    import scala.jdk.CollectionConverters._
    val ph = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
    done.add(ph ++ Map("total" -> durationNs / 1e6))
    ()
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def drain(spark: SparkSession): Seq[Map[String, Double]] = {
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    Iterator.continually(done.poll()).takeWhile(_ != null).toSeq
  }
}
