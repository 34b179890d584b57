package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every workload gets: the session, its directories, the run
  * length and the tracing/counting hooks.
  */
final case class Ctx(spark: SparkSession, work: String, inputs: String,
    seconds: Double, trace: Trace, counts: SchedulerCounts, phases: PhaseTimes) {
  /** Starts the measured window: true while it is still open. */
  def window(): () => Boolean = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    () => System.nanoTime() < deadline
  }

  /** Wall seconds of `body`, inside a span called `name`. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = trace.span(name)(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def lines(file: String): Seq[String] =
    Files.readAllLines(Paths.get(inputs, file)).toArray.toSeq.map(_.toString).filter(_.nonEmpty)
}

/** The JVM side of the benchmark (`perfbench/run.py` starts it):
  *
  *   graftbench.Main <workload> <workDir> <inputDir> <seconds> <trace 0|1>
  *
  * It runs one workload over inputs already generated from the seed,
  * times the calls into graft, and writes the raw samples to
  * `<workDir>/result.json` (and the spans to `<workDir>/spans.json`
  * when tracing). Metrics, percentiles and output checks are computed
  * by run.py.
  */
object Main {
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val Array(workload, work, inputs, seconds, traceArg) = args
    val started = ProcessHandle.current().info().startInstant().get().toEpochMilli
    val spark = graft.GraftSession.local()
    val sessionS = (System.currentTimeMillis() - started) / 1000.0
    val trace = new Trace(traceArg == "1", s"$workload-${ProcessHandle.current().pid()}")
    val counts = new SchedulerCounts(trace.enabled)
    val phases = new PhaseTimes
    if (trace.enabled) {
      spark.sparkContext.addSparkListener(counts)
      spark.listenerManager.register(phases)
    }
    val ctx = Ctx(spark, work, inputs, seconds.toDouble, trace, counts, phases)
    val result = workload match {
      case "training_job" => TrainingJob.run(ctx)
      case "ann_index" => AnnIndex.run(ctx)
      case "query_mix" => QueryMix.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = result ++ Map("session_s" -> sessionS)
    if (trace.enabled) Files.writeString(Paths.get(work, "spans.json"), Json(trace.toJson))
    Files.writeString(Paths.get(work, "result.json"), Json(out))
    spark.stop()
  }
}
