package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** Per-query probe — the surgical sibling of [[Bench]] for iterating on
  * ONE plan without paying a full sweep:
  *
  * {{{
  * runMain graft.Probe time <sfDir> <key[,key…]> [iters]
  * runMain graft.Probe plan <sfDir> <key[,key…]> <outDir> [suffix]
  * runMain graft.Probe exec <sfDir> <key[,key…]> <outDir> [suffix]
  * }}}
  *
  * Keys substring-match the registry, like Verify's filter; `exec` also
  * knows `training_data_job`, Bench's composed-pipeline entry.
  *
  *  - `time` runs each entry through Bench's noop sink `iters` times
  *    (default 3). Per iteration it prints wall, GC and JIT seconds and
  *    the four heaviest stages by task time; then every iteration's
  *    seconds with their min and median.
  *  - `plan` writes the PRE-execution plan (`explain("formatted")`, the
  *    AQE-initial shape the code pins) to `<outDir>/<key>_<suffix>.txt`,
  *    suffix `plan` by default.
  *  - `exec` writes EVERY plan the entry executes, numbered, under an
  *    Exchange/Join tally header, to `<outDir>/<key>_<suffix>.txt`,
  *    suffix `exec` by default. Queries that eagerly checkpoint during
  *    construction (withShared / stableCheckpoint) return a bare
  *    `Scan ExistingRDD`, so the honest evidence is the plans they run,
  *    not the one they return.
  */
object Probe {
  private val Usage =
    "usage: graft.Probe <time|plan|exec> <sfDir> <key[,key…]> [iters|outDir] [suffix]"

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus)
    try run(spark, args.toSeq) finally spark.stop()
  }

  /** Bench's composed-pipeline entry: benched outside the registry. */
  private val Tdj = "training_data_job"

  private def execute(spark: SparkSession, sfDir: String, name: String): Unit =
    if (name == Tdj) TrainingDataJob.run(graft.sources.Tables(spark, sfDir), "target/probe-tdj")
    else SparkEntry.queries(name)(spark, sfDir).write.mode("overwrite").format("noop").save()

  /** Runs the probe on the caller's session and leaves it running;
    * progress lines go to `emit`.
    */
  def run(spark: SparkSession, args: Seq[String], emit: String => Unit = println): Unit = {
    require(args.length >= 3, Usage)
    val Seq(mode, sfDir, keys) = args.take(3)
    val pats = keys.split(',').filter(_.nonEmpty)
    def matching(names: Iterable[String]): Seq[String] =
      names.filter(n => pats.exists(n.contains)).toSeq.sorted
    def out(name: String, default: String): String = {
      require(args.length >= 4, Usage)
      new java.io.File(args(3)).mkdirs()
      s"${args(3)}/${name}_${args.lift(4).getOrElse(default)}.txt"
    }
    mode match {
      case "time" =>
        val iters = args.lift(3).fold(3)(_.toInt)
        matching(SparkEntry.queries.keys).foreach(time(spark, sfDir, _, iters, emit))
      case "plan" =>
        matching(SparkEntry.queries.keys).foreach { name =>
          val path = out(name, "plan")
          write(path, SparkEntry.queries(name)(spark, sfDir).queryExecution
            .explainString(ExplainMode.fromString("formatted")))
          emit(s"PROBE plan $name -> $path")
        }
      case "exec" =>
        matching(SparkEntry.queries.keys ++ Seq(Tdj)).foreach { name =>
          val path = out(name, "exec")
          val n = exec(spark, sfDir, name, path)
          emit(s"PROBE exec $name executions=$n -> $path")
        }
      case _ => throw new IllegalArgumentException(Usage)
    }
  }

  private def write(path: String, text: String): Unit = {
    val pw = new java.io.PrintWriter(path)
    try pw.println(text) finally pw.close()
  }

  private def time(spark: SparkSession, sfDir: String, name: String, iters: Int,
      emit: String => Unit): Unit = {
    def gcMillis: Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def jitMillis: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    // per-stage task-time accounting, to localize warmup/slow modes
    val stages = new ConcurrentHashMap[Int, (String, Long)]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        stages.put(sc.stageInfo.stageId, (f"in=${m.inputMetrics.recordsRead}%,d " +
          f"sR=${m.shuffleReadMetrics.recordsRead}%,d sW=${m.shuffleWriteMetrics.recordsWritten}%,d " +
          f"spillMem=${m.memoryBytesSpilled / 1048576}%,dMB spillDisk=${m.diskBytesSpilled / 1048576}%,dMB " +
          f"tasks=${sc.stageInfo.numTasks}", m.executorRunTime))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val ts = try (1 to iters).map { i =>
      stages.clear()
      val (t0, g0, j0) = (System.nanoTime(), gcMillis, jitMillis)
      execute(spark, sfDir, name)
      val secs = (System.nanoTime() - t0) / 1e9
      emit(f"PROBE $name iter=$i $secs%.3f s " +
        f"gc=${(gcMillis - g0) / 1000.0}%.1f s jit=${(jitMillis - j0) / 1000.0}%.1f s")
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      stages.asScala.toSeq.sortBy(-_._2._2).take(4).foreach { case (id, (desc, t)) =>
        emit(f"  stage $id%4d ${t / 1000.0}%8.1f s-task  $desc")
      }
      secs
    } finally spark.sparkContext.removeSparkListener(listener)
    val s = ts.sorted
    emit(f"PROBE $name iters=${ts.map(t => f"$t%.2f").mkString(",")} " +
      f"min=${s.head}%.2f median=${s(s.size / 2)}%.2f")
  }

  /** Writes every plan `name` executes to `path`; returns their count. */
  private def exec(spark: SparkSession, sfDir: String, name: String, path: String): Int = {
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      execute(spark, sfDir, name)
      // QueryExecutionListener delivery is async on the listener bus
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val all = plans.asScala.toSeq
    def tally(token: String): Int = all.map(p => token.r.findAllIn(p).size).sum
    val header =
      s"""query: $name
         |executions: ${all.size}
         |exchanges: ${tally("Exchange (hash|range|Single|Round)")}
         |sort_merge_joins: ${tally("SortMergeJoin")}
         |broadcast_hash_joins: ${tally("BroadcastHashJoin")}
         |shuffled_hash_joins: ${tally("ShuffledHashJoin")}
         |cartesian: ${tally("CartesianProduct")}
         |""".stripMargin
    write(path, header + "\n" + all.zipWithIndex.map { case (p, i) =>
      s"=== execution ${i + 1} of ${all.size} ===\n$p"
    }.mkString("\n"))
    all.size
  }
}
