package graftbench

import org.apache.spark.sql.functions._

import graft.TrainingDataJob
import graft.operators.{Dedup, TextOps}
import graft.sources.Tables

/** `TrainingDataJob.run` over a derivation of the base documents,
  * each measured iteration on a freshly written corpus directory.
  */
object TrainingJob {
  private val lower = "abcdefghijklmnopqrstuvwxyz"
  private val upper = lower.toUpperCase
  private val digits = "0123456789"
  private def rot(s: String, c: Int) = s.drop(c % s.length) + s.take(c % s.length)

  /** The legacy bench's sf1 derivation: copy c shifts doc_id by c·stride
    * and rotates letters and digits; rotations come from `rotations.txt`
    * (one per copy, copy 0 is 0 = unchanged).
    */
  def derive(ctx: Ctx, dir: String): Long = {
    val docs = ctx.spark.read.parquet(s"${ctx.inputs}/documents.parquet")
    val stride = ctx.lines("doc_stride.txt").head.toLong
    val copies = ctx.lines("rotations.txt").map(_.toInt).zipWithIndex.map { case (r, c) =>
      docs.select((col("doc_id") + lit(c * stride)).as("doc_id"),
        (if (r == 0) col("text")
         else translate(col("text"), lower + upper + digits,
           rot(lower, r) + rot(upper, r) + rot(digits, r))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    val all = copies.reduce(_ union _)
    all.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    ctx.spark.read.parquet(s"$dir/documents.parquet").count()
  }

  private def iteration(ctx: Ctx, i: Int): Map[String, Any] = {
    val dir = s"${ctx.work}/tdj-$i"
    val (docs, deriveS) = ctx.timed("derive")(derive(ctx, s"$dir/corpus"))
    val t = Tables(ctx.spark, s"$dir/corpus")
    val (_, runS) = ctx.timed("TrainingDataJob.run")(TrainingDataJob.run(t, s"$dir/out"))
    Map("dir" -> dir, "docs" -> docs, "derive_s" -> deriveS, "run_s" -> runS)
  }

  /** Iterations until the window closes (at least three: the cold first
    * one, reported apart, and two for the median), each on a freshly
    * written corpus directory.
    */
  def run(ctx: Ctx): Map[String, Any] = {
    val open = ctx.window()
    val iters = Iterator.from(0).takeWhile(i => i < 3 || open()).map(iteration(ctx, _)).toList
    val layers = if (ctx.trace.enabled) traced(ctx, s"${ctx.work}/tdj-0/corpus",
      iters.head("docs").asInstanceOf[Long]) else Map.empty
    Map("iterations" -> iters, "layers" -> layers)
  }

  /** Per-layer pass over one corpus: each stage on its own to the noop
    * sink, then the composed job with scheduler counts and plan times.
    */
  private def traced(ctx: Ctx, corpus: String, docs: Long): Map[String, Any] = {
    val spark = ctx.spark
    val t = Tables(spark, corpus)
    def stage(name: String)(df: => org.apache.spark.sql.DataFrame): Double =
      ctx.timed(name)(Main.noop(df))._2 * 1000
    val scan = stage("Tables.documents")(t.documents)
    val curate = stage("TextOps.docCurate")(TextOps.docCurate(t))
    val clusters = stage("Dedup.docDedupClusters")(Dedup.docDedupClusters(t))
    val minhash = stage("Dedup.docMinhashSig")(Dedup.docMinhashSig(t))
    val materialize = stage("TrainingDataJob.materialize")(TrainingDataJob.materialize(t))
    val audit = new graft.sources.GraftQueryAudit
    spark.listenerManager.register(audit)
    ctx.phases.drain(spark)
    val out = s"${ctx.work}/tdj-traced"
    val ((_, runS), c) = ctx.counts.delta(spark)(
      ctx.timed("TrainingDataJob.run")(TrainingDataJob.run(t, out)))
    val plan = ctx.phases.drain(spark)
      .map(p => Seq("analysis", "optimization", "planning").flatMap(p.get).sum).sum
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    spark.listenerManager.unregister(audit)
    val scanRows = audit.snapshot(spark).agg(sum("scan_rows")).head.getLong(0)
    val kept = spark.read.parquet(out).count()
    Map("scan_ms" -> scan, "curate_ms" -> curate, "clusters_ms" -> clusters,
      "minhash_ms" -> minhash, "compose_ms" -> materialize,
      "write_ms" -> (runS * 1000 - materialize), "plan_ms" -> plan,
      "stages" -> c.getOrElse("stages", 0L), "tasks" -> c.getOrElse("tasks", 0L),
      "scan_rows_per_doc" -> scanRows.toDouble / docs,
      "shuffle_bytes_per_doc" -> c.getOrElse("shuffle_bytes", 0L).toDouble / docs,
      "spill_bytes" -> c.getOrElse("spill_bytes", 0L), "gc_ms" -> c.getOrElse("gc_ms", 0L),
      "kept_share" -> kept.toDouble / docs)
  }
}
