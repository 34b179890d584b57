package graftbench

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.sources.{Sinks, Tables}

/** IVF-PQ index build (`Sinks.writeIvfPqIndex`) over the seeded corpus
  * (`<inputs>/corpus`, fresh in every run), then a one-client
  * closed loop of `Sinks.searchIvfPqIndex` against it. The traced run
  * adds the graph index (`Sinks.writeGraphIndex`, one
  * `Sinks.searchGraphIndex`) and the build's layers on their own.
  */
object AnnIndex {

  private def hits(df: org.apache.spark.sql.DataFrame): Seq[Seq[Long]] =
    df.select(col("q_id").cast("long"), col("vec_id").cast("long")).collect()
      .map(r => Seq(r.getLong(0), r.getLong(1))).toSeq

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val t = Tables(spark, s"${ctx.inputs}/corpus")
    val ivfpq = s"${ctx.work}/ann/ivfpq"
    val (_, ivfS) = ctx.timed("Sinks.writeIvfPqIndex")(Sinks.writeIvfPqIndex(t, ivfpq))
    ctx.phases.drain(spark)
    // closed loop: the first (cold) search, then at least four more for the median
    val open = ctx.window()
    val calls = Iterator.from(0).takeWhile(i => i < 5 || open()).map { _ =>
      val ((rows, s), c) = ctx.counts.delta(spark)(
        ctx.timed("search.ivfpq")(hits(Sinks.searchIvfPqIndex(t, ivfpq))))
      Map("kind" -> "ivfpq", "s" -> s, "hits" -> rows,
        "stages" -> c.getOrElse("stages", 0L), "input_rows" -> c.getOrElse("input_rows", 0L))
    }.toList
    val traced = if (ctx.trace.enabled) layers(ctx, t) else Map.empty[String, Any]
    Map("ivfpq_build_s" -> ivfS, "calls" -> calls,
      "ivfpq_dir" -> ivfpq) ++ traced
  }

  /** The traced run's extra pass: the graph index build and one search
    * over the same corpus, then the build's layers on their own.
    */
  private def layers(ctx: Ctx, t: Tables): Map[String, Any] = {
    val spark = ctx.spark
    val plan = ctx.phases.drain(spark)
      .map(p => Seq("analysis", "optimization", "planning").flatMap(p.get).sum)
    val graph = s"${ctx.work}/ann/graph"
    val ((_, graphS), graphCounts) = ctx.counts.delta(spark)(
      ctx.timed("Sinks.writeGraphIndex")(Sinks.writeGraphIndex(t, graph)))
    val (graphHits, graphSearchS) =
      ctx.timed("search.graph")(hits(Sinks.searchGraphIndex(spark, graph)))
    val (_, normS) = ctx.timed("Similarity.withNorm")(Main.noop(Similarity.withNorm(t.embeddings)))
    val (_, knnS) = ctx.timed("Similarity.annKnnGraph")(Main.noop(Similarity.annKnnGraph(t)))
    // Lloyd training on its own fresh copy, so no in-JVM memo serves it
    val (_, lloydS) = ctx.timed("Sinks.writeQuantizer")(Sinks.writeQuantizer(
      Tables(spark, s"${ctx.inputs}/lloyd"), s"${ctx.work}/ann/quantizer"))
    Map("graph_dir" -> graph, "graph_build_s" -> graphS, "graph_search_s" -> graphSearchS,
      "graph_hits" -> graphHits, "layers" -> Map("norm_ms" -> normS * 1000,
        "knn_seed_ms" -> knnS * 1000,
        "build_shuffle_rows" -> graphCounts.getOrElse("shuffle_rows", 0L),
        "lloyd_ms" -> lloydS * 1000, "search_plan_ms" -> plan))
  }
}
