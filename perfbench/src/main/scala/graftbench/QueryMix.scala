package graftbench

import graft.SparkEntry
import graft.sources.Tables

/** A one-client closed loop over a fixed list of registry queries, each
  * written to the noop sink, in the seeded order of `qmix_order.txt`
  * (whole passes over the list until the window closes).
  * Before the loop every query runs once to parquet: the warm-up, and
  * the results run.py compares with the DuckDB oracle.
  */
object QueryMix {
  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val dir = s"${ctx.inputs}/sf"
    val names = ctx.lines("qmix_queries.txt")
    val registry = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val dump = s"${ctx.work}/qmix-dump"
    val (_, warmS) = ctx.timed("warmup") {
      names.foreach(n => ctx.timed(s"warmup.$n")(registry(n)(spark, dir).coalesce(1)
        .write.mode("overwrite").parquet(s"$dump/$n")))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dump, "oracle_sql.json"),
        Json(names.map(n => n -> oracle(n)).toMap))
    }
    // whole passes only, so every query weighs the same in the figures
    val passes = ctx.lines("qmix_order.txt").grouped(names.length)
    ctx.phases.drain(spark)
    val open = ctx.window()
    val runs = passes.takeWhile(_ => open()).flatten.map { n =>
      val tablesMs =
        if (ctx.trace.enabled) ctx.timed("Tables")(Tables(spark, dir))._2 * 1000 else 0.0
      // building the DataFrame analyzes it eagerly, before the write's
      // own planning tracker starts
      var buildMs = 0.0
      val ((ok, s), c) = ctx.counts.delta(spark)(ctx.timed(s"query.$n")(
        try {
          val (df, b) = ctx.timed("build")(registry(n)(spark, dir))
          buildMs = b * 1000
          Main.noop(df)
          true
        } catch { case e: Exception => System.err.println(s"[qmix] $n: $e"); false }))
      val ph = if (ctx.trace.enabled) ctx.phases.drain(spark) else Nil
      def phase(k: String) = ph.flatMap(_.get(k)).sum
      Map("name" -> n, "s" -> s, "ok" -> ok, "tables_ms" -> tablesMs,
        "analysis_ms" -> (buildMs + phase("analysis")), "optimization_ms" -> phase("optimization"),
        "planning_ms" -> phase("planning"), "counts" -> c)
    }.toList
    Map("warm_s" -> warmS, "runs" -> runs, "dump" -> dump, "sf" -> dir)
  }
}
