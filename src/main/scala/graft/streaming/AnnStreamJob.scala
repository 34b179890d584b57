package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ONLINE ANN serving off the persisted G26 IVFPQ index — the
  * streaming twin the vector-index deploy arc was missing (the r11
  * verdict's #3 gap): dedup/CDC/quality all had stream twins, but
  * `searchIvfPqIndex` was batch-only, and a production vector service
  * answers ARRIVING queries, not batch jobs.
  *
  * Shape: every step up to the final top-k is STATELESS — the coarse
  * centers and residual codebook load once from the index artifacts
  * (bounded, the broadcast-as-literals discipline), each arriving
  * query row computes its probe cells and per-cell ADC table as
  * narrow codegen'd columns, and candidates come from a STREAM-STATIC
  * equi-join against the persisted packed code relation (tombstones
  * anti-joined — a deleted vector never serves online either). Only
  * the per-query top-k keeps state, keyed (q_id, ingest_ts) and
  * closed by the watermark like every windowed aggregate in this
  * module; the in-group sort mirrors the batch adcTopK tie rule
  * (dist asc, vec_id asc) via array_sort's struct ordering.
  *
  * StreamingSpec law: on watermark-closed queries the emitted rows ≡
  * [[graft.sources.Sinks.searchIvfPqIndex]] row-for-row.
  *
  * TWO serving forms, one scale story:
  *
  *  - [[streamAnnServe]] is the COMPOSABLE form (returns a streaming
  *    DataFrame any sink can consume) — but its stream-static join
  *    scans the full codes relation every micro-batch, because a
  *    single continuously-planned query cannot know the batch's probe
  *    cells at planning time. Small/medium indexes only.
  *  - [[streamAnnServePruned]] is the DEPLOY form (the r12 verdict's
  *    #1): foreachBatch re-plans the static side per micro-batch with
  *    `cell IN (this batch's probed cells)` on the partition column,
  *    so non-probed cell DIRECTORIES prune at planning time (the G12
  *    PartitionFilters discipline — the codes relation is written
  *    partitioned by cell). Static-side read per batch is
  *    ∝ #probed cells ≈ nQueries·nProbe/nCells of the corpus, which
  *    at 10^11 vectors is the difference between megabytes and
  *    terabytes per batch. Results are bit-identical to the batch
  *    [[graft.sources.Sinks.searchIvfPqIndex]] (same probe math, same
  *    shared scoring core), and the per-batch scan volume is recorded
  *    in [[AnnServeAudit]] / exported on the A17 /metrics surface —
  *    the runtime witness next to the spec's plan pin.
  */
object AnnStreamJob {

  /** One served micro-batch's audit record: how many queries arrived,
    * how many distinct cells they probed, how many static-side code
    * rows the pruned scan actually produced, and the executed scan
    * node strings (carrying `PartitionFilters: [cell IN (...)]` — the
    * plan-law witness).
    */
  final case class AnnServeBatchStat(batchId: Long, nQueries: Long,
      probedCells: Seq[Long], staticRowsScanned: Long,
      scanPlans: Seq[String]) {
    def nProbedCells: Long = probedCells.size.toLong
  }

  /** Accumulates [[AnnServeBatchStat]] rows across a serving query's
    * lifetime (bounded: one row per micro-batch). */
  final class AnnServeAudit {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[AnnServeBatchStat]
    def add(s: AnnServeBatchStat): Unit = synchronized { buf += s; () }
    def batches: Seq[AnnServeBatchStat] = synchronized { buf.toList }
  }

  /** `queries`: streaming (q_id: long, v: array<double>, ingest_ts:
    * timestamp). Returns (q_id, rank, vec_id, adc_dist_r) per closed
    * query.
    */
  def streamAnnServe(queries: DataFrame, rawIndexPath: String, k: Int = 5,
      m: Int = 8, nProbe: Int = 4,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = queries.sparkSession
    val sinks = graft.sources.Sinks
    // the composable form is ONE continuously-planned query, so the
    // version pointer resolves once at start — a G41 swap needs a
    // restart here; the deploy form below re-resolves per batch
    val indexPath = sinks.resolveIndexRoot(spark, rawIndexPath)
    val coarse = sinks.readQuantizer(spark, s"$indexPath/coarse")
    val pqr = sinks.readQuantizer(spark, s"$indexPath/codebook")
    val sim = graft.operators.Similarity
    // per-row probe cells and residuals: the batch path's own probe
    // (Similarity.probeCells) and the one scorer's probe relation
    val probes = sim.residualProbes(
      sim.probeCellsOf(queries.withWatermark("ingest_ts", watermarkDelay), coarse,
        nProbe, carry = Seq("ingest_ts")),
      coarse)
    // static side: packed codes, tombstones anti-joined (G32 custody
    // holds online too)
    val codesBase = spark.read.parquet(s"$indexPath/codes")
      .select(col("vec_id"), col("cell").cast("long").as("cell"), col("codes"))
    val tomb = new org.apache.hadoop.fs.Path(s"$indexPath/tombstones")
    val codes =
      if (tomb.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(tomb))
        codesBase.join(broadcast(spark.read.parquet(s"$indexPath/tombstones")
          .select(col("vec_id")).distinct()), Seq("vec_id"), "left_anti")
      else codesBase
    sim.ivfAdcScores(codes, probes, pqr, m)
      .groupBy(col("q_id"), col("ingest_ts"))
      .agg(slice(sort_array(collect_list(
        struct(col("adc_dist_r"), col("vec_id")))), 1, k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("ri", "t")))
      .select(col("q_id"), (col("ri") + 1).cast("long").as("rank"),
        col("t.vec_id").as("vec_id"), col("t.adc_dist_r").as("adc_dist_r"))
  }

  /** CELL-PRUNED online serving — the deploy form (scaladoc above).
    * `queries`: streaming (q_id: long, v: array<double>[, …]).
    * Per micro-batch: the arriving queries' probe cells are computed
    * with the SAME Spark-expression math as the batch path (bounded
    * collect, ≤ batchQueries·nProbe tuples), the persisted codes
    * relation is re-planned with `cell IN (probed)` — planning-time
    * partition pruning — and the shared scoring core produces each
    * query's exact top-k, handed to `onBatch` as bounded LOCAL rows
    * (q_id, rank, vec_id, adc_dist_r). Tombstones anti-join inside the
    * core, so G32 custody holds online here too.
    *
    * Every step is stateless (a query row is self-contained), so state
    * is structurally flat — there is nothing to watermark. Re-planning
    * per batch costs one planning pass on a bounded-literal filter;
    * the static-side read it buys down is corpus-sized.
    */
  def streamAnnServePruned(queries: DataFrame, indexPath: String,
      k: Int = 5, m: Int = 8, nProbe: Int = 4,
      audit: Option[AnnServeAudit] = None,
      metrics: Option[GraftMetricsListener] = None)(
      onBatch: (Long, Seq[(Long, Long, Long, Double)]) => Unit):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = queries.sparkSession
    val sim = graft.operators.Similarity
    val sinks = graft.sources.Sinks
    // bounded artifacts load once PER VERSION, driver-side (the
    // literal-centers discipline); the root re-resolves per micro-batch
    // (the tombstone hook) so a G41 swapIndexVersion moves this server
    // to the new version's quantizers + codes at the next batch, zero
    // restarts. The codes relation is deliberately NOT planned here.
    val qcache = new java.util.concurrent.atomic.AtomicReference[
      (String, Array[(Int, Seq[Double], Double)], Array[(Int, Seq[Double], Double)])](null)
    def quantizersFor(live: String) = {
      val c = qcache.get()
      if (c != null && c._1 == live) (c._2, c._3)
      else {
        val loaded = (live, sinks.readQuantizer(spark, s"$live/coarse"),
          sinks.readQuantizer(spark, s"$live/codebook"))
        qcache.set(loaded)
        (loaded._2, loaded._3)
      }
    }
    queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val live = sinks.resolveIndexRoot(spark, indexPath)
        val (coarse, pqr) = quantizersFor(live)
        // a float-typed query stream must serve too: cast to the
        // array<double> the probe math (and the batch path's withNorm)
        // operates in, so the stream ≡ batch probe law holds bit-for-bit
        val pcRows = sim.probeCellsOf(
            batch.select(col("q_id"),
              transform(col("v"), x => x.cast("double")).as("v"))
              .dropDuplicates("q_id"),
            coarse, nProbe)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
          .toSeq
        if (pcRows.nonEmpty) {
          val out = sinks.searchIvfPqIndexLocal(spark, live, pcRows, k, m,
            quantizers = (coarse, pqr))
          val rows = out.collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
            .toSeq
          // runtime witness: static-side scan volume off the executed
          // plan's own metrics (the GraftQueryAudit walk, scoped to the
          // CODES relation specifically — once a delete exists the plan
          // also scans `$indexPath/doc_tombstones`, and folding those
          // rows in would break the "scan == probed-cell population"
          // law the audit exists to witness)
          val codeScans = planScans(out.queryExecution.executedPlan)
            .filter(_.relation.location.rootPaths
              .exists(_.toString.contains(s"$live/codes")))
          val scanned = codeScans
            .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
          val cells = pcRows.map(_._2).distinct.sorted
          audit.foreach(_.add(AnnServeBatchStat(batchId,
            pcRows.map(_._1).distinct.size.toLong, cells, scanned,
            codeScans.map(_.toString))))
          metrics.foreach(_.recordAnnServe(pcRows.map(_._1).distinct.size.toLong,
            cells.size.toLong, scanned))
          onBatch(batchId, rows)
        } else onBatch(batchId, Seq.empty)
        ()
      }
      .start()
  }

  /** ONLINE GRAPH-ANN serving off the persisted G39 index — the r12
    * verdict's #4: the IVFPQ index served streams (above) while the
    * strictly-better-recall graph index was batch-only, so a
    * production switchover to the graph path had no serving story.
    *
    * Shape: the symmetrized edge relations (full + coarse layer) load
    * and CHECKPOINT once per served VERSION (re-symmetrizing a
    * corpus-scale edge relation per micro-batch would be the G37
    * full-scan mistake in graph clothing; the root re-resolves per
    * batch, so a G41 swap re-checkpoints once and serving moves to the
    * compacted artifact with zero dropped queries); per batch, only
    * bounded work
    * runs: arriving queries → coarse-layer beam from the sampled entry
    * → layer-0 beam over the refined edges (each round a ≤batchQ·beam
    * frontier BROADCAST into the checkpointed edges — the D41 plan),
    * tombstones re-read per batch (bounded) so deletes take effect
    * between batches, final top-k per query. Every step is stateless —
    * a query row is self-contained, nothing to watermark.
    *
    * StreamingSpec law: served rows ≡ [[graft.sources.Sinks
    * .searchGraphIndex]] row-for-row (same QRel core), before and
    * after deletes; StreamingSoakSpec: flat per-batch behavior across
    * a sustained run.
    *
    * Cache custody: the checkpointed edge/vector blocks live as long
    * as the returned query object is reachable — after `stop()`, drop
    * the reference and the ContextCleaner reclaims them (unlike the
    * audited readers' long-lived persist, nothing here needs a manual
    * unpersist handle).
    */
  def streamGraphAnnServe(queries: DataFrame, indexPath: String,
      beam: Int = 8, rounds: Int = 4, k: Int = 5, sampleMod: Int = 8)(
      onBatch: (Long, Seq[(Long, Long, Long, Double)]) => Unit):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = queries.sparkSession
    val sim = graft.operators.Similarity
    val sinks = graft.sources.Sinks
    val dd = graft.operators.Dedup
    // static artifacts: loaded + materialized ONCE PER VERSION (the
    // literal-centers discipline, graph-sized) — the root re-resolves
    // per micro-batch, so a G41 swapIndexVersion re-checkpoints the
    // new version's artifacts on its first post-swap batch (one-time
    // cost per swap, the price of moving a corpus-scale static side)
    // and every later batch serves the cached frames
    val acache = new java.util.concurrent.atomic.AtomicReference[
      (String, DataFrame, DataFrame, DataFrame)](null)
    def artifactsFor(live: String) = {
      val c = acache.get()
      if (c != null && c._1 == live) (c._2, c._3, c._4)
      else {
        val loaded = (live,
          dd.stableCheckpoint(sinks.graphIndexVectors(spark, live)),
          dd.stableCheckpoint(sim.symmetrizeEdges(
            spark.read.parquet(s"$live/edges"))),
          dd.stableCheckpoint(sim.symmetrizeEdges(
            spark.read.parquet(s"$live/coarse_edges"))))
        acache.set(loaded)
        // a version swap replaces the whole tuple: the old version's
        // corpus-scale checkpoints are dead the moment the pointer
        // moves, so release them here instead of leaking one corpus
        // per swap for the server's lifetime
        if (c != null) {
          dd.releaseCheckpoint(c._2)
          dd.releaseCheckpoint(c._3)
          dd.releaseCheckpoint(c._4)
        }
        (loaded._2, loaded._3, loaded._4)
      }
    }
    queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val live = sinks.resolveIndexRoot(spark, indexPath)
        val (eS, edges, cedges) = artifactsFor(live)
        val q = batch.select(col("q_id"), col("v")).dropDuplicates("q_id")
          .select(col("q_id"),
            transform(col("v"), x => x.cast("double")).as("qv"))
          .withColumn("qn2",
            graft.functions.VectorExprs.dot(col("qv"), col("qv")))
        val out = sinks.searchGraphIndexWith(spark, live, eS, edges,
          cedges, q, beam, rounds, k, sampleMod)
        onBatch(batchId, out.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          .toSeq)
        ()
      }
      .start()
  }

  /** ONLINE MATRYOSHKA serving off the G43 prefix-sliced artifact —
    * the streaming twin of [[graft.sources.Sinks.searchPrefixSliced]]
    * (the G37b/G40 pattern for the D56 serving path): per micro-batch,
    * arriving full-dimension queries retrieve a kPool candidate pool
    * by prefix cosine — the corpus-sized scan reads ONLY the stored
    * prefix column group, p/d of the vector bytes — and the bounded
    * pool reranks in full dimension through the planned id pushdown.
    *
    * Version-swap aware: the root re-resolves per micro-batch (the
    * G41 hook), so a swapIndexVersion lands on the next batch with
    * zero dropped queries. Stateless — a query row is self-contained,
    * nothing accumulates across batches (soak-flat by construction;
    * the artifact relations are plain parquet reads re-planned per
    * batch, no checkpointed static side to re-load on swap).
    *
    * StreamingSpec law: served rows ≡ `searchPrefixSliced` row-for-row
    * (same QRel core) — and a version swap moves the stream to the new
    * artifact on the next batch.
    */
  def streamPrefixAnnServe(queries: DataFrame, indexPath: String,
      k: Int = 5, kPool: Int = 20)(
      onBatch: (Long, Seq[(Long, Long, Long, Double)]) => Unit):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = queries.sparkSession
    val sinks = graft.sources.Sinks
    queries.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val q = batch.select(col("q_id"), col("v")).dropDuplicates("q_id")
          .select(col("q_id"),
            transform(col("v"), x => x.cast("double")).as("qv"))
          .withColumn("qn2",
            graft.functions.VectorExprs.dot(col("qv"), col("qv")))
        val out = sinks.searchPrefixSlicedQRel(spark, indexPath, q, k, kPool)
        onBatch(batchId, out.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          .toSeq)
        ()
      }
      .start()
  }

  /** All FileSourceScanExec nodes under an executed plan, through AQE
    * stages and reused exchanges (the GraftQueryAudit walk). */
  private def planScans(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def walk(n: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
      case s: QueryStageExec => s +: walk(s.plan)
      case r: ReusedExchangeExec => Seq(r)
      case other => other +: other.children.flatMap(walk)
    }
    walk(p).collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
  }
}
