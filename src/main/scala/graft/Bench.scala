package graft

/** Per-round perf record. Honest in two ways a naive harness isn't:
  *
  *  - every query is evaluated through a noop sink (full evaluation of
  *    every output column — count() would let Catalyst prune computed
  *    columns and under-measure projection queries) with zero sink cost;
  *  - each query runs ITERS times (default 3) and reports the per-query
  *    MEDIAN — single-run numbers on a shared host swing 2-4× on
  *    untouched code — and a query that throws is recorded in `errors`
  *    with a -1 time instead of masking the crash as a fast run.
  */
object Bench {
  private val Iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt

  /** The heaviest queries get extra iterations: their medians gate the
    * round's perf verdict, and at a few seconds a run the median-of-3
    * swings with one GC pause (capped jaccard measured 2.5 s in two
    * full-bench runs and 8 s in a third on identical plans — verified
    * BroadcastHashJoin both times, pure run-order variance).
    * Median-of-(Iters+2) is stable.
    */
  private val HeavyExtra = 2
  private val Heavy =
    Set("doc_ngram_jaccard", "doc_dedup_clusters", "doc_ngram_jaccard_capped",
      "corpus_dedup_stats", "mm_phash_clusters", "doc_dedup_keep_best",
      "doc_cluster_stats", "doc_dedup_rate_by_threshold",
      // round-8 additions that run the C5/C7 feeders or iterate joins
      "doc_ngram_containment", "doc_lsh_tuning", "doc_lsh_recall",
      "ann_pagerank", "mm_dedup_keep_best",
      // round-9: the composed curate+CC funnel is the slowest single
      // query in the registry — its median gates like the CC family
      "doc_curation_funnel",
      // round-12: the NN-descent index build dominates all three;
      // their medians gate the graph family's build-cost story
      "ann_method_recall", "ann_graph_search_nnd", "ann_nnd_tuning")

  /** State-partition count for the streaming pipeline — a deploy
    * sizing knob, like shuffle partitions for batch: each micro-batch
    * pays a fixed get/commit cost PER state store, so partitions
    * should match the keyspace, not the core count. At sf0.1 (~5k
    * distinct cache keys) 32 stores are overhead-dominated: measured
    * 5.5–6.0 s with 32 vs 2.6–3.0 s with 8 for the same 4-batch run.
    * At 100 TB/day rates the same knob turns the other way. Recorded
    * in the emitted JSON for comparability.
    */
  private val StreamStateParts =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_STATE_PARTS", "8").toInt

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.size / 2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the emitted JSON carries `cpus` so rounds stay comparable
    val cpus = GraftSession.cpus
    val spark = GraftSession.local(cpus)

    // quiesce check (r12 verdict #6): medians taken at loadavg 6 showed
    // two phantom 2.5x regressions that vanished at min-of-iters. The
    // start-time load rides the JSON so a reader knows whether this run
    // was taken quiet (load1 < 2) or must be read via queries_gate.
    def loadNow(): String = scala.util.Try(new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).trim).getOrElse("")
    val loadavgStart = loadNow()
    val quiesced = scala.util.Try(
      loadavgStart.split(" ").head.toDouble < 2.0).getOrElse(false)

    val errors = scala.collection.mutable.LinkedHashMap[String, String]()

    def timed(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try { body; (System.nanoTime() - t0) / 1e9 }
      catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          -1.0
      }
    }

    def runBatchOnce(): Map[String, Double] =
      SparkEntry.queries.map { case (name, fn) =>
        name -> timed(name)(fn(spark, sfDir).write.mode("overwrite").format("noop").save())
      }

    // streaming throughput: the reference daemon's full loop (TTL-cache
    // dedup) over the whole events table via MemoryStream, 4 batches.
    def runStreamOnce(): Double = timed("stream_ttl_cache") {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      implicit val sqlCtx = spark.sqlContext
      val evs = graft.sources.Tables(spark, sfDir).events
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .as[graft.model.Ev].collect().toSeq.sortBy(e => (e.ts.toEpochMilli, e.event_id))
      val input = MemoryStream[graft.model.Ev]
      // state partitions sized to keyspace (see StreamStateParts); the
      // conf is read at query start and restored for the batch queries
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", StreamStateParts.toString)
      try {
        val q = graft.streaming.EventStreamJob.streamTtlCache(input.toDS())
          .writeStream.outputMode("append").format("noop").start()
        try {
          evs.grouped((evs.size + 3) / 4).foreach { b => input.addData(b); q.processAllAvailable() }
        } finally q.stop()
      } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }

    // G13 composed pipeline: every unit query can be green while the
    // COMPOSITION re-scans the corpus per stage (lost exchange reuse,
    // a stage accidentally recomputing its feeder) — so the whole
    // curate→dedup→split→shard→write job gets its own bench entry,
    // with a G21 audit riding along: total parquet-scan rows per run,
    // normalized by corpus size, is the "how many times did we read
    // the corpus" number PlanSpec's single-query laws can't see.
    val tdjAudit = new graft.sources.GraftQueryAudit
    def runTrainingJobOnce(dir: String, out: String): Double =
      timed("training_data_job") {
        TrainingDataJob.run(graft.sources.Tables(spark, dir), out)
      }

    val batchRuns = (1 to Iters).map(_ => runBatchOnce())
    // extra runs for the heavy set only, after the full sweeps
    val heavyRuns = (1 to HeavyExtra).map { _ =>
      SparkEntry.queries.filter { case (n, _) => Heavy(n) }.map { case (name, fn) =>
        name -> timed(name)(fn(spark, sfDir).write.mode("overwrite").format("noop").save())
      }
    }
    val streamRuns = (1 to Iters).map(_ => runStreamOnce())

    val tdjRuns = {
      spark.listenerManager.register(tdjAudit)
      try (1 to Iters).map(_ => runTrainingJobOnce(sfDir, "target/bench-tdj"))
      finally {
        // QueryExecutionListener fires async — drain the bus before
        // reading the audit
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
        spark.listenerManager.unregister(tdjAudit)
      }
    }
    // scan discipline: rows read off parquet per run / corpus rows.
    // materialize()'s single-verdict-pass shape measures 4.0 (curate,
    // dedup grams, survivors + dims); the declared budget is 8× —
    // exceeding it records a bench ERROR, the same channel a crashed
    // query uses, so the driver's gate sees a composition regression
    // (a stage re-growing its own corpus scan) even when every unit
    // query stays green.
    val tdjScanBudget = 8.0
    val tdjScanPerDoc: Double = {
      val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count().toDouble
      val scanned = tdjAudit.snapshot(spark)
        .agg(org.apache.spark.sql.functions.sum("scan_rows")).head.getLong(0).toDouble
      val perRun = scanned / math.max(Iters, 1) / math.max(nDocs, 1.0)
      if (perRun > tdjScanBudget)
        errors("training_data_job_audit") =
          f"scan_rows/doc $perRun%.1f exceeds budget $tdjScanBudget%.1f"
      math.floor(perRun * 1000) / 1000
    }

    val perQueryRuns: Map[String, Seq[Double]] = SparkEntry.queries.keys.map { name =>
      name -> (batchRuns.map(_(name)) ++ heavyRuns.flatMap(_.get(name)))
    }.toMap + ("stream_ttl_cache" -> streamRuns) + ("training_data_job" -> tdjRuns)

    val medians = perQueryRuns.map { case (name, runs) =>
      // a query that failed ANY iteration reports -1, not its fast runs
      name -> (if (runs.exists(_ < 0)) -1.0 else median(runs))
    }
    // per-query MIN rides alongside the median: min is the load-robust
    // statistic (a busy neighbor inflates median-of-3 but rarely all
    // three runs), so a verdict can separate plan regressions from host
    // contamination in one read — the exact confusion of round 7, where
    // driver medians ran 3–10× over steady-state probes of the same plan
    val mins = perQueryRuns.map { case (name, runs) =>
      name -> (if (runs.exists(_ < 0)) -1.0 else runs.min)
    }
    // per-query iteration SPREAD (max − min) rides the full JSON next
    // to median and min: a wide spread on an unchanged plan is host
    // contention, a tight spread with a moved median is a real plan
    // change — the r10/r11 verdicts had to infer this from loadavg alone
    val spreads = perQueryRuns.map { case (name, runs) =>
      name -> (if (runs.exists(_ < 0)) -1.0 else runs.max - runs.min)
    }

    // sf1 sweep: the sf0.01→0.1 exponents are overhead-dominated (sub-
    // second queries bias the exponent DOWN), so the heavy pair/cluster
    // family gets one extra data point a decade UP: a derived 10× copy
    // of sf0.1 (no sf1 testdata exists). The derivation must keep pair
    // structure LINEAR in the copy count — naive 10× duplication gives
    // every doc 9 identical clones and measures a 45×-pair corpus, not
    // a 10× one — so each copy is globally perturbed: letters+digits
    // rotated per copy (every shingle changes → cross-copy Jaccard ~0)
    // and embeddings sign-flipped on a per-copy dimension mask (a
    // diagonal orthogonal transform: within-copy cosines exact,
    // cross-copy cosines decorrelated).
    def ensureSf1(): String = {
      val out = "target/bench-sf1"
      val lower = "abcdefghijklmnopqrstuvwxyz"
      val upper = lower.toUpperCase
      val digits = "0123456789"
      def rot(s: String, c: Int) = s.drop(c % s.length) + s.take(c % s.length)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val idStride = docs.agg(org.apache.spark.sql.functions.max("doc_id")).head.getLong(0) + 1
      import org.apache.spark.sql.functions._
      (0 until 10).map { c =>
        docs.select((col("doc_id") + lit(c * idStride)).as("doc_id"),
          (if (c == 0) col("text")
           else translate(col("text"), lower + upper + digits,
             rot(lower, c) + rot(upper, c) + rot(digits, c))).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ union _).write.mode("overwrite").parquet(s"$out/documents.parquet")
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val vecStride = emb.agg(max("vec_id")).head.getLong(0) + 1
      (0 until 10).map { c =>
        emb.select((col("vec_id") + lit(c * vecStride)).as("vec_id"),
          (if (c == 0) col("embedding")
           else expr(s"transform(embedding, (x, i) -> IF((i * 31 + $c) % 2 = 0, -x, x))"))
            .as("embedding"),
          col("label"))
      }.reduce(_ union _).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      out
    }
    // expected asymptotic exponents, emitted next to the measured ones
    // so the super-linearity alarm is calibrated per query rather than
    // a blanket 1.0: doc_embed_cosine_dup is an EXACT pairwise join
    // (Ω(n²) compares by definition — its Scaladoc explains why LSH
    // candidates can't serve threshold 0.45), so 2.0 is its design
    // exponent and anything below is overhead dilution; the banded /
    // celled three are ~linear by construction.
    // ann_knn_graph: candidate volume is Σ_bucket |b|·min(|b|, cap) —
    // quadratic while buckets are below the posting cap, linear once
    // the cap binds. At sf0.1→sf1 densities (≈20 → ≈200 per bucket vs
    // cap 128) the sweep crosses the transition: declared ≈1.8 at this
    // decade, asymptote 1.0.
    val sf1Expected = Map("doc_ngram_jaccard" -> 1.2, "doc_dedup_clusters" -> 1.2,
      "doc_embed_cosine_dup" -> 2.0, "doc_semdedup" -> 1.2,
      "doc_ngram_jaccard_capped" -> 1.2, "doc_ngram_containment" -> 1.2,
      "ann_knn_graph" -> 1.8,
      // C5-feeder composite (pair volume dominates) and the knn-edge
      // build under PageRank (cap-transition decade, like ann_knn_graph)
      "doc_lsh_tuning" -> 1.2, "ann_pagerank" -> 1.8,
      // media family: keep-best = phash banding + CC rounds (the
      // doc_dedup_clusters reasoning); frame pairs declared ~2.0 ON
      // THIS derived corpus — letter rotation preserves most byte
      // GRADIENTS (only wrap chars change order), so cross-copy frames
      // collide perceptually and pair volume grows ~copies²; real
      // corpora shard the banding by chunk like every pair family
      "mm_dedup_keep_best" -> 1.2, "mm_frame_phash_pairs" -> 2.0,
      // composed G13 job: curate + keep-best dedup + split + shard +
      // write — every stage rides a ≤1.2 family, and the verdict joins
      // are corpus-keyed equi-joins, so the composition declares 1.2
      "training_data_job" -> 1.2,
      // curate verdict + CC feeder composition (measured warm sf1
      // probe 18.6 s vs 3.8 s sf0.1 ⇒ ~0.7)
      "doc_curation_funnel" -> 1.2,
      // IVFPQ end-to-end (r10): two Lloyd trainings per call (rounds ×
      // one narrow pass + one (cell,dim) aggregate each), residual
      // encode, bounded broadcast probes — every stage linear
      "ann_ivf_rpq" -> 1.2,
      // r11 method-recall ledger: dominated by the multi-table knn
      // edge build (the ann_knn_graph candidate-volume argument, in
      // its cap-transition decade) + one brute-force pass; the search
      // legs are bounded probes
      "ann_method_recall" -> 1.8,
      // r12 NN-descent search: the seed edge build is the ann_knn_graph
      // class (cap-transition decade, 1.8); the descent rounds are
      // kOut²·N candidate joins (linear) and the search is bounded
      // broadcast probes — declared at the dominant term
      "ann_graph_search_nnd" -> 1.8,
      // same dominant term (one descent chain + bounded per-level
      // searches over its own checkpointed intermediates)
      "ann_nnd_tuning" -> 1.8)
    val HeavySf1 = Seq("doc_ngram_jaccard", "doc_dedup_clusters",
      "doc_embed_cosine_dup", "doc_semdedup",
      "doc_ngram_jaccard_capped", "doc_ngram_containment",
      "ann_knn_graph", "doc_lsh_tuning", "ann_pagerank",
      "mm_dedup_keep_best", "mm_frame_phash_pairs", "training_data_job",
      "doc_curation_funnel", "ann_ivf_rpq", "ann_method_recall",
      "ann_graph_search_nnd", "ann_nnd_tuning")
    val sf1Secs: Map[String, Double] =
      if (sys.env.getOrElse("SPARK_GRAFT_SCALE_SF1", "1") == "0") Map.empty
      else {
        val dir = ensureSf1()
        HeavySf1.flatMap { name =>
          // two runs, keep the better: the first pays first-touch of
          // the freshly written 10× parquet + any not-yet-JITed plan
          // paths (measured 121 s cold vs 22 s warm for the jaccard
          // pair join — a 1.6 "exponent" that was all warmup, not
          // scaling); the alarm wants steady-state scaling
          val ts = (1 to 2).map(_ => timed(s"sf1_$name")(
            if (name == "training_data_job")
              TrainingDataJob.run(graft.sources.Tables(spark, dir), "target/bench-tdj-sf1")
            else
              SparkEntry.queries(name)(spark, dir).write.mode("overwrite").format("noop").save()))
          if (ts.exists(_ < 0)) None else Some(name -> ts.min)
        }.toMap
      }
    val scalingSf1: Map[String, Double] = sf1Secs.flatMap { case (name, t1) =>
      val t01 = medians.getOrElse(name, -1.0)
      if (t01 > 0) Some(name -> math.log10(t1 / t01)) else None
    }

    // Scale sweep: one extra batch sweep at the next SF down (a decade
    // less data), emitting per-query scaling exponents log10(t_big /
    // t_small) — a numeric smoke alarm for super-linear queries that a
    // single-SF bench can't see. Reading: ~1.0 = linear in data volume,
    // < 1 = overhead-dominated at the small SF (typical for sub-second
    // queries — fixed planning/JVM cost biases the exponent DOWN), and
    // sustained > ~1.3 on a multi-second query = the n² alarm worth a
    // plan audit. Not part of `total` and not a gate — the exponents
    // ride the JSON for round-over-round comparison.
    val sweepDir = sys.env.get("SPARK_GRAFT_SCALE_SWEEP_DIR").orElse {
      val candidate = sfDir.replaceAll("sf0\\.1/?$", "sf0.01")
      if (candidate != sfDir && new java.io.File(candidate).isDirectory) Some(candidate) else None
    }.filter(_ => sys.env.getOrElse("SPARK_GRAFT_SCALE_SWEEP", "1") != "0")
    val scaling: Map[String, Double] = sweepDir.fold(Map.empty[String, Double]) { dir =>
      SparkEntry.queries.flatMap { case (name, fn) =>
        // sweep failures log under sweep_<name>, never marking the
        // main measurement of the query as failed
        val ts = timed(s"sweep_$name")(fn(spark, dir).write.mode("overwrite").format("noop").save())
        val tb = medians.getOrElse(name, -1.0)
        if (ts > 0 && tb > 0) Some(name -> math.floor(math.log10(tb / ts) * 1000) / 1000)
        else None
      }.toMap
    }

    // times rounded to ms in the emitted JSON: sub-ms digits are noise
    // and the full-precision line was long enough that the driver's
    // captured stdout tail clipped it two rounds running (BENCH_r05/r06
    // both arrived "parsed": null)
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    def jmap(m: Map[String, Double]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val qs = jmap(medians)
    val iters = perQueryRuns.map { case (k, v) => s"\"" + k + "\":" + v.size }.mkString("{", ",", "}")
    val errs = errors.map { case (k, v) =>
      s"\"" + k + "\":\"" + v.replaceAll("[\"\\\\\\n\\r\\t]", " ") + "\""
    }.mkString("{", ",", "}")
    val total = medians.values.filter(_ >= 0).sum
    val sweepSf = sweepDir.fold("null")(d => s"\"$d\"")
    // host load at emit time: lets a reader separate "the plan got
    // slower" from "the host was busy" without a rerun
    val loadavg = loadNow()
    // queries_gate IS queries_min under its gating name (r12 verdict
    // #6): min-of-iters is the load-robust statistic — a busy neighbor
    // inflates median-of-3 but rarely all iterations — so round-over-
    // round comparisons should gate on it, with the median kept for
    // total-cost accounting. gate_metric names the discipline in-band.
    val json = s"""{"metric":"total","value":${r3(total)},"unit":"sec","gate_metric":"min_of_iters","queries_gate":${jmap(mins)},"quiesced":$quiesced,"loadavg_start":"$loadavgStart","queries":$qs,"queries_min":${jmap(mins)},"queries_spread":${jmap(spreads)},"errors":$errs,"iterations":$Iters,"iters_per_query":$iters,"cpus":$cpus,"stream_state_partitions":$StreamStateParts,"loadavg":"$loadavg","sf":"$sfDir","training_data_job_scan_rows_per_doc":$tdjScanPerDoc,"scale_sweep_sf":$sweepSf,"scaling":${jmap(scaling)},"sf1_secs":${jmap(sf1Secs)},"scaling_sf1":${jmap(scalingSf1)},"scaling_sf1_expected":${jmap(sf1Expected)}}"""
    // Full detail → target/bench.json (the machine-readable artifact).
    // The LAST stdout line is a compact SELF-CONTAINED JSON kept well
    // under ~1.5 KB: the driver captures only a ~2 000-char stdout tail,
    // and the full 8 KB line arrived clipped-at-the-head three rounds
    // running (BENCH_r05/r06/r07 all "parsed": null). Compact = total +
    // error count + the ~15 slowest medians (the perf-gate set) with
    // their load-robust mins + the path to the full file.
    new java.io.File("target").mkdirs()
    val pw = new java.io.PrintWriter("target/bench.json")
    try pw.println(json) finally pw.close()
    // Durable history: append every full line to the TRACKED
    // BENCHLOG.jsonl — r7's per-query numbers are permanently lost to
    // the driver's stdout-tail truncation; regression detection should
    // never depend on a capture window again.
    val stamped = "{\"ts\":\"" + java.time.Instant.now().toString + "\"," + json.tail
    val log = new java.io.FileWriter("BENCHLOG.jsonl", true)
    try log.write(stamped + "\n") finally log.close()
    val slowest = medians.filter(_._2 >= 0).toSeq.sortBy(-_._2).take(15)
    val compact = s"""{"metric":"total","value":${r3(total)},"unit":"sec","gate_metric":"min_of_iters","queries":${jmap(slowest.toMap)},"queries_gate":${jmap(slowest.map { case (k, _) => k -> mins(k) }.toMap)},"quiesced":$quiesced,"n_queries":${medians.size},"n_errors":${errors.size},"iterations":$Iters,"cpus":$cpus,"loadavg":"$loadavg","sf":"$sfDir","detail":"target/bench.json"}"""
    println("full bench json written to target/bench.json; compact line follows")
    println(compact)
    spark.stop()
  }
}
