package graft

import graft.operators.{Analytics, Dedup, EventOps, Similarity}

/** Plan-shape regressions: the §5 scale claims, asserted against the
  * actual physical plans (pushdown reaches the scan, dims broadcast,
  * top-N avoids global sort, custom exec is planned, no stray
  * cartesian products).
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE final plan
    df.queryExecution.executedPlan.toString
  }

  test("q1: filter pushed to parquet scan") {
    val p = plan(Analytics.q1PricingSummary(tables))
    // the substantive claim is the shipdate predicate reaching the
    // scan; the inferred IsNotNull companion is gone since r16 turned
    // constraint propagation off (it only duplicated expression
    // evaluation engine-wide — see VectorExprs.ensureRegistered)
    assert(p.contains("PushedFilters: [LessThanOrEqual(l_shipdate"), p.take(500))
  }

  test("q3: dimension joins broadcast, top-N via TakeOrderedAndProject") {
    val p = plan(Analytics.q3ShippingPriority(tables))
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not global-sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("q5: six-way join with no sort-merge on dimension edges") {
    val p = plan(Analytics.q5LocalSupplier(tables))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4, "all four dims broadcast")
  }

  test("market share: every dimension leg broadcast — lineitem ⋈ orders is the only shuffle join") {
    val p = plan(Analytics.qMarketShare(tables))
    assert(!p.contains("CartesianProduct"))
    // part, supplier→nation, customer→nation→region all arrive broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4,
      "dimension legs must broadcast: " + p.take(400))
  }

  test("revenue delta: all three range predicates reach the parquet scan") {
    val p = plan(Analytics.qRevenueDelta(tables))
    assert(p.contains("PushedFilters"), p.take(300))
    Seq("l_shipdate", "l_discount", "l_quantity").foreach { c =>
      assert(p.contains(c), s"$c filter must push down")
    }
  }

  test("active users: rollups ride the persisted user-day relation — no parquet scan in the served plan") {
    // DAU/WAU/MAU all derive from one persisted distinct (user, day)
    // child; the result is eagerly checkpointed, so the served plan
    // must carry ZERO parquet scans — if events leaked into the final
    // lineage (the 7-scans-of-a-100TB-table bug this law caught), a
    // Scan parquet node would appear here
    val df = EventOps.evActiveUsers(tables)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Scan parquet"),
      "served plan must read the checkpoint, not re-derive from events: " + p.take(300))
  }

  test("asof enrich: custom exec planned with co-partitioned sorted children") {
    val p = plan(EventOps.evAsofEnrich(tables))
    assert(p.contains("AsOfJoin"), p.take(400))
    assert(p.contains("Sort ["), "children must be sorted for the merge pass")
  }

  test("ann brute force: corpus side never shuffles before scoring (broadcast queries)") {
    val p = plan(Similarity.annTopkBruteforce(tables))
    assert(p.contains("BroadcastNestedLoopJoin"), "tiny query side broadcast")
  }

  test("maxsim: query vectors broadcast — the corpus meets them in one narrow pass") {
    val p = plan(Similarity.annMaxsim(tables))
    assert(p.contains("BroadcastNestedLoopJoin"), s"query side must broadcast:\n${p.take(500)}")
    assert(!p.contains("CartesianProduct"), "corpus must not shuffle into a cartesian")
  }

  test("pq adc: the code stream meets broadcast distance tables — no sort-merge, no cartesian") {
    val p = plan(Similarity.annPqAdc(tables))
    assert(p.contains("BroadcastHashJoin"), s"adc table must broadcast:\n${p.take(500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "codes must equi-join the table, never nested-loop")
  }

  test("metadata-only queries never read the text column (ReadSchema pruning)") {
    import graft.operators.TextOps
    // doc_split and doc_sample_k derive everything from doc_id/source;
    // at 100 TB reading `text` for them would multiply scan bytes ~100×
    for ((name, df) <- Seq(
        "doc_split" -> TextOps.docSplit(tables),
        "doc_sample_k" -> TextOps.docSampleK(tables))) {
      val scans = df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.requiredSchema.fieldNames.toSeq
      }
      assert(scans.nonEmpty)
      scans.foreach(cols =>
        assert(!cols.contains("text"), s"$name scan reads text: $cols"))
    }
  }

  test("interval join: chunked equi-join — no nested-loop/cartesian range join over events") {
    val p = plan(EventOps.evIntervalJoin(tables))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range predicate must ride the chunk equi-join as a post-filter, not a BNLJ")
    assert(!p.contains("CartesianProduct"))
  }

  test("minhash signatures: map-side partial aggregation before the doc shuffle") {
    val p = plan(Dedup.docMinhashSig(tables))
    assert(p.contains("partial_min") || p.contains("partial_"), "partial aggregation expected")
  }

  test("embed cosine dup: block-grid equi-join — no nested-loop or cartesian over the corpus") {
    val p = plan(Dedup.docEmbedCosineDup(tables))
    assert(!p.contains("BroadcastNestedLoopJoin"), "all-pairs BNLJ is the 100 TB scale-killer")
    assert(!p.contains("CartesianProduct"), "cartesian over embeddings")
  }

  test("embed cosine dup: results are grid-invariant — nBlocks only routes pairs") {
    // the auto-scaled grid (granularity/memory law) must never change
    // WHAT the op computes: every unordered pair meets in exactly one
    // task for any B
    def pairs(b: Int) = Dedup.docEmbedCosineDup(tables, nBlocks = b).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = Dedup.docEmbedCosineDup(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(3) == pairs(8) && pairs(8) == auto,
      "block grid size changed the result set")
  }

  test("ivf-adc: probe set and distance table broadcast — the corpus never sort-merges") {
    val p = plan(graft.operators.Similarity.annIvfAdc(tables))
    // the probe restriction and the ADC table must reach the code
    // stream as broadcasts: a sort-merge join would shuffle the corpus
    // on the join key and erase the cell-pruning story
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus-side shuffle join in IVF-ADC:\n${p.take(600)}")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, "probe + table broadcasts expected")
  }

  test("frame sample: pure built-ins — no typed object boundary in the plan") {
    val p = plan(graft.operators.Multimodal.mmFrameSample(tables))
    assert(!p.contains("DeserializeToObject") && !p.contains("MapPartitions") &&
      !p.contains("SerializeFromObject"),
      s"frame sampling must stay in codegen (no codec to call):\n${p.take(600)}")
  }

  test("incremental minhash: band-bucketed equi-joins only — no all-pairs, no corpus window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = Dedup.docIncrementalMinhash(tables)
    val p = plan(df)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "batch-vs-corpus probe must stay band-bucketed")
    // the daily-batch op must never sort or window the corpus: C8's
    // per-hash window belongs to the exact path, not this one
    val windows = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
    assert(windows.isEmpty, s"unexpected window in the incremental probe: $windows")
  }

  test("multi-table lsh: equi-join probe — no nested-loop or cartesian over the postings") {
    val p = plan(Similarity.annLshMultiTable(tables))
    assert(!p.contains("CartesianProduct"), "cartesian over postings")
    // the (tbl, bucket) condition must drive a hash join (broadcast or
    // shuffled) — a BNLJ would mean the equi-keys were not extracted
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.take(500))
  }

  test("method recall: no cartesian anywhere; the IVF and LSH probes ride hash joins") {
    // D51 composes three search legs — a regression to a cartesian or
    // a non-equi probe in ANY leg would silently explode at corpus
    // scale while the 3-row card still looked fine
    val p = plan(Similarity.annMethodRecall(tables, ordered = true))
    assert(!p.contains("CartesianProduct"), "cartesian inside a method leg")
    assert(p.contains("BroadcastHashJoin"),
      s"probe joins must be broadcast-hash:\n${p.take(500)}")
  }

  test("nnd graph search: no cartesian in ANY stage — descent rounds included (checkpoint-hidden plans audited via listener)") {
    // D53 chains a bucketed seed build, kOut²·N descent rounds and two
    // beam searches, each CHECKPOINT-truncated — so the final plan
    // string shows only the post-checkpoint tail and a plan-string pin
    // would miss a cartesian regression inside a round. Audit every
    // execution the query triggers instead.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Similarity.annGraphSearchNnd(tables, ordered = true).collect()
      // the listener bus is async — drain before reading
      val deadline = System.currentTimeMillis() + 15000
      var last = -1
      while (plans.size != last && System.currentTimeMillis() < deadline) {
        last = plans.size; Thread.sleep(300)
      }
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq
    assert(all.nonEmpty, "listener captured no executions")
    val cart = all.filter(_.contains("CartesianProduct"))
    assert(cart.isEmpty,
      s"cartesian inside the nnd chain:\n${cart.headOption.getOrElse("").take(400)}")
    // BNLJ is allowed ONLY for the bounded 1-row-entry × nQueries seed
    // cross join (rendered "BroadcastNestedLoopJoin BuildX, Cross") —
    // any CONDITIONED nested loop is a scale bug
    val bnlj = all.flatMap(_.linesIterator.filter(l =>
      l.contains("BroadcastNestedLoopJoin") && !l.contains("Cross")))
    assert(bnlj.isEmpty,
      s"non-cross BNLJ in the nnd chain:\n${bnlj.headOption.getOrElse("").take(400)}")
    assert(all.exists(_.contains("BroadcastHashJoin")),
      "frontier/pivot joins must be broadcast-hash somewhere in the chain")
  }

  test("decontaminate: benchmark shingles broadcast — the training corpus never shuffles into the join") {
    val p = plan(Dedup.docDecontaminate(tables))
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark gram set must broadcast (train side streams):\n${p.take(500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("incremental dedup: batch window partitioned by hash — no global sort or single partition") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sp = Dedup.docIncrementalDedup(tables).queryExecution.sparkPlan
    val singles = sp.collect {
      case s: ShuffleExchangeExec if s.outputPartitioning == SinglePartition => s
    }
    assert(singles.isEmpty, "incremental dedup must never route the corpus through one partition")
    val globalSorts = sp.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    assert(globalSorts.isEmpty, "deploy plan pays no global sort (ordered=false default)")
  }

  test("cc round: pure Column plan — no typed boundary leaves Tungsten") {
    import spark.implicits._
    val sym = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val labels = Seq((1L, 1L), (2L, 2L)).toDF("id", "label")
    val p = Dedup.ccRound(sym, labels).queryExecution.sparkPlan.toString
    assert(!p.contains("DeserializeToObject"), "typed boundary in the per-round CC plan")
    assert(!p.contains("MapPartitions"), "opaque mapPartitions in the per-round CC plan")
  }

  test("text vocab: no single-partition pass over the token relation") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // pre-AQE physical plan: deterministic structure, no stage wrappers
    val sp = graft.operators.TextOps.textVocab(tables).queryExecution.sparkPlan
    val singles = sp.collect {
      case s: ShuffleExchangeExec if s.outputPartitioning == SinglePartition => s
    }
    // the only single-partition exchange allowed is the offset cumsum,
    // which sits above the per-partition count aggregate (≤ 1 row per
    // partition) — never above the token counts themselves
    singles.foreach { s =>
      val overPidAgg = s.child.collectFirst {
        case h: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
            if h.groupingExpressions.exists(_.toString.contains("pid")) => h
      }
      assert(overPidAgg.nonEmpty,
        s"single-partition exchange over a non-pid-aggregated relation:\n$s")
    }
  }

  test("deploy-path dump queries carry no global sort (ordered=false default)") {
    import graft.operators.{Multimodal, TextOps}
    // every per-row dump operator: the global orderBy exists only for
    // the driver's deterministic oracle compare (ordered = true in
    // SparkEntry); the default deploy plan must not pay a full range
    // exchange + sort on the whole output
    val dumps: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "text_langid" -> TextOps.textLangid(tables),
      "text_quality" -> TextOps.textQuality(tables),
      "text_tokencount" -> TextOps.textTokencount(tables),
      "text_fingerprint" -> TextOps.textFingerprint(tables),
      "text_rolling_fingerprint" -> TextOps.textRollingFingerprint(tables),
      "doc_chunk" -> TextOps.docChunk(tables),
      "doc_pack" -> TextOps.docPack(tables),
      "doc_quality_filter" -> TextOps.docQualityFilter(tables),
      "doc_stratified_sample" -> TextOps.docStratifiedSample(tables),
      "text_repetition" -> TextOps.textRepetition(tables),
      "doc_curate" -> TextOps.docCurate(tables),
      "doc_mix_budget" -> TextOps.docMixBudget(tables),
      "doc_shard_shuffle" -> TextOps.docShardShuffle(tables),
      "doc_minhash_sig" -> Dedup.docMinhashSig(tables),
      "doc_simhash" -> Dedup.docSimhash(tables),
      "doc_exact_dedup" -> Dedup.docExactDedup(tables),
      "text_normalize_dedup" -> TextOps.textNormalizeDedup(tables),
      "mm_binary_meta" -> Multimodal.mmBinaryMeta(tables),
      "mm_feature_extract" -> Multimodal.mmFeatureExtract(tables),
      "mm_resize" -> Multimodal.mmResize(tables),
      "mm_frame_sample" -> Multimodal.mmFrameSample(tables),
      "ev_error_after_click" -> EventOps.evErrorAfterClick(tables),
      // pair dumps (r6): a near-dup pair set is corpus-scale at 100 TB,
      // so the deploy path must not pay the final range exchange either.
      // docNgramJaccard/-Capped gate the same sort inside verifiedJaccard
      // but return an eager checkpoint, so their plan isn't assertable here.
      "doc_scrub_pii" -> TextOps.docScrubPii(tables),
      "doc_sample_k" -> TextOps.docSampleK(tables),
      "doc_split" -> TextOps.docSplit(tables),
      "doc_fingerprint_pairs" -> Dedup.docFingerprintPairs(tables),
      "doc_simhash_pairs" -> Dedup.docSimhashPairs(tables),
      "doc_minhash_lsh_pairs" -> Dedup.docMinhashLshPairs(tables),
      "doc_embed_cosine_dup" -> Dedup.docEmbedCosineDup(tables),
      "emb_kmeans_assign" -> Similarity.embKmeansAssign(tables),
      "doc_semdedup" -> Dedup.docSemdedup(tables),
      "text_bm25" -> TextOps.textBm25(tables),
      "text_unigram_logprob" -> TextOps.textUnigramLogprob(tables),
      "doc_span_dedup" -> TextOps.docSpanDedup(tables),
      "doc_mix_weights" -> TextOps.docMixWeights(tables),
      "doc_quality_bucket" -> TextOps.docQualityBucket(tables),
      "text_keywords" -> TextOps.textKeywords(tables),
      "emb_pq_codes" -> Similarity.embPqCodes(tables),
      // r8 additions
      "ann_knn_graph" -> Similarity.annKnnGraph(tables),
      "ann_label_knn" -> Similarity.annLabelKnn(tables),
      "mm_phash_incremental" -> Multimodal.mmPhashIncremental(tables),
      "doc_template_prefix" -> TextOps.docTemplatePrefix(tables),
      "ev_user_lifespan" -> EventOps.evUserLifespan(tables))
    for ((name, df) <- dumps) {
      // pre-AQE plan: a global sort appears as a rangepartitioning
      // exchange + Sort(global=true). Window-internal sorts are
      // per-partition (global=false) and allowed.
      val sp = df.queryExecution.sparkPlan
      val globalSorts = sp.collect {
        case s: org.apache.spark.sql.execution.SortExec if s.global => s
      }
      assert(globalSorts.isEmpty, s"$name deploy plan pays a global sort:\n${sp.toString.take(600)}")
    }
  }

  test("doc pack / mix budget: no window partitioned by source alone (parallelism not source-bounded)") {
    import graft.operators.TextOps
    import org.apache.spark.sql.execution.window.WindowExec
    // the r5 scale finding: Window.partitionBy(source) routes EVERY
    // document of a source through one task's sort — at 100 TB the
    // largest source is a multi-TB single task AQE cannot split. The
    // two-phase rewrite must leave no window (anywhere in the plan,
    // including the tiny offsets branch) keyed on source alone.
    for ((name, df) <- Seq(
        "doc_pack" -> TextOps.docPack(tables),
        "doc_mix_budget" -> TextOps.docMixBudget(tables))) {
      val sp = df.queryExecution.sparkPlan
      val sourceOnly = sp.collect {
        case w: WindowExec if w.partitionSpec.length == 1 &&
          w.partitionSpec.head.toString.contains("source") => w
      }
      assert(sourceOnly.isEmpty,
        s"$name has a window whose parallelism is bounded by source cardinality:\n$sourceOnly")
    }
  }

  test("shard shuffle / training job: no shard-partitioned window over the corpus") {
    import graft.operators.TextOps
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // the r6 scale finding (E17/G13): row_number over
    // Window.partitionBy(shard) routes corpus/nShards through ONE
    // task's sort at the default knob. The two-phase rewrite may still
    // window on shard — but only over the per-(partition, shard) totals
    // relation, i.e. every shard-keyed window must sit ABOVE an
    // aggregation that reduced the corpus away.
    for ((name, df) <- Seq(
        "doc_shard_shuffle" -> TextOps.docShardShuffle(tables),
        "training_job" -> TrainingDataJob.materialize(tables, nShards = 4))) {
      val sp = df.queryExecution.sparkPlan
      val corpusShardWindows = sp.collect {
        case w: WindowExec if w.partitionSpec.exists(_.toString.contains("shard")) &&
          w.child.collect { case a: BaseAggregateExec => a }.isEmpty => w
      }
      assert(corpusShardWindows.isEmpty,
        s"$name windows the un-aggregated corpus on shard:\n$corpusShardWindows")
    }
  }

  test("kmeans assign: ZERO shuffles — literal-centers argmin stays narrow") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the D7 design claim: assignment never joins/windows the corpus —
    // centers are literals, the argmin is an array_min projection. Any
    // Exchange here means someone reintroduced a corpus-wide shuffle.
    for ((name, df) <- Seq(
        "emb_kmeans_assign" -> Similarity.embKmeansAssign(tables),
        "emb_pq_codes" -> Similarity.embPqCodes(tables))) {
      val sp = df.queryExecution.sparkPlan
      val shuffles = sp.collect { case s: ShuffleExchangeExec => s }
      assert(shuffles.isEmpty,
        s"$name must be one narrow pass, found exchanges:\n$shuffles")
    }
  }

  test("bm25: literal query terms — no token explode anywhere in the plan") {
    import graft.operators.TextOps
    // the E22 design claim: per-term tf is filter(tk, = term) on the
    // packed token array, so the corpus is never exploded to token rows
    // (an explode would appear as a GenerateExec).
    val sp = TextOps.textBm25(tables).queryExecution.sparkPlan
    val gens = sp.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(gens.isEmpty, s"bm25 must not explode tokens:\n$gens")
  }

  test("unigram logprob / span dedup: one corpus explode — frequency branch and score join share the per-(doc,key) stage") {
    import graft.operators.TextOps
    // assert the 100 TB shape: with auto-broadcast off (tiny test inputs
    // would otherwise broadcast freely, hiding the shared exchanges),
    // the per-(doc, key) count stage must be computed ONCE and reused
    // by the frequency branch and the score join — i.e. the raw
    // exploded volume is scanned and shuffled exactly once.
    val prevStatic = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      for ((name, df) <- Seq(
          "text_unigram_logprob" -> TextOps.textUnigramLogprob(tables),
          "doc_span_dedup" -> TextOps.docSpanDedup(tables))) {
        df.collect()
        // AQE's toString appends the pre-adaptive "Initial Plan" — slice
        // it off; only the Final Plan is what actually ran
        val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
        assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
          s"$name: the per-(doc, key) exchange must be shared, not recomputed per branch:\n${p.take(1200)}")
        val explodes = "Generate explode".r.findAllIn(p).length
        assert(explodes == 1, s"$name: corpus exploded $explodes times, expected 1:\n${p.take(1200)}")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevStatic)
      prevAqe match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("doc pack / mix budget: totals branch reuses the window exchange (one corpus shuffle)") {
    import graft.operators.TextOps
    for ((name, df) <- Seq(
        "doc_pack" -> TextOps.docPack(tables),
        "doc_mix_budget" -> TextOps.docMixBudget(tables))) {
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
        s"$name: offsets branch must reuse the (source, grp) exchange, not rescan the corpus:\n${p.take(1200)}")
    }
  }

  test("bloom decontamination: probe side meets an 8 KiB broadcast bitset, never a relation join") {
    val p = plan(Dedup.docDecontaminateBloom(tables))
    // the single-row dense-bitset crossJoin must plan as a broadcast
    // nested-loop over one row — the corpus is NEVER part of a
    // relational membership join (that's C9's shape; the bloom
    // variant's point is the constant-size broadcast)
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"bitset row must broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"no relational membership join on the probe side:\n${p.take(800)}")
  }

  test("grouping sets: one Expand + one aggregate pass — not a union of per-set scans") {
    val p = plan(Analytics.qGroupingSets(tables))
    assert(p.contains("Expand"), s"grouping sets must expand, not union:\n${p.take(600)}")
    assert(!p.contains("Union"), s"one corpus scan, not one per set:\n${p.take(600)}")
  }

  test("bigram logprob: LM branch and score join share the per-(doc,bigram) stage") {
    val df = graft.operators.TextOps.textBigramLogprob(tables)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"corpus bigram stage must be computed once:\n${p.take(1200)}")
  }

  test("quality model: bounded vocab broadcast-joins the token stream; top-V rank without global sort") {
    val p = plan(graft.operators.TextOps.docQualityModel(tables))
    assert(p.contains("BroadcastHashJoin"),
      s"weight relation must broadcast:\n${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-V vocab cap must not global-sort:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle into the join:\n${p.take(800)}")
  }

  test("text vocab: offsets branch and join branch share ONE range exchange (ReusedExchange)") {
    // the two-phase rank is only correct if both branches observe the
    // SAME range partitioning; they do because the identical subplans
    // dedupe into a ReusedExchange — this assertion turns any future
    // loss of exchange reuse (conf change, plan-canonicalization change)
    // from silent wrong ranks into a test failure
    val df = graft.operators.TextOps.textVocab(tables)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"range exchange must be reused by both branches:\n${p.take(1200)}")
  }

  test("bloom join reduce: prefilter passes few rows, result equals plain join") {
    import org.apache.spark.sql.functions._
    val t = tables
    // the B53 prefilter stage alone: count survivors vs the fact table
    val total = t.lineitem.count().toDouble
    val sel = t.orders.filter(col("o_totalprice") >= 480000.0)
      .select(col("o_orderkey"))
    val trueMatch = t.lineitem.join(sel, col("l_orderkey") === col("o_orderkey")).count()
    val out = graft.operators.Analytics.qBloomJoinReduce(t)
    val joined = out.agg(sum(col("n_lines"))).collect()(0).getLong(0)
    assert(joined == trueMatch,
      "bloom-prefiltered join must return exactly the plain join's rows")
    // the point of the operator: the selection is actually selective
    assert(trueMatch.toDouble / total < 0.2,
      s"test premise: selective dim (got ${trueMatch / total})")
  }

  test("product profit: part/supplier/nation broadcast — lineitem ⋈ orders is the only shuffle join") {
    val p = plan(Analytics.qProductProfit(tables))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      "part, supplier, nation must arrive broadcast: " + p.take(400))
    assert(p.contains("PushedFilters: [IsNotNull(p_name)") || p.contains("StringContains"),
      "the part name filter must reach the part scan: " + p.take(600))
  }

  test("potential promotion: rollup and window share ONE l_partkey exchange; winners broadcast into the semi-join") {
    val df = Analytics.qPotentialPromotion(tables)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the explicit l_partkey repartition satisfies BOTH the
    // (part, supp) rollup's clustering and the part-keyed window —
    // there must be no (l_partkey, l_suppkey) pair exchange anywhere
    // AdaptiveSparkPlan.toString prints Final AND Initial plans —
    // count exchanges in the executed (final) section only
    val fp = p.split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning\\(l_partkey#\\d+L, l_suppkey".r.findFirstIn(fp).isEmpty,
      "rollup must reuse the l_partkey exchange, not add a pair shuffle: " + fp.take(600))
    assert("Exchange hashpartitioning\\(l_partkey".r.findAllIn(fp).length == 1,
      "exactly one corpus exchange on l_partkey: " + fp.take(600))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "the winner set must broadcast into the supplier semi-join")
  }

  test("partition advisor: each table scan reads only its variable-width columns") {
    val p = plan(Analytics.qPartitionAdvisor(tables))
    // documents leg must not read doc_id/n_chars; events leg must not
    // read value/user_id; lineitem leg must not read the 8 numerics
    assert(!p.contains("ReadSchema: struct<doc_id"), "documents scan over-reads")
    assert("ReadSchema: struct<text:string,lang:string,source:string>".r.findAllIn(p).nonEmpty
      || p.contains("struct<text:string,lang:string,source:string>"),
      "documents scan must read exactly the three strings: " + p.take(800))
    assert(p.contains("struct<l_returnflag:string,l_linestatus:string>"),
      "lineitem scan must read exactly the two strings")
    assert(p.contains("struct<event_type:string,props:string>"),
      "events scan must read exactly the two strings")
  }

  test("hll portable: register relation is ONE map-side-combined shuffle — no distinct expansion of the key set") {
    val df = Analytics.qHllPortable(tables)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the register leg must partially aggregate before its exchange
    // (the whole point: bytes travel, never the key universe); the
    // only Expand/two-phase distinct allowed is the diagnostic
    // countDistinct leg
    assert(p.contains("partial_max") || p.contains("HashAggregate"),
      s"register max must combine map-side:\n${p.take(600)}")
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    def walk(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec        => walk(s.plan)
      case o                        => o +: o.children.flatMap(walk)
    }
    val singles = walk(df.queryExecution.executedPlan).collect {
      case s: ShuffleExchangeExec if s.outputPartitioning == SinglePartition => s
    }
    assert(singles.isEmpty, "no single-partition pass anywhere in the card")
  }

  test("revenue forecast (Q6): all three predicates reach the parquet scan; four-column ReadSchema; no shuffle join") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = Analytics.qRevenueForecast(tables)
    df.collect()
    def walk(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec        => walk(s.plan)
      case o                        => o +: o.children.flatMap(walk)
    }
    val scans = walk(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "Q6 must read parquet")
    // the untruncated pushed-filter list: year bounds, band, cap
    val pf = scans.head.metadata("PushedFilters")
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.03)", "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)").foreach { f =>
      assert(pf.contains(f), s"$f must push to the scan: $pf")
    }
    assert(scans.head.requiredSchema.fieldNames.toSet ==
      Set("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"),
      s"scan must read exactly the four columns: ${scans.head.requiredSchema.fieldNames.mkString(",")}")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "Q6 is scan+aggregate — no joins at all")
  }

  test("graph search: every per-round join broadcasts — the corpus never shuffles for the frontier (checkpoint-hidden plans audited via listener)") {
    // D41's rounds are checkpoint-truncated since r15 (the lazy unroll
    // copied the edge-build subtree 2^rounds times), so the final plan
    // string only shows the post-checkpoint tail — audit every
    // execution the query triggers instead (the D53 test's pattern).
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Similarity.annGraphSearch(tables).collect()
      // deterministic drain: QueryExecutionListener delivery is async
      // on the listener bus — two unchanged polls can race a slow bus
      // and silently weaken the no-SortMergeJoin assertion below
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq
    assert(all.nonEmpty, "listener captured no executions")
    assert(all.exists(_.contains("BroadcastHashJoin")),
      s"frontier/query joins must broadcast:\n${all.head.take(500)}")
    all.foreach { p =>
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"beam rounds must never sort-merge or cross the corpus:\n${p.take(400)}")
    }
  }

  test("quantile sample: the bottom-k sketch partial-aggregates BELOW the exchange (map-side merge)") {
    val p = plan(graft.operators.Analytics.qQuantileSample(tables))
    val partialAt = p.indexOf("partial_bottomksample")
    val exchangeAt = p.indexOf("Exchange hashpartitioning")
    assert(partialAt >= 0, s"partial bottomksample missing:\n${p.take(500)}")
    // the plan prints top-down, so the map-side partial must appear
    // BELOW (later in the string than) the shuffle it feeds — the
    // "shuffle carries <=k pairs per (group, partition)" claim
    assert(exchangeAt >= 0 && partialAt > exchangeAt,
      "the sketch must partial-aggregate before the shuffle")
  }

  test("rank-window top-k: row_number() <= k plans a WindowGroupLimit below its shuffle exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the TopKRows scale note (SURVEY B63): Spark already cuts a rank
    // window to <= k rows per (group, partition) map-side, so the
    // window form shuffles k rows per group and partition, not the fact
    val rows = spark.range(20000).select(
      concat(lit("g"), (col("id") % 5).cast("string")).as("g"),
      ((col("id") * 2654435761L) % 1000003L).cast("double").as("v"),
      col("id").as("key"))
    val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("key").asc)
    val df = rows.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
    assert(df.collect().length == 15)
    def walk(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec        => walk(s.plan)
      case o                        => o +: o.children.flatMap(walk)
    }
    val exchanges = walk(df.queryExecution.executedPlan).collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty, df.queryExecution.executedPlan.toString)
    val belowShuffle = exchanges.flatMap(e => walk(e.child)).collect { case l: WindowGroupLimitExec => l }
    assert(belowShuffle.nonEmpty,
      s"no WindowGroupLimit below the shuffle:\n${df.queryExecution.executedPlan}")
  }

  test("prefix-dim recall: every q_id rank window is two-stage — no corpus-sized relation feeds a single-stage rank (checkpoint-hidden plans audited via listener)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    // the D55 card ranks five corpus-sized scored relations (exact +
    // four prefixes); each rank must be the two-stage local/global
    // top-k — a single-stage row_number over q_id alone sorts the
    // corpus on one reducer per query (the r13 `weak`). The scored
    // relation is checkpointed, so final-plan pins can't see the
    // windows — audit every execution via listener, like the nnd pin.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Similarity.annPrefixDimRecall(tables, ordered = true).collect()
      val deadline = System.currentTimeMillis() + 15000
      var last = -1
      while (plans.size != last && System.currentTimeMillis() < deadline) {
        last = plans.size; Thread.sleep(300)
      }
    } finally spark.listenerManager.unregister(listener)
    def walk(n: SparkPlan): Seq[SparkPlan] = n match {
      case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
      case s: QueryStageExec        => s +: walk(s.plan)
      // a leg consumed twice dedupes its shuffle into a ReusedExchange
      // leaf — the local stage lives under the ORIGINAL exchange
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        r +: walk(r.child)
      case o                        => o +: o.children.flatMap(walk)
    }
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq
    assert(all.nonEmpty, "listener captured no executions")
    // every global (q_id-only) rank window must sit above a local
    // (q_id, pid) window stage that already cut the relation to ≤ k
    // rows per (query, partition)
    val qidWindows = all.flatMap(p => walk(p)).collect {
      case w: WindowExec if w.partitionSpec.length == 1 &&
        w.partitionSpec.head.toString.contains("q_id") => w
    }
    assert(qidWindows.nonEmpty, "expected the global top-k stage's q_id windows")
    qidWindows.foreach { w =>
      val localStages = walk(w.child).collect {
        case lw: WindowExec if lw.partitionSpec.length >= 2 => lw
      }
      assert(localStages.nonEmpty,
        s"single-stage q_id rank window (corpus-sized sort per query):\n${w.toString.take(400)}")
    }
  }

  test("matryoshka rerank paths: no cartesian, no corpus sort-merge — the pool broadcasts back onto the corpus") {
    for ((name, df) <- Seq(
        "ann_prefix_rerank" -> Similarity.annPrefixRerank(tables),
        "ann_prefix_ivf_rerank" -> Similarity.annPrefixIvfRerank(tables))) {
      val p = plan(df)
      assert(!p.contains("CartesianProduct"), s"$name: cartesian in the rerank path")
      // the prefix retrieval meets broadcast queries (BNLJ on the
      // != condition or BHJ on cell); the rerank's pool and query
      // joins must be broadcast-hash — a sort-merge would shuffle the
      // corpus for a ≤nQueries·kPool pool
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$name: corpus-side shuffle join in the rerank:\n${p.take(600)}")
      assert(p.contains("BroadcastHashJoin"),
        s"$name: pool/query joins must broadcast:\n${p.take(600)}")
    }
  }

  test("ivf residual-pq: the per-cell ADC table broadcasts — the code stream never sort-merges") {
    val p = plan(Similarity.annIvfRpq(tables))
    // the (q, cell, subspace, code) table is tiny by construction
    // (nQueries·nProbe·m·nCodes rows); if it ever sort-merges, the
    // whole code relation shuffles on the composite key and the
    // residual-PQ scan discipline is gone
    assert(p.contains("BroadcastHashJoin"), s"ADC table must broadcast:\n${p.take(500)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"corpus-side shuffle join in residual-PQ:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct"), "cartesian in residual-PQ search")
  }

  test("url dup: one hash shuffle with map-side partial aggregation — no cartesian, no BNLJ") {
    val p = plan(graft.operators.UrlOps.docUrlDup(tables))
    assert(p.contains("partial_"), "group sizes must partial-aggregate before the url_canon shuffle")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "identity dedup must stay an equi-join")
  }

  test("host stats: rollup partial-aggregates before the host shuffle") {
    val p = plan(graft.operators.UrlOps.docHostStats(tables))
    assert(p.contains("partial_"), "the #hosts rollup must map-side combine")
    assert(!p.contains("CartesianProduct"))
  }

  test("host rank: no cartesian — the 1-row N/dangling sides ride broadcasts; no corpus-sized shuffle join") {
    val p = plan(graft.operators.UrlOps.hostRank(tables))
    assert(!p.contains("CartesianProduct"),
      "the scalar frames must broadcast into the rank loop, never cartesian")
  }

  test("host throttle: the (host, window) rank window never routes through one partition") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sp = graft.operators.UrlOps.docHostThrottle(tables)
      .queryExecution.sparkPlan
    val singles = sp.collect {
      case s: ShuffleExchangeExec if s.outputPartitioning == SinglePartition => s
    }
    assert(singles.isEmpty,
      "the throttle rank must partition by (host, window), not collapse to one task")
    val globalSorts = sp.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }
    assert(globalSorts.isEmpty, "deploy plan pays no global sort (ordered=false default)")
  }
}
