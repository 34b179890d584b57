package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.storage.StorageLevel

import graft.functions.{BoundedPostings, Hashing}
import graft.functions.Hashing._
import graft.sources.Tables

/** Dedup family (SURVEY §2.C) over `documents` — the operators a
  * training-data pipeline runs at 100 TB.
  *
  * Scale shape (see SURVEY §5): signatures/shingles are one narrow
  * map-side pass (explode → hash → partial-agg); candidate generation is
  * always index- or band-based (never all-pairs); exact verification
  * runs only on candidates.
  */
object Dedup {

  /** Per-document distinct word-3-gram shingle-hash SETS:
    * (doc_id, gs: array<long>, n_grams). The fused GramHashes
    * expression replaces three interpreted higher-order functions per
    * row. This array form is the one worth materializing: it is ~8
    * bytes per shingle (grams as longs, no per-row doc_id/n_grams
    * repetition), exploding it back to rows is a free narrow map, and
    * the exact-Jaccard verify can intersect two arrays per candidate
    * pair locally instead of re-joining exploded grams (which round 3
    * measured at ~40M intermediate rows for 788k candidates).
    */
  private[graft] def gramSets(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), call_function("graft_gram3_hashes", col("text")).as("gs"))
      .select(col("doc_id"), col("gs"), size(col("gs")).as("n_grams"))

  /** `gramSets` exploded to (doc_id, gram: long, n_grams) rows — the
    * shape the df aggregate, prefix filter, and MinHash permutations
    * consume. A narrow generator over the array form: preserves the
    * parent's partitioning (an explode never moves rows), so a
    * doc_id-partitioned sets relation feeds per-doc windows and
    * aggregates with no further exchange.
    */
  private def explodeSets(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), explode(col("gs")).as("gram"), col("n_grams"))

  /** Exploded grams over the raw table (spec surface; the query paths
    * share one materialized `gramSets` instead).
    */
  def grams(t: Tables): DataFrame = explodeSets(gramSets(t))

  /** The shared gram-set relation a multi-consumer dedup query fans
    * out from: `gramSets` hash-distributed on doc_id.
    *
    * LAZY — the `repartition` puts an identical ShuffleExchange
    * subplan under every consumer branch, and Spark's exchange reuse
    * (ReuseExchangeAndSubquery + AQE stage reuse) materializes it once
    * as shuffle files all branches re-read. Right when every consumer
    * sits DIRECTLY on the exchange (docMinhashLshPairs: measured 2.3 s
    * → 1.0 s vs. persist — no extra materialization job, no block
    * manager churn). Wrong when an expensive NON-exchange subplan is
    * consumed from multiple branches (docNgramJaccard's prefix
    * join+window feeds both self-join sides; only exchanges dedupe, so
    * the whole prefix pipeline would recompute per side — measured 3×
    * slower than `withShared`). The repartition also fixes the width
    * problem at its root: the sf0.1 documents scan is ONE parquet file
    * → one input partition; at 100 TB the same exchange is what
    * distributes gram hashing across the cluster.
    */
  private def sharedSets(t: Tables): DataFrame =
    gramSets(t).repartition(col("doc_id"))

  /** Runs `body` against an eagerly-materialized copy of `shared` and
    * releases the blocks before returning the (small, eagerly
    * checkpointed) result. For fan-outs where consumers re-derive
    * expensive non-exchange subplans (see sharedSets scaladoc for when
    * each strategy wins). Three deliberate choices, each a measured
    * round-3 regression when done otherwise:
    *  - `repartition(key)` BEFORE materializing: a single-file scan is
    *    one input partition, and a materialization pins that width;
    *    hash-distributing on doc_id also lines the copy up with the
    *    per-doc window so it reuses the partitioning.
    *  - `persist`, NOT `localCheckpoint`: a checkpointed LogicalRDD
    *    has no catalyst stats, so joins against it plan sort-merge;
    *    InMemoryRelation keeps accurate sizes and broadcast plans.
    *  - `unpersist` before returning: the big intermediate's blocks
    *    are dead the moment body() finishes — leaving them pinned is
    *    what dragged unrelated bench queries down in round 3.
    */
  private def withShared(shared: DataFrame, key: Column)(body: DataFrame => DataFrame): DataFrame = {
    val g = shared.repartition(key).persist(StorageLevel.MEMORY_AND_DISK)
    // materialize BEFORE the fan-out executes: the fan-out's parent
    // stages are submitted concurrently, and with a cold cache every
    // stage's tasks race to compute the same cached partitions while
    // blocked tasks occupy task slots. Lazy cache fill measured ~0.5 s
    // faster under ideal conditions but nondeterministic under CPU
    // pressure; one cheap up-front pass makes per-call cost
    // predictable, which matters more.
    g.count()
    // The returned (small) checkpoint's blocks live until the caller's
    // Dataset is garbage-collected — ContextCleaner unpersists the RDD
    // on GC, so repeated invocations are bounded, unlike the shared
    // relation released (blocking, so iteration N's dead blocks never
    // linger into iteration N+1) in the finally.
    try body(g).localCheckpoint(true)
    finally g.unpersist(true)
  }

  /** Releases the block-manager storage behind a `localCheckpoint`ed
    * result once no consumer needs it (Dataset.unpersist only knows
    * cache-manager entries, so the checkpoint RDD must be unpersisted
    * directly via its LogicalRDD leaf).
    */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(false)
      case _              => ()
    }

  /** Eager lineage truncation between iterative rounds (CC here,
    * PageRank in Similarity). Default: `localCheckpoint` — executor-
    * storage-backed, fastest, but an executor loss mid-iteration is
    * FATAL on a real cluster (the blocks die with the executor and the
    * truncated lineage can't recompute them). Setting
    * `spark.graft.checkpointDir` switches rounds to RELIABLE
    * `checkpoint()` into that (HDFS/object-store) directory — the knob
    * a 1000-executor run flips so a lost executor costs one round's
    * recompute-from-files, not the job. The session's checkpoint dir
    * is set once from the conf (setCheckpointDir mints a UUID subdir
    * per call — calling it per round would litter).
    */
  private[graft] def stableCheckpoint(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) if dir.nonEmpty =>
        if (spark.sparkContext.getCheckpointDir.isEmpty)
          spark.sparkContext.setCheckpointDir(dir)
        df.checkpoint()
      case _ => df.localCheckpoint(true)
    }
  }


  /** C1: exact dedup via content hash — keep lowest doc_id per hash.
    * One hash-partitioned aggregation; no sort, no all-pairs.
    */
  def docExactDedup(t: Tables): DataFrame =
    t.documents
      .select(md5(col("text")).as("content_hash"), col("doc_id"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash signatures as 16 columns m0..m15 (internal shape), over a
    * caller-supplied grams relation — the gram hash IS the 60-bit base
    * hash the 16 affine permutations apply to.
    */
  private def minhashSigCols(g: DataFrame): DataFrame = {
    val aggs = Perms.indices.map(i => min(perm(col("gram"), i)).as(s"m$i"))
    g.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** C2: MinHash signature per document (16 permutations, csv-rendered
    * so the result is hashable by the driver).
    */
  def docMinhashSig(t: Tables): DataFrame =
    minhashSigCols(grams(t))
      .select(col("doc_id"),
        concat_ws(",", Perms.indices.map(i => col(s"m$i")): _*).as("sig"))

  /** C3: MinHash-LSH near-dup pairs: band signatures (4 bands × 4 rows)
    * → candidates share a band bucket → exact Jaccard verification on
    * candidates only → threshold. The only shuffles are the band
    * self-join and the per-candidate gram intersection — never n².
    */
  def docMinhashLshPairs(t: Tables, threshold: Double = 0.2): DataFrame = {
    // one shared gram-set exchange (see sharedSets), consumed by the
    // signature aggregate (exploded, partitioning-aligned — no extra
    // shuffle) and the exact-Jaccard verify (arrays, intersected per
    // candidate)
    val sets = sharedSets(t)
    val bands = minhashSigCols(explodeSets(sets)).select(col("doc_id"),
      expr("""stack(4,
        0, concat_ws(',', m0, m1, m2, m3),
        1, concat_ws(',', m4, m5, m6, m7),
        2, concat_ws(',', m8, m9, m10, m11),
        3, concat_ws(',', m12, m13, m14, m15)) AS (band, band_val)"""))
    val b2 = bands.select(col("doc_id").as("db"), col("band").as("band2"), col("band_val").as("band_val2"))
    // no pair-level distinct — a pair matching in k≤4 bands is verified
    // k times and collapsed by verifiedJaccard's result distinct
    val cands = bands.join(b2,
        col("band") === col("band2") && col("band_val") === col("band_val2") &&
          col("doc_id") < col("db"))
      .select(col("doc_id").as("da"), col("db"))
    verifiedJaccard(sets, cands, threshold)
  }


  /** C3b: minhash Jaccard ESTIMATION quality — every LSH candidate
    * pair with its signature-agreement estimate (agreeing permutations
    * / 16: the unbiased minhash estimator, E[agree/k] = J) NEXT TO the
    * exact verified Jaccard. The relation that answers "can we skip
    * exact verification at 100 TB and trust the signatures?" — the
    * estimator reads 16 longs/doc where the verify intersects full
    * gram sets.
    *
    * Scale shape: C3's band join generates candidates; signatures and
    * gram sets join per-candidate only (the signature relation is the
    * same aggregate the banding consumed — exchange-reused).
    */
  def docMinhashJaccardEst(t: Tables): DataFrame = {
    val sets = sharedSets(t)
    val sig = minhashSigCols(explodeSets(sets))
    val bands = sig.select(col("doc_id"),
      expr("""stack(4,
        0, concat_ws(',', m0, m1, m2, m3),
        1, concat_ws(',', m4, m5, m6, m7),
        2, concat_ws(',', m8, m9, m10, m11),
        3, concat_ws(',', m12, m13, m14, m15)) AS (band, band_val)"""))
    val b2 = bands.select(col("doc_id").as("db"),
      col("band").as("band2"), col("band_val").as("band_val2"))
    val cands = bands.join(b2,
        col("band") === col("band2") && col("band_val") === col("band_val2") &&
          col("doc_id") < col("db"))
      .select(col("doc_id").as("da"), col("db")).distinct()
    val a = sig.select(col("doc_id").as("da") +:
      Perms.indices.map(i => col(s"m$i").as(s"a$i")): _*)
    val b = sig.select(col("doc_id").as("db2") +:
      Perms.indices.map(i => col(s"m$i").as(s"b$i")): _*)
    val agree = Perms.indices
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val sa = sets.select(col("doc_id").as("da"), col("gs").as("gsa"), col("n_grams").as("na"))
    val sb = sets.select(col("doc_id").as("db3"), col("gs").as("gsb"), col("n_grams").as("nb"))
    cands.join(a, "da").join(b, col("db") === col("db2"))
      .withColumn("agree", agree)
      .join(sa, "da").join(sb, col("db") === col("db3"))
      .withColumn("c", call_function("graft_intersect_count", col("gsa"), col("gsb")))
      .select(col("da").as("doc_a"), col("db").as("doc_b"), col("agree"),
        (col("agree") / lit(16.0)).as("est_jaccard"),
        (col("c") / (col("na") + col("nb") - col("c"))).as("jaccard"))
  }

  /** C28: b-bit minhash estimation card (Li & König, WWW'10) — the
    * signature-compression trade next to C3b's full-width estimator:
    * keep only the low `bBits` bits of each of the 16 minhash
    * components, count matches over the LSH band candidates, and
    * debias the 2^-b random-collision floor with the linear
    * correction Ĵ = (match_rate − C)/(1 − C), C = 2^-b. The card
    * rides the full-width agreement and the exact Jaccard alongside
    * so the compression's accuracy cost is measurable per pair.
    *
    * Scale shape: identical join plan to C3b (band-bucket equi-join
    * candidates, never all-pairs; one narrow signature join per
    * side); the operational win is STORAGE — at b=4 the persisted
    * signature table shrinks 15× (16×60 bits → 16×4), which at
    * 100 TB is the difference between a signature table that fits
    * in memory-speed storage and one that doesn't. All arithmetic
    * is exact binary fractions (agree/16, C=1/16) — bit-identical
    * across engines before the single r6.
    */
  def docBbitMinhashEst(t: Tables, bBits: Int = 4): DataFrame = {
    val sets = sharedSets(t)
    val sig = minhashSigCols(explodeSets(sets))
    val bands = sig.select(col("doc_id"),
      expr("""stack(4,
        0, concat_ws(',', m0, m1, m2, m3),
        1, concat_ws(',', m4, m5, m6, m7),
        2, concat_ws(',', m8, m9, m10, m11),
        3, concat_ws(',', m12, m13, m14, m15)) AS (band, band_val)"""))
    val b2 = bands.select(col("doc_id").as("db"),
      col("band").as("band2"), col("band_val").as("band_val2"))
    val cands = bands.join(b2,
        col("band") === col("band2") && col("band_val") === col("band_val2") &&
          col("doc_id") < col("db"))
      .select(col("doc_id").as("da"), col("db")).distinct()
    val a = sig.select(col("doc_id").as("da") +:
      Perms.indices.map(i => col(s"m$i").as(s"a$i")): _*)
    val b = sig.select(col("doc_id").as("db2") +:
      Perms.indices.map(i => col(s"m$i").as(s"b$i")): _*)
    val mask = lit((1L << bBits) - 1)
    val agreeFull = Perms.indices
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val agreeB = Perms.indices
      .map(i => when(col(s"a$i").bitwiseAND(mask) === col(s"b$i").bitwiseAND(mask),
        1L).otherwise(0L))
      .reduce(_ + _)
    val cFloor = 1.0 / (1L << bBits)
    val sa = sets.select(col("doc_id").as("da"), col("gs").as("gsa"), col("n_grams").as("na"))
    val sb = sets.select(col("doc_id").as("db3"), col("gs").as("gsb"), col("n_grams").as("nb"))
    cands.join(a, "da").join(b, col("db") === col("db2"))
      .withColumn("agree_full", agreeFull)
      .withColumn("agree_bbit", agreeB)
      .join(sa, "da").join(sb, col("db") === col("db3"))
      .withColumn("c", call_function("graft_intersect_count", col("gsa"), col("gsb")))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        col("agree_full"), col("agree_bbit"),
        r6((col("agree_bbit") / lit(16.0) - lit(cFloor)) / lit(1.0 - cFloor))
          .as("est_bbit_r"),
        (col("c") / (col("na") + col("nb") - col("c"))).as("jaccard"))
  }

  /** C26: duplicate-bias card — are the COPIES systematically worse
    * than the canonicals? Per (is-duplicate) flag: doc count, mean
    * chars, mean E2 quality. A large quality gap justifies C15/F9's
    * keep-best selection over C1's keep-first (copies are truncations
    * / boilerplate-wrapped rewraps); no gap says keep-first is safe
    * and cheaper. One content-hash window for the flag, E2's narrow
    * quality pass, a 2-key rollup — decimal-routed means.
    */
  def docDupBias(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val flagged = TextOps.withQuality(t.documents.select(col("doc_id"), col("text")))
      .withColumn("content_hash", md5(col("text")))
      .withColumn("duplicate",
        (col("doc_id") =!= min(col("doc_id"))
          .over(Window.partitionBy(col("content_hash")))).cast("int"))
    flagged.groupBy(col("duplicate"))
      .agg(
        count(lit(1)).as("n_docs"),
        r6(sum(col("n_chars").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)).cast("double")).as("mean_chars_r"),
        r6(sum(col("quality_score").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)).cast("double")).as("mean_quality_r"))
      .orderBy(col("duplicate"))
  }

  /** C25: simhash hamming-distance histogram — F8's threshold ladder
    * on the text side: the banded C4b pair relation bucketed by
    * hamming, zero-filled over the static 0..maxHamming grid, so the
    * "where does near-dup mass sit / where to cut" read exists for
    * simhash like it does for phash (F8) and Jaccard (C19). Pair
    * feeder + a ≤(maxHamming+1)-key rollup against a range relation.
    */
  def docSimhashHammingHist(t: Tables, maxHamming: Int = 12): DataFrame = {
    val hist = docSimhashPairs(t, maxHamming)
      .groupBy(col("hamming").cast("long").as("h"))
      .agg(count(lit(1)).as("n"))
    t.spark.range(0, maxHamming + 1L).select(col("id").as("hamming"))
      .join(hist, col("hamming") === col("h"), "left")
      .select(col("hamming"), coalesce(col("n"), lit(0L)).as("n_pairs"))
      .orderBy(col("hamming"))
  }

  /** C24: LSH band-bucket health card — the index-side capacity read
    * C22's shingle-df histogram gives for the posting lists: per band,
    * bucket count, max bucket size, exact candidate volume Σ s(s−1)/2
    * and singleton share. A hot bucket (many docs sharing one band
    * value) fans out s² candidate rows in C3's self-join — this
    * relation is what you read BEFORE a 100 TB banding run to know the
    * join's true fan-out, and after a hash/band change to verify it
    * fell. One (band, band_val) aggregate over the C2 signature
    * relation, rolled up to 4 rows.
    */
  def docLshBucketStats(t: Tables): DataFrame = {
    val bands = minhashSigCols(explodeSets(sharedSets(t))).select(col("doc_id"),
      expr("""stack(4,
        0, concat_ws(',', m0, m1, m2, m3),
        1, concat_ws(',', m4, m5, m6, m7),
        2, concat_ws(',', m8, m9, m10, m11),
        3, concat_ws(',', m12, m13, m14, m15)) AS (band, band_val)"""))
    bands.groupBy(col("band"), col("band_val")).agg(count(lit(1)).as("s"))
      .groupBy(col("band").cast("long").as("band"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(col("s")).as("n_docs"),
        max(col("s")).as("max_bucket"),
        sum(expr("s * (s - 1) div 2")).as("cand_pairs"),
        sum(when(col("s") === 1L, 1L).otherwise(0L)).as("singleton_buckets"))
      .orderBy(col("band"))
  }

  /** C22: MinHash estimator calibration — the dataset-card relation
    * that answers "can I trust est_jaccard as the dedup signal at this
    * signature width?": C3b's verified candidate pairs bucketed by
    * TRUE Jaccard (0.1-wide bins), with pair count, mean signed
    * estimator error (bias) and mean absolute error per bin. The
    * theoretical per-pair sd at 16 perms is √(j(1−j)/16) ≈ 0.12 —
    * the observed per-bin MAE read against that is the "widen the
    * signature or not" decision. One extra #bins-cardinality aggregate
    * over the already-banded pair relation; error doubles are
    * identical expressions on both engines, decimal-routed into the
    * mean per the B1 convention.
    */
  def docMinhashCalibration(t: Tables): DataFrame = {
    val pairs = docMinhashJaccardEst(t)
      .select(floor(col("jaccard") * 10.0).cast("long").as("bucket"),
        (col("est_jaccard") - col("jaccard")).as("err"))
    pairs.groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_pairs"),
        r6(sum(col("err").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)).cast("double")).as("mean_err_r"),
        r6(sum(abs(col("err")).cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)).cast("double")).as("mae_r"))
      .orderBy(col("bucket"))
  }

  /** C5: n-gram Jaccard with exact prefix filtering (the AllPairs /
    * PPJoin candidate bound, Bayardo et al. WWW'07).
    *
    * Canonical order = (global shingle df asc, gram asc). If
    * J(A,B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉ (and ⌈t·|B|⌉), so the *smallest*
    * common shingle must lie within the first |A| − ⌈t·|A|⌉ + 1
    * shingles of A — were it in the suffix, all |A∩B| common shingles
    * would have to fit in the ⌈t·|A|⌉ − 1 suffix slots. Symmetrically
    * for B. Hence joining prefixes only is *exact*: same result set as
    * the full inverted-index join, same DuckDB oracle.
    *
    * Scale consequence: a stop-shingle ("of the …") with df = k sits at
    * the very end of the canonical order, lands in almost no prefix,
    * and never fans out k² candidate rows — the un-capped
    * inverted-index self-join's quadratic failure mode. Costs one extra
    * df aggregation + a per-doc rank (window partitioned by doc_id —
    * high cardinality, never a global window).
    */
  def docNgramJaccard(t: Tables, threshold: Double = 0.2): DataFrame =
    // one materialization of the gram-set relation, shared by the df
    // aggregate, both prefix self-join sides, and both verify sides.
    // Persist (not the lazy shared exchange): the prefix join+window
    // subplan feeds both self-join sides, and non-exchange subplans
    // don't dedupe — lazy here measured 3× slower (see sharedSets).
    withShared(gramSets(t), col("doc_id")) { sets =>
      verifiedJaccard(sets,
        prefixFilterCandidates(explodeSets(sets), threshold), threshold)
    }

  /** C5b: df-capped n-gram Jaccard — the SURVEY §5b deploy knob
    * first-class: shingles with document frequency > `dfCap` generate
    * NO candidates (a stop-shingle shared by k documents fans out k²
    * candidate rows; the cap bounds every shingle's fan-out at dfCap²),
    * while verification stays exact on the FULL gram sets. Recall
    * trade, stated precisely: a qualifying pair is missed only if
    * every shingle it shares is above the cap — for near-duplicate
    * documents sharing many rare shingles, practically never; for
    * template-only overlap, by design. The exact PPJoin variant
    * (docNgramJaccard) bounds the same blow-up by prefix position
    * without recall loss at the cost of the df-rank window; at 100 TB
    * the cap variant additionally caps the *verify* candidate volume,
    * which is the deploy trade §5b documents.
    */
  def docNgramJaccardCapped(t: Tables, threshold: Double = 0.2, dfCap: Int = 100): DataFrame =
    withShared(gramSets(t), col("doc_id")) { sets =>
      verifiedJaccard(sets, cappedCandidates(explodeSets(sets), dfCap), threshold)
    }

  /** df-capped candidate pairs: (da < db) sharing ≥ 1 shingle with
    * document frequency ≤ dfCap. Shared by C5b and C16.
    *
    * Keep-set inverted: anti-join against the STOP shingles (df > cap)
    * instead of inner-joining `rare` (≈ the whole shingle vocabulary,
    * which shuffles the full gram relation a second time). The stop
    * set is vastly smaller than the vocabulary at any given scale, but
    * it still GROWS with the corpus (up to total-grams/dfCap distinct
    * shingles), so no broadcast hint is forced: AQE broadcasts it
    * while it fits and degrades to a shuffled anti-join beyond the
    * threshold — the graceful path a fixed hint would turn into a
    * driver OOM.
    *
    * Candidate pairs WITHOUT a gram self-join: the r7 bench caught
    * the join bimodal (3.9 s vs 27.9 s on identical iterations) — it
    * shuffles the capped relation TWICE (once per side) and builds
    * per-partition hash tables of it, and under memory pressure AQE's
    * side pick + spill turn non-deterministic. Instead aggregate each
    * sub-cap gram's posting list once (arrays bounded at dfCap
    * elements by construction — the stop anti-join already removed
    * everything larger, so no unbounded collect) and emit its ordered
    * pairs through a streaming generator: one shuffle of the gram
    * relation, no hash build, nothing for AQE to flip. The pair-level
    * distinct stays — one row per shared gram (a near-identical pair
    * sharing 500 sub-cap grams would verify 500×), and the df-bounded
    * volume (≤ dfCap²/2 per gram) makes the dedup shuffle cheap.
    */
  private def cappedCandidates(g: DataFrame, dfCap: Int): DataFrame = {
    // ONE gram-keyed pass (r16, guide §2.3/§2.4) — was three: a df
    // aggregate over the full exploded relation, the stop-set
    // anti-join probe, and a collect_set posting aggregate of the
    // survivors. BoundedPostings fuses df counting and posting
    // collection with a cap+1 buffer bound, so stop shingles ship
    // ≤ cap+1 ids per map partition (the blow-up the anti-join
    // guarded) and sub-cap shingles arrive with their COMPLETE sorted
    // posting list — `ids` is bit-equal to the old
    // sort_array(collect_set(doc_id)) for every surviving gram, and
    // the pair generator + distinct are unchanged, so the result is
    // row-identical (oracle-checked on C5b/C16).
    val bp = udaf(BoundedPostings(dfCap), Encoders.scalaLong)
    g.groupBy(col("gram"))
      .agg(bp(col("doc_id")).as("p"))
      .filter(col("p._1") > 1 && col("p._1") <= dfCap)
      .select(col("p._2").as("ids"))
      .select(explode(expr(
        """flatten(transform(ids, (a, i) ->
          |  transform(slice(ids, i + 2, size(ids)), b ->
          |    named_struct('da', a, 'db', b))))""".stripMargin)).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db")).distinct()
  }

  /** C16: n-gram CONTAINMENT pairs — the asymmetric near-dup relation
    * Jaccard can't see: C(A→B) = |A∩B|/|A| is ~1 when A is quoted
    * wholesale inside a much larger B even though J(A,B) ≈ |A|/|B| is
    * tiny. This is the quote/subset/boilerplate-inclusion detector a
    * corpus-prep pipeline runs next to symmetric dedup (and the
    * document-level analog of E24's span containment). Emits both
    * directions per ordered pair plus the Jaccard for context; a pair
    * qualifies when EITHER direction clears the threshold.
    *
    * Scale shape: identical to C5b — df-capped posting-list candidate
    * generation (fan-out bounded at dfCap² per shingle), exact
    * verification on the full gram sets via the native intersect
    * count. Same recall statement as C5b: a qualifying pair is missed
    * only if every shared shingle is above the cap.
    */
  def docNgramContainment(t: Tables, threshold: Double = 0.4, dfCap: Int = 100): DataFrame =
    withShared(gramSets(t), col("doc_id")) { sets =>
      val cands = cappedCandidates(explodeSets(sets), dfCap)
      val sa = sets.select(col("doc_id").as("da"), col("gs").as("gsa"), col("n_grams").as("na"))
      val sb = sets.select(col("doc_id").as("db2"), col("gs").as("gsb"), col("n_grams").as("nb"))
      cands
        .join(sa, "da")
        .join(sb, col("db") === col("db2"))
        .withColumn("c", call_function("graft_intersect_count", col("gsa"), col("gsb")))
        .select(col("da").as("doc_a"), col("db").as("doc_b"),
          (col("c") / col("na")).as("cont_a_in_b"),
          (col("c") / col("nb")).as("cont_b_in_a"),
          (col("c") / (col("na") + col("nb") - col("c"))).as("jaccard"))
        .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
        .distinct()
    }

  /** C17: per-document n-gram NOVELTY — the fraction of a doc's
    * shingles that are corpus-unique (df = 1). The inverse signal of
    * the pair detectors: near-dups and template boilerplate score ~0,
    * fresh prose scores ~1 — the per-doc "how much of this text exists
    * nowhere else" column dedup-aware quality filters threshold on
    * (and the document-level memorization-risk proxy).
    *
    * Scale shape: ONE gram-keyed shuffle — the df comes from a window
    * over the exploded gram relation (gram is a high-cardinality key;
    * never a join back to a separately aggregated df relation, which
    * would shuffle the same rows twice), then a per-doc aggregate that
    * rides the explode's doc_id partitioning.
    */
  def docNgramNovelty(t: Tables): DataFrame =
    explodeSets(gramSets(t))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("df") === 1).cast("long")).as("n_unique"))
      .select(col("doc_id"), col("n_grams"), col("n_unique"),
        r6(col("n_unique") / col("n_grams")).as("novelty_r"))

  /** C27: duplicate n-gram MASS per source — the fraction of each
    * source's (doc, shingle) rows whose shingle exists elsewhere in
    * the corpus (the "duplicate text mass" dataset-card metric: C14
    * counts duplicate DOCUMENTS, C17 scores each doc — this rolls the
    * substring-level redundancy up per source, the number that ranks
    * crawl feeds by how much of their text is boilerplate/syndication
    * before any pair join runs).
    *
    * Scale shape: C17's skeleton rolled up by source instead of doc —
    * ONE gram-keyed window shuffle for df, then a #sources-key
    * aggregate riding the doc-side join (broadcast dims-style: the
    * (doc_id, source) projection is narrow).
    */
  def docDupNgramMass(t: Tables): DataFrame =
    explodeSets(gramSets(t))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))))
      .join(t.documents.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("df") > 1).cast("long")).as("n_dup_grams"))
      .select(col("source"), col("n_grams"), col("n_dup_grams"),
        r6(col("n_dup_grams").cast("double") / col("n_grams").cast("double"))
          .as("dup_mass_r"))

  /** C8: incremental dedup — the shape a production pipeline actually
    * runs: an immutable BASE corpus (here: doc_id % mod ≠ 0) with a
    * maintained content-hash index, and a NEW batch (doc_id % mod = 0)
    * deduped against the index and against itself, without ever
    * re-scanning base text. dup_of = lowest-id duplicate across both
    * the base index and earlier intra-batch rows; is_new marks
    * first-seen content.
    *
    * Scale shape: the base index is one hash-partitioned (hash →
    * min id) aggregate — precomputed once, bucketed by content_hash at
    * deploy so the daily batch join is shuffle-free on the base side;
    * the batch side shuffles only the batch. Intra-batch dedup is a
    * per-hash window over the batch alone, never the corpus.
    */
  def docIncrementalDedup(t: Tables, mod: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashed = t.documents.select(col("doc_id"), md5(col("text")).as("content_hash"))
    val batch = hashed.filter(pmod(col("doc_id"), lit(mod)) === 0)
    val base = hashed.filter(pmod(col("doc_id"), lit(mod)) =!= 0)
    val baseIdx = base.groupBy(col("content_hash")).agg(min(col("doc_id")).as("base_id"))
    val wB = Window.partitionBy(col("content_hash"))
      .orderBy(col("doc_id")).rowsBetween(Window.unboundedPreceding, -1)
    val dupOf = when(col("base_id").isNull, col("intra_id"))
      .when(col("intra_id").isNull, col("base_id"))
      .otherwise(least(col("base_id"), col("intra_id")))
    batch
      .withColumn("intra_id", min(col("doc_id")).over(wB))
      .join(baseIdx, Seq("content_hash"), "left")
      .select(col("doc_id"), col("content_hash"), dupOf.as("dup_of"),
        dupOf.isNull.cast("int").as("is_new"))
  }

  /** C8b: incremental NEAR-dup — C8 catches byte-identical re-crawls;
    * a daily ingest also has to catch near-duplicates of the existing
    * corpus, so the batch's MinHash signatures probe the maintained
    * band index (C3's 4×4 banding) and only band-sharing candidates
    * are exactly verified. Per batch doc: the lowest qualifying
    * partner (base docs, or earlier-id batch docs — C8's intra-batch
    * rule) as `dup_of` with its verified Jaccard, `is_new` otherwise.
    *
    * Scale shape: at deploy the base band index and gram sets are
    * persisted artifacts (bucketed on band_val / doc_id — the G15
    * pattern), so the daily job computes signatures for the BATCH
    * alone and every join shuffles batch-sized relations against
    * pre-bucketed base sides. In this self-contained query both sides
    * derive from one sharedSets exchange; the shapes that matter —
    * band-bucketed candidate generation (never all-pairs), verify
    * bounded by candidates, no corpus window — are PlanSpec-pinned.
    */
  def docIncrementalMinhash(t: Tables, mod: Int = 5, threshold: Double = 0.2): DataFrame = {
    val sets = sharedSets(t)
    val bands = minhashSigCols(explodeSets(sets)).select(col("doc_id"),
      expr("""stack(4,
        0, concat_ws(',', m0, m1, m2, m3),
        1, concat_ws(',', m4, m5, m6, m7),
        2, concat_ws(',', m8, m9, m10, m11),
        3, concat_ws(',', m12, m13, m14, m15)) AS (band, band_val)"""))
    val probe = bands.filter(pmod(col("doc_id"), lit(mod)) === 0)
      .select(col("doc_id").as("da"), col("band"), col("band_val"))
    val index = bands.select(col("doc_id").as("db"),
      col("band").as("band2"), col("band_val").as("band_val2"))
    val cands = probe.join(index,
        col("band") === col("band2") && col("band_val") === col("band_val2") &&
          col("db") =!= col("da") &&
          (pmod(col("db"), lit(mod)) =!= 0 || col("db") < col("da")))
      .select(col("da"), col("db")).distinct()
    val sa = sets.select(col("doc_id").as("da"), col("gs").as("gsa"), col("n_grams").as("na"))
    val sb = sets.select(col("doc_id").as("db2"), col("gs").as("gsb"), col("n_grams").as("nb"))
    val best = cands.join(sa, "da").join(sb, col("db") === col("db2"))
      .withColumn("c", call_function("graft_intersect_count", col("gsa"), col("gsb")))
      .withColumn("j", col("c") / (col("na") + col("nb") - col("c")))
      .filter(col("j") >= threshold)
      .groupBy(col("da"))
      .agg(min(struct(col("db"), col("j"))).as("best"))
      .select(col("da").as("doc_id"),
        col("best.db").as("dup_of"), col("best.j").as("jaccard"))
    t.documents.filter(pmod(col("doc_id"), lit(mod)) === 0).select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("jaccard"),
        col("dup_of").isNull.cast("int").as("is_new"))
  }

  /** C8b's static side as a buildable artifact: the base corpus's
    * MinHash band index carrying each base doc's gram set for the
    * verify step — (band, band_val, db, gsb, nb). One narrow pass via
    * the native per-row MinHashSig (no explode/groupBy — the batch
    * signature aggregate exists for map-side-combined batch shuffles,
    * the per-row form is what an index BUILD wants). At deploy this is
    * persisted bucketed on (band, band_val) and maintained
    * incrementally; DocStreamJob.streamDocNearDup probes it as the
    * static side of a stream-static join.
    */
  def baseBandIndex(t: Tables, mod: Int = 5): DataFrame =
    bandIndexOf(t.documents.filter(pmod(col("doc_id"), lit(mod)) =!= 0))

  /** The band-index shape over an arbitrary documents relation — the
    * mod-free form the persisted dedup-cluster artifact (Sinks G38)
    * builds and appends to.
    */
  private[graft] def bandIndexOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id").as("db"),
        call_function("graft_gram3_hashes", col("text")).as("gsb"))
      .withColumn("nb", size(col("gsb")))
      .withColumn("sig", call_function("graft_minhash_sig", col("gsb")))
      .select(col("db"), col("gsb"), col("nb"),
        expr("""stack(4,
          0, concat_ws(',', sig[0],  sig[1],  sig[2],  sig[3]),
          1, concat_ws(',', sig[4],  sig[5],  sig[6],  sig[7]),
          2, concat_ws(',', sig[8],  sig[9],  sig[10], sig[11]),
          3, concat_ws(',', sig[12], sig[13], sig[14], sig[15])) AS (band, band_val)"""))

  /** C9: benchmark decontamination — flag training documents that share
    * shingles with a (small) benchmark/eval set, the overlap-removal
    * pass every training pipeline runs before a model sees the data.
    * Here the benchmark set is carved deterministically from the corpus
    * (doc_id % mod = 0); in production it is the eval suites.
    *
    * Scale shape — deliberately different from the pair-join dedups:
    * the benchmark shingle set is tiny relative to the corpus, so it is
    * `broadcast` and the training side meets it in a broadcast hash
    * join: the 100 TB training corpus is NEVER shuffled — each task
    * streams its documents past the in-memory benchmark set, and only
    * the matched (doc, shared-gram) rows (bounded by the benchmark
    * size) reach the one per-doc count aggregate. PlanSpec pins the
    * broadcast.
    */
  def docDecontaminate(t: Tables, mod: Int = 10, minShared: Int = 1): DataFrame = {
    val sets = gramSets(t)
    val benchGrams = sets.filter(pmod(col("doc_id"), lit(mod)) === 0)
      .select(explode(col("gs")).as("gram")).distinct()
      .withColumn("hit", lit(1L))
    val train = sets.filter(pmod(col("doc_id"), lit(mod)) =!= 0)
    // LEFT join against the broadcast shingle set, so zero-overlap
    // docs survive into the same aggregate — the train side is
    // consumed ONCE (one scan, one shuffle on doc_id), where an inner
    // join + join-back would run the GramHashes pass over ~(mod-1)/mod
    // of the corpus twice
    train.select(col("doc_id"), col("n_grams"), explode(col("gs")).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(coalesce(sum(col("hit")), lit(0L)).as("n_shared"),
        max(col("n_grams")).cast("long").as("n_grams")) // DuckDB COUNT is BIGINT
      .select(col("doc_id"), col("n_shared"), col("n_grams"),
        (col("n_shared") >= minShared).cast("int").as("contaminated"))
  }

  /** C9b: Bloom-filter decontamination — the C9 verdict computed
    * against a CONSTANT-SIZE membership summary of the benchmark
    * shingle set instead of the exact set. C9 broadcasts every
    * distinct benchmark shingle; with many eval suites that broadcast
    * grows with the benchmark corpus. Here the benchmark side
    * collapses to an mBits-bit Bloom filter (default 64 Kib = one
    * 8 KiB long-array) that is broadcast once regardless of benchmark
    * size, and each training shingle is tested with kHashes O(1) bit
    * probes — no join on the probe side at all. The price is a
    * one-sided error: `n_bloom_hits >= n_shared` always (no false
    * negatives — a flagged=0 doc is PROVABLY clean, which is the
    * direction decontamination needs), with the false-positive excess
    * bounded by the standard (1-e^(-kn/m))^k rate (DedupSpec measures
    * it against C9).
    *
    * Scale shape: benchmark slice → explode shingles → kHashes
    * positions → bit_or per 64-bit word (a ≤ mBits/64-row aggregate) →
    * one dense array row, broadcast. The 100 TB training side is a
    * single narrow pass (gram hash → k codegen'd bit tests against the
    * broadcast array) into the per-doc count aggregate — one shuffle,
    * same as C9, but the broadcast is 8 KiB instead of the full
    * shingle relation. Positions reuse the MinHash affine-permutation
    * family over the portable 60-bit gram hash, so the filter is
    * bit-reproducible in the DuckDB oracle.
    */
  def docDecontaminateBloom(t: Tables, mod: Int = 10, minShared: Int = 1,
      mBits: Int = 65536, kHashes: Int = 4): DataFrame = {
    require(mBits % 64 == 0 && kHashes <= Perms.length,
      s"mBits must be word-aligned, kHashes <= ${Perms.length}")
    val sets = gramSets(t)
    // position r of a 60-bit gram hash: affine permutation mod mBits
    def pos(gram: Column, r: Int): Column =
      (lit(Perms(r)._1) * (gram % M30) + lit(Perms(r)._2)) % P % lit(mBits.toLong)
    val nWords = mBits / 64
    // build: per-word OR of the benchmark slice's position bits, then
    // one dense array<long> row (missing words are 0)
    val bloomRow = sets.filter(pmod(col("doc_id"), lit(mod)) === 0)
      .select(explode(col("gs")).as("gram"))
      .select(explode(array((0 until kHashes).map(r => pos(col("gram"), r)): _*)).as("p"))
      .groupBy(shiftright(col("p"), 6).cast("int").as("w"))
      .agg(expr("bit_or(shiftleft(cast(1 as bigint), cast(p % 64 as int)))").as("bits"))
      .agg(map_from_entries(collect_list(struct(col("w"), col("bits")))).as("wm"))
      .select(transform(sequence(lit(0), lit(nWords - 1)),
        w => coalesce(element_at(col("wm"), w), lit(0L))).as("bloom"))
    def bitTest(gram: Column, r: Int): Column = {
      val p = pos(gram, r)
      element_at(col("bloom"), (shiftright(p, 6) + 1).cast("int"))
        .bitwiseAND(call_function("shiftleft", lit(1L), (p % 64).cast("int"))) =!= 0L
    }
    sets.filter(pmod(col("doc_id"), lit(mod)) =!= 0)
      .select(col("doc_id"), col("n_grams"), explode(col("gs")).as("gram"))
      .crossJoin(broadcast(bloomRow))
      .withColumn("hit", (0 until kHashes).map(r => bitTest(col("gram"), r)).reduce(_ && _))
      .groupBy(col("doc_id"))
      .agg(sum(col("hit").cast("long")).as("n_bloom_hits"),
        max(col("n_grams")).cast("long").as("n_grams"))
      .select(col("doc_id"), col("n_bloom_hits"), col("n_grams"),
        (col("n_bloom_hits") >= minShared).cast("int").as("flagged"))
  }

  /** C12: per-source contamination report — the C9 verdict relation
    * rolled up to what a dataset card actually publishes: per source,
    * how many training docs share shingles with the benchmark split
    * and at what rate. One #sources-key aggregate over C9's output
    * (whose own scale shape — broadcast benchmark shingles, training
    * side never re-shuffled — is inherited unchanged).
    */
  def docContaminationStats(t: Tables, mod: Int = 10, minShared: Int = 1): DataFrame =
    t.documents.select(col("doc_id"), col("source"))
      .join(docDecontaminate(t, mod, minShared), "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("contaminated").cast("long")).as("n_contaminated"),
        r6(sum(col("contaminated").cast("long")).cast("double") / count(lit(1)))
          .as("rate_r"),
        sum(col("n_shared")).as("total_shared"))
      .orderBy(col("source"))

  /** C14: per-source dedup report — the numbers a dataset card
    * publishes about redundancy, one relation: per source, how many
    * docs are redundant exact copies (their content hash's keeper is a
    * different doc), how many participate in any verified MinHash-LSH
    * near-dup pair, and the mean duplicated-span ratio (E24's signal
    * averaged). The C12 contamination report's sibling for dedup.
    *
    * Scale shape: three already-shaped sub-relations (C1's hash
    * aggregate, C3's banded pairs, E24's shared-stage span ratios)
    * joined on doc_id and rolled up to the #sources-key aggregate —
    * composition adds no new shuffle class of its own.
    */
  def corpusDedupStats(t: Tables, threshold: Double = 0.2): DataFrame = {
    val hashed = t.documents.select(col("doc_id"), md5(col("text")).as("h"))
    val keep = hashed.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
    val exact = hashed.join(keep, "h")
      .select(col("doc_id"), (col("doc_id") =!= col("keep_id")).cast("long").as("is_exact_dup"))
    val near = docMinhashLshPairs(t, threshold)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
      .withColumn("is_near", lit(1L))
    val span = TextOps.docSpanDedup(t).select(col("doc_id"), col("dup_ratio_r"))
    t.documents.select(col("doc_id"), col("source"))
      .join(exact, "doc_id")
      .join(near, Seq("doc_id"), "left")
      .join(span, "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("is_exact_dup")).as("n_exact_dup"),
        coalesce(sum(col("is_near")), lit(0L)).as("n_near_dup"),
        r6(sum(col("dup_ratio_r").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)).cast("double")).as("mean_span_dup_r"))
      .orderBy(col("source"))
  }

  /** C10: fingerprint-overlap near-dup pairs — the mod-p sampled
    * (0-mod-p) fingerprinting of Broder/Manber: a document's
    * fingerprints are its shingle hashes ≡ 0 (mod `mod`), so two docs
    * share a fingerprint iff they share that exact word-3-gram — a
    * LOCAL (substring-level) overlap signal, where C5's Jaccard is a
    * global set ratio. Pairs sharing ≥ minShared fingerprints are the
    * candidates a substring-dedup pass would inspect.
    *
    * Scale shape: sampling thins the inverted index by the mod before
    * any shuffle (a narrow filter on the gram scan); the equi-join on
    * fingerprint hash is the only wide op, and its fan-out is bounded
    * by `dfCap` — fingerprints held by more than dfCap documents are
    * removed by a stop-set anti-join (C5b's shape: the stop set stays
    * small, AQE broadcasts it while it fits) BEFORE the self-join, so a
    * boilerplate shingle shared by k documents can never fan out k²
    * pair rows. Recall trade, stated precisely: a qualifying pair is
    * missed only if EVERY fingerprint it shares is above the cap —
    * template/boilerplate overlap, by design. No all-pairs stage
    * anywhere.
    */
  def docFingerprintPairs(t: Tables, mod: Int = 8, minShared: Int = 2,
      dfCap: Int = 100): DataFrame = {
    val fp = grams(t).filter(pmod(col("gram"), lit(mod)) === 0)
      .select(col("doc_id"), col("gram"))
    val stop = fp.groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
      .select(col("gram"))
    val capped = fp.join(stop, Seq("gram"), "left_anti")
    capped.alias("a").join(capped.alias("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** C10b: near-dup pairs over WINNOWED fingerprints (E28) — the same
    * inverted-index join as C10, but the index is the winnowing
    * selection instead of mod-p sampling: coverage is positional
    * (every ≥ w+3-token shared run is guaranteed represented) rather
    * than probabilistic, at the same ~2/(w+1) index density. Scale
    * shape identical to C10: narrow selection before the only shuffle,
    * hot fingerprints removed by the df-cap stop-set anti-join.
    */
  def docWinnowPairs(t: Tables, w: Int = 8, minShared: Int = 2,
      dfCap: Int = 100): DataFrame = {
    val fp = graft.operators.TextOps.textWinnow(t, w)
    val stop = fp.groupBy(col("fingerprint")).agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
      .select(col("fingerprint"))
    val capped = fp.join(stop, Seq("fingerprint"), "left_anti")
    capped.alias("a").join(capped.alias("b"),
        col("a.fingerprint") === col("b.fingerprint") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Minimum required overlap ⌈t·n⌉, guarded against double rounding:
    * for thresholds whose product lands just above an integer in
    * binary floating point (0.55·100 = 55.000000000000007), a bare
    * `ceil` returns n·t+1 and the prefix comes out one shingle short —
    * silently missing qualifying pairs. The epsilon restores the exact
    * rational ceiling for any realistic (t, n).
    */
  private[graft] def minOverlap(nGrams: Column, threshold: Double): Column =
    ceil(nGrams * threshold - lit(1e-9))

  /** The PPJoin prefix-candidate join over a (materialized) grams
    * relation: global-df canonical order, per-doc prefix of length
    * n − ⌈t·n⌉ + 1, equi-join on the prefix shingles.
    */
  private def prefixFilterCandidates(g: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // df stays groupBy+join, NOT a gram-partitioned window: the window
    // form was measured 2.9× SLOWER at sf0.1 (doc_ngram_jaccard 1.33 →
    // 3.82 s) — the vocabulary has ~one group per row, and WindowExec
    // pays a per-group buffer for millions of 1-3-row groups where the
    // hash aggregate pays per row.
    val df = g.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("gram").asc)
    val prefix = g.join(df, "gram")
      .withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <= col("n_grams") - minOverlap(col("n_grams"), threshold) + 1)
      .select(col("doc_id"), col("gram"))
    // NO pair-level distinct: deduping ~10⁶ candidate rows is a full
    // shuffle + hash aggregate, while letting the few-% duplicate
    // pairs (pairs sharing >1 prefix shingle) flow through the verify
    // and deduping the ~10² result rows is free (verifiedJaccard ends
    // with distinct). Measured: dropping it removed the single most
    // expensive exchange of the pipeline at +8% verify work.
    prefix.select(col("doc_id").as("da"), col("gram"))
      .join(prefix.select(col("doc_id").as("db"), col("gram").as("gram2")),
        col("gram") === col("gram2") && col("da") < col("db"))
      .select(col("da"), col("db"))
  }

  /** Exact Jaccard on candidate pairs: two equi-joins pull each side's
    * gram-hash ARRAY onto the candidate row, then the native
    * IntersectCount expression computes |A∩B| locally (no intermediate
    * intersection array per pair, unlike size(array_intersect)) — work proportional to
    * candidates × avg set size, with no exploded re-join (round 3's
    * exploded verify shuffled ~40M rows for 788k candidates; this
    * shuffles the candidates once per side, and AQE broadcasts the
    * sets side outright when it fits). `cands` may contain duplicate
    * (da, db) rows — callers skip the expensive pair-level distinct —
    * so the verified (tiny) result is deduped here; duplicate pairs
    * compute bit-identical jaccard values, so distinct is exact.
    * `sets` is the caller's gramSets relation. No final sort: at 100 TB
    * a near-dup pair set is corpus-scale, and only the registry's
    * oracle dump needs order.
    */
  private def verifiedJaccard(sets: DataFrame, cands: DataFrame, threshold: Double): DataFrame = {
    val sa = sets.select(col("doc_id").as("da"), col("gs").as("gsa"), col("n_grams").as("na"))
    val sb = sets.select(col("doc_id").as("db2"), col("gs").as("gsb"), col("n_grams").as("nb"))
    cands
      .join(sa, "da")
      .join(sb, col("db") === col("db2"))
      .withColumn("c", call_function("graft_intersect_count", col("gsa"), col("gsb")))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        (col("c") / (col("na") + col("nb") - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .distinct()
  }

  /** Unsorted simhash relation (internal: consumers add their own
    * ordering; a mid-pipeline global sort would be a wasted exchange).
    */
  private def simhashes(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"),
        call_function("graft_simhash60",
          call_function("graft_gram3_hashes", col("text"))).as("simhash"))

  /** C4a: 60-bit SimHash per document over distinct 3-gram shingles —
    * one narrow pass: fused GramHashes → native SimHash60 (no explode,
    * no shuffle, no interpreted higher-order transform; the oracle's
    * unnest+SUM formulation is value-identical).
    */
  def docSimhash(t: Tables): DataFrame =
    simhashes(t)

  /** C4b: SimHash near-dup pairs — pigeonhole banding (4 × 15-bit
    * chunks: hamming ≤ 3 guarantees ≥1 identical chunk), candidates
    * share a chunk, verified by exact hamming distance.
    */
  def docSimhashPairs(t: Tables, maxHamming: Int = 12): DataFrame = {
    val sh = simhashes(t)
    val chunks = sh.select(col("doc_id"), col("simhash"),
      expr("""stack(4,
        0, (simhash >> 0)  & 32767,
        1, (simhash >> 15) & 32767,
        2, (simhash >> 30) & 32767,
        3, (simhash >> 45) & 32767) AS (chunk, chunk_val)"""))
    val c2 = chunks.select(col("doc_id").as("db"), col("simhash").as("sim2"),
      col("chunk").as("chunk2"), col("chunk_val").as("chunk_val2"))
    chunks.join(c2,
        col("chunk") === col("chunk2") && col("chunk_val") === col("chunk_val2") &&
          col("doc_id") < col("db"))
      .select(col("doc_id").as("doc_a"), col("db").as("doc_b"),
        bit_count(col("simhash").bitwiseXOR(col("sim2"))).as("hamming"))
      // filter before distinct — exact (hamming is a pure function
      // of the pair's simhashes: the multi-chunk duplicate rows
      // carry identical hamming), and the distinct's exchange then
      // moves only qualifying pairs (guide §2.3)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** C7: near-dup clustering — connected components over the Jaccard
    * pair graph (pairs alone don't dedupe; transitive groups do), then
    * canonical selection (min doc_id per cluster). Iterative min-label
    * propagation: each round is one join + one aggregate, O(diameter)
    * rounds (the standard large-scale CC shape); `localCheckpoint`
    * truncates lineage per round so the plan stays flat.
    */
  /** One label-propagation round: each node takes the min of its label
    * and its neighbors' labels; `changed` marks rows whose label
    * shrank. Pure Column logic — no typed boundary, stays inside
    * whole-stage codegen (PlanSpec asserts no DeserializeToObject).
    */
  /** One CC round = one neighbor-min HOP, plus (when `doJump`) one
    * label-of-label JUMP. Plain min-propagation advances a label one
    * edge per round — O(diameter) rounds, and the sf1 sweep hit a
    * perceptual-pair corpus whose chained components exceeded 20. The
    * jump follows the label pointer (label(u) is always a smaller node
    * of the same component, so label(label(u)) is too — correctness is
    * unchanged and the fixpoint is still "label ≤ every neighbor's
    * label" ⇒ constant per component = the min): reach roughly doubles
    * per round (hop + jump compose Fibonacci-style), so rounds are
    * ~log_φ(diameter) — 20 rounds covers diameter ≈ 15 000 where the
    * hop-only form covered 20. Cost: one extra join per round against
    * the label relation, which is why the jump is CONDITIONAL (see
    * clusterPairs): typical near-dup corpora have diameter ≤ 3 and
    * never need it — the r8 bench paid the jump every round and
    * doc_dedup_clusters sf1 went 17.9 → 33.5 s for insurance only
    * long-chain corpora cash.
    */
  private[graft] def ccRound(sym: DataFrame, labels: DataFrame,
      doJump: Boolean = true): DataFrame = {
    val neighborMin = sym
      .join(labels, col("dst") === col("id"))
      .groupBy(col("src")).agg(min(col("label")).as("nmin"))
    val hop = labels
      .join(neighborMin, col("id") === col("src"), "left")
      .select(col("id"), col("label").as("old"),
        least(col("label"), coalesce(col("nmin"), col("label"))).as("l1"))
    if (!doJump)
      hop.select(col("id"), col("l1").as("label"),
        (col("l1") < col("old")).as("changed"))
    else {
      val jump = labels.select(col("id").as("jid"), col("label").as("jlabel"))
      hop
        .join(jump, col("l1") === col("jid"), "left")
        .select(col("id"),
          least(col("l1"), coalesce(col("jlabel"), col("l1"))).as("label"),
          (least(col("l1"), coalesce(col("jlabel"), col("l1"))) < col("old")).as("changed"))
    }
  }

  /** Shared CC round bound: docDedupClusters' default and the C34
    * audit's direct clusterPairs call must use the SAME bound, or the
    * audit's cluster_keyed row would be computed from different
    * clusters than the C33 split it audits.
    */
  private[graft] val DefaultCcMaxIter = 20

  def docDedupClusters(t: Tables, threshold: Double = 0.2, maxIter: Int = DefaultCcMaxIter): DataFrame =
    // edges come from the prefix-filtered jaccard join — exact pair set
    // (see docNgramJaccard), but candidate generation is df-bounded, so
    // the feeder is no longer quadratic in stop-shingle frequency.
    // docNgramJaccard returns an eagerly-checkpointed result (tiny:
    // near-dup pairs, not candidates), cheap to re-read every CC round.
    clusterPairs(
      docNgramJaccard(t, threshold).select(col("doc_a"), col("doc_b")),
      t.documents.select(col("doc_id")), maxIter, "doc_dedup_clusters")

  /** Connected components + canonical selection over an arbitrary
    * near-dup pair relation — the C7 machinery, reusable by any pair
    * family (F6b's perceptual pairs cluster the same way jaccard pairs
    * do). `edges` must be SMALL and cheap to re-evaluate per round
    * (near-dup pairs, checkpointed by the feeder — never raw
    * candidates); its checkpoint blocks are released before returning.
    * Iterative min-label propagation: one join + one aggregate per
    * round, O(component diameter) rounds, convergence observed inside
    * the round's own job, loud failure if maxIter is too small.
    */
  private[graft] def clusterPairs(edges: DataFrame, universe: DataFrame,
      maxIter: Int, opName: String,
      releaseEdges: Boolean = true): DataFrame = {
    val sym = edges
      .union(edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("src", "dst")
    var labels = stableCheckpoint(sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var iter = 0
    var converged = false
    // The pointer jump engages ADAPTIVELY: hop-only rounds (2 joins)
    // until a round's n_changed fails to drop below 3/4 of the
    // previous round's. Short-diameter corpora (the typical near-dup
    // population — clusters of 2–3) see geometric n_changed decay and
    // converge hop-only, never paying the third join; a long-chain
    // corpus advances a roughly CONSTANT frontier per hop-only round —
    // exactly the plateau the trigger detects — and switches to
    // hop+jump (log_φ diameter) for the rest of the run. Worst case vs
    // always-jump: two extra hop-only rounds before the switch.
    var jumping = false
    var prevChanged = Long.MaxValue
    while (!converged && iter < maxIter) {
      // convergence check rides the same job that materializes the
      // round: Dataset.observe's CollectMetrics node aggregates inside
      // the round's plan (no extra action, no typed boundary — the old
      // accumulator mapPartitions paid a Tungsten→JVM deserialization
      // per row per round)
      val obs = org.apache.spark.sql.Observation(s"cc_changed_$iter")
      val next = stableCheckpoint(ccRound(sym, labels, jumping)
        .observe(obs, sum(col("changed").cast("long")).as("n_changed"))
        .select(col("id"), col("label")))
      val nChanged = obs.get.get("n_changed") match {
        case Some(v) if v != null => v.asInstanceOf[Long]
        case _                    => 0L
      }
      converged = nChanged == 0L
      if (!jumping && nChanged.toDouble >= prevChanged.toDouble * 0.75)
        jumping = true
      prevChanged = nChanged
      releaseCheckpoint(labels) // round N−1 is dead once round N exists
      labels = next
      iter += 1
    }
    // a component whose diameter exceeds maxIter would return
    // intermediate labels — silently wrong clusters vs the oracle's
    // exact transitive closure. Fail loudly instead; maxIter is a
    // runtime bound the caller raises for long-chain corpora.
    if (!converged) {
      releaseCheckpoint(labels)
      if (releaseEdges) releaseCheckpoint(edges)
      throw new IllegalStateException(
        s"$opName did not converge in $maxIter rounds " +
          "(component diameter exceeds maxIter; raise maxIter)")
    }
    val out = universe
      .join(labels, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster"),
        (coalesce(col("label"), col("doc_id")) === col("doc_id")).cast("int").as("is_canonical"))
    val outCk = stableCheckpoint(out)
    releaseCheckpoint(labels)
    if (releaseEdges) releaseCheckpoint(edges)
    outCk
  }

  /** C15: near-dup dedup with canonical selection by QUALITY — C7
    * keeps the min doc_id per cluster; real pipelines keep the BEST
    * copy (a near-dup group usually mixes a clean original with
    * truncated or boilerplate-wrapped variants). Per cluster the
    * keeper is argmax(quality_score) with min-doc_id tiebreak; every
    * doc gets its cluster, its E2 quality, the keeper id and the
    * keep/drop verdict — the relation a dedup APPLY step filters on.
    *
    * Scale shape: clusters come from C7 (banded candidates → verified
    * pairs → CC — never all-pairs); quality is E2's narrow pass; the
    * argmax is a window keyed by CLUSTER (corpus-cardinality key,
    * per-group rows = cluster size — never a low-cardinality window)
    * and the keeper joins back on the same cluster key.
    */
  def docDedupKeepBest(t: Tables, threshold: Double = 0.2, maxIter: Int = 20): DataFrame = {
    val clusters = docDedupClusters(t, threshold, maxIter)
      .select(col("doc_id"), col("cluster"))
    val qual = TextOps.withQuality(t.documents.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("quality_score"))
    // keeper computed INSIDE the one cluster-keyed window pass (r16):
    // the rn=1 + join-back form consumed the scored relation twice
    // (which is what r15's checkpoint compensated for) and paid a
    // second cluster shuffle for the join — first_value over the
    // unbounded frame IS the rn=1 row's doc_id, attached to every row
    // of the cluster in the same WindowExec. One scored evaluation,
    // one shuffle, no checkpoint, no join.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    clusters.join(qual, "doc_id")
      .withColumn("keeper", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("cluster"), col("quality_score"), col("keeper"),
        (col("doc_id") === col("keeper")).cast("int").as("keep"))
  }

  /** C6: embedding-cosine near-dup pairs, exact, via a block-grid pair
    * join (no BroadcastNestedLoopJoin, no corpus broadcast).
    *
    * Each vector is hashed to one of `nBlocks` blocks and replicated to
    * every unordered block-pair containing its block (left side carries
    * pairs (blk, j≥blk), right side (i≤blk, blk) — avg replication
    * (B+1)/2 per side). The join is then a plain *equi-join* on the
    * pair key: each unordered vector pair meets in exactly one task
    * (cross-block pairs once by construction; same-block pairs
    * deduplicated by va < vb), task size is bounded by (n/B)² — AQE can
    * split a skewed pair-key like any shuffle join — and no side is
    * ever broadcast or nested-loop'd. This is the canonical distributed
    * shape for an exact pairwise computation.
    *
    * Why not sign-LSH candidates + exact verify: measured on this
    * corpus, the 4×16-bit sign-chunk banding catches 0 of the 144
    * qualifying pairs at sf0.1 (the embeddings are near-isotropic —
    * qualifying pairs at cos ≈ 0.45 differ in up to 31 of 64 sign
    * bits), so any LSH-candidate scheme breaks the exact oracle. For
    * genuinely near-duplicate regimes (cos ≥ 0.9) the approximate
    * bucketed path exists as Similarity.annLshBucketed; at threshold
    * 0.45 an exact cosine join is inherently Ω(n²) compares and the
    * right lever is the block grid's bounded, splittable tasks.
    */
  /** Grid size for the exact pairwise block join, derived per
    * Afrati–Ullman: total compare work is Ω(n²) whatever B is (the
    * grid only routes pairs), so wall clock is ~n²/P and B's job is
    * only (a) granularity — B(B+1)/2 tasks must cover the cluster's
    * parallelism with headroom, B ≈ √(4P) — and (b) memory — a task
    * reads 2n/B rows, capped at ~100k vectors (~tens of MB) per side.
    * B must otherwise stay SMALL: per-row replication is ~B, so
    * shuffle volume is O(n·B) and every unnecessary block multiplies
    * it. A fixed B=8 was the scale bug the r7 sf1 sweep exposed: 36
    * tasks flat regardless of cluster or corpus — at 1000 executors
    * the grid can't use the machine, and one task's 2n/8 rows
    * eventually exceed memory. The count is one cheap metadata job;
    * results are IDENTICAL for any B, spec-pinned.
    */
  private def gridBlocks(n: Long, parallelism: Int): Int = {
    val granularity = math.ceil(math.sqrt(4.0 * parallelism)).toInt
    val memoryBound = ((n + 99999L) / 100000L).toInt
    math.min(4096, math.max(8, math.max(granularity, memoryBound)))
  }

  def docEmbedCosineDup(t: Tables, threshold: Double = 0.45, nBlocks: Int = 0): DataFrame = {
    val nb =
      if (nBlocks > 0) nBlocks
      else gridBlocks(t.embeddings.count(), t.spark.sparkContext.defaultParallelism)
    val e = Similarity.withNorm(t.embeddings)
      .select(col("vec_id"), col("v"), col("n2"))
      .withColumn("blk", pmod(hash(col("vec_id")), lit(nb)))
    val left = e
      .withColumn("bj", explode(sequence(col("blk"), lit(nb - 1))))
      .select(col("blk").as("bi"), col("bj"),
        col("vec_id").as("va"), col("v").as("xa"), col("n2").as("na"))
    val right = e
      .withColumn("bi", explode(sequence(lit(0), col("blk"))))
      .select(col("bi").as("bi2"), col("blk").as("bj2"),
        col("vec_id").as("vb"), col("v").as("xb"), col("n2").as("nb"))
    left.join(right,
        col("bi") === col("bi2") && col("bj") === col("bj2") &&
          (col("bi") =!= col("bj") || col("va") < col("vb")))
      .select(least(col("va"), col("vb")).as("vec_a"),
        greatest(col("va"), col("vb")).as("vec_b"),
        Similarity.cosineR(col("xa"), col("xb"), col("na"), col("nb")).as("cos_r"))
      .filter(col("cos_r") >= threshold)
  }

  /** C11: SemDeDup — semantic dedup over embeddings: assign every
    * vector to its nearest seeded-hash centroid cell (the D7
    * quantizer), find cosine-near pairs only WITHIN a cell, and keep
    * one representative (lowest vec_id) per near-dup neighborhood.
    * Output is the full keep/drop verdict per vector. The cross-cell
    * restriction is the point of the method (Abbas et al., SemDeDup):
    * near-duplicate embeddings land in the same coarse cell, so the
    * pairwise cosine work shrinks from O(n²) to Σ O(|cell|²).
    *
    * Scale shape: cell assignment is the D7 narrow literal-argmin pass
    * (no shuffle); the pair join is a plain equi-join on `cell`, so the
    * quadratic work is per-cell and `nCenters` is the explicit knob
    * that bounds it — at 100 TB the center set scales with the corpus
    * (cells of ~constant size), cells ≫ cores, and AQE splits skewed
    * cells like any shuffle join key. The verdict is a left join on
    * the (small) dropped-id set, never a second corpus shuffle.
    */
  def docSemdedup(t: Tables, nCenters: Int = 8, threshold: Double = 0.45): DataFrame = {
    val assigned = Similarity.withCell(
        Similarity.withNorm(t.embeddings), Similarity.hashCenters(t, nCenters))
      .select(col("vec_id"), col("label"), col("cell"), col("v"), col("n2"))
    val a = assigned.select(col("cell").as("ca"), col("vec_id").as("va"),
      col("v").as("xa"), col("n2").as("na"))
    val b = assigned.select(col("cell").as("cb"), col("vec_id").as("vb"),
      col("v").as("xb"), col("n2").as("nb"))
    // drop the HIGHER id of every qualifying in-cell pair
    val dropped = a.join(b, col("ca") === col("cb") && col("va") < col("vb"))
      .filter(Similarity.cosineR(col("xa"), col("xb"), col("na"), col("nb"))
        >= threshold)
      .select(col("vb").as("drop_id")).distinct()
    assigned.join(dropped, col("vec_id") === col("drop_id"), "left")
      .select(col("vec_id"), col("label"), col("cell"),
        col("drop_id").isNull.as("keep"))
  }

  /** C19: near-dup rate by threshold — pair counts at a ladder of
    * Jaccard thresholds from ONE pass of the verified pair relation
    * (the sensitivity sweep behind "which threshold do we dedup at":
    * rerunning C5 per threshold would re-pay candidate generation per
    * point). Conditional sums off one aggregate, stacked to rows —
    * zero-count thresholds still emitted.
    */
  def docDedupRateByThreshold(t: Tables,
      thresholds: Seq[Double] = Seq(0.2, 0.3, 0.4, 0.5, 0.7, 0.9)): DataFrame = {
    val pairs = docNgramJaccard(t, thresholds.min).select(col("jaccard"))
    val aggs = thresholds.zipWithIndex.map { case (th, i) =>
      sum(when(col("jaccard") >= th, 1L).otherwise(0L)).as(s"n_$i")
    }
    val stackExpr = s"stack(${thresholds.length}, " + thresholds.zipWithIndex.map {
      case (th, i) => s"CAST($th AS DOUBLE), n_$i"
    }.mkString(", ") + ") AS (threshold, n_pairs)"
    pairs.agg(aggs.head, aggs.tail: _*)
      .select(expr(stackExpr))
      .orderBy(col("threshold"))
  }

  /** C21: cross-source exact duplication — content hashes appearing
    * under MORE THAN ONE source (the syndication/mirror detector: an
    * in-source copy is a crawler artifact, a cross-source copy is the
    * same article syndicated — different dedup policy decisions).
    * One content-hash shuffle (C1's key), keep groups spanning ≥2
    * sources; canonical = lowest doc_id.
    */
  def docCrossSourceDup(t: Tables): DataFrame =
    t.documents
      .select(md5(col("text")).as("content_hash"), col("doc_id"), col("source"))
      .groupBy(col("content_hash"))
      .agg(
        count(lit(1)).as("n_copies"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("keep_id"))
      .filter(col("n_sources") >= 2)

  /** D19: cosine-similarity threshold ladder — near-dup pair counts at
    * a radius ladder from ONE pass of C6's verified pair relation
    * (C19's sensitivity sweep on the embedding side: pick the cosine
    * radius before committing a dedup run). Conditional sums off one
    * aggregate, stacked to rows.
    */
  def annThresholdLadder(t: Tables,
      thresholds: Seq[Double] = Seq(0.45, 0.5, 0.6, 0.7, 0.8, 0.9)): DataFrame = {
    val pairs = docEmbedCosineDup(t, thresholds.min).select(col("cos_r"))
    val aggs = thresholds.zipWithIndex.map { case (th, i) =>
      sum(when(col("cos_r") >= th, 1L).otherwise(0L)).as(s"n_$i")
    }
    val stackExpr = s"stack(${thresholds.length}, " + thresholds.zipWithIndex.map {
      case (th, i) => s"CAST($th AS DOUBLE), n_$i"
    }.mkString(", ") + ") AS (threshold, n_pairs)"
    pairs.agg(aggs.head, aggs.tail: _*)
      .select(expr(stackExpr))
      .orderBy(col("threshold"))
  }

  /** C18: cluster-size histogram — the dataset-card duplication-depth
    * view of C7's components ("how many 5-deep near-dup families does
    * this corpus have"): per-cluster sizes (corpus-cardinality keyed
    * aggregate over the C7 verdict) rolled up to (size → #clusters,
    * #docs). Cost is the C7 feeder; both rollups after it are tiny.
    */
  def docClusterStats(t: Tables, threshold: Double = 0.2): DataFrame =
    docDedupClusters(t, threshold)
      .groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))

  /** C22: shingle document-frequency histogram — the df-cap tuning
    * card behind C5b: per log₂ df bucket, how many shingles live
    * there, their posting volume, and the UNCAPPED candidate-pair
    * bound Σ df·(df−1)/2 those shingles would generate — the number
    * that justifies (or re-tunes) dfCap before a 100 TB run, read
    * from the data instead of assumed. Bucketing is integer-exact via
    * binary-representation length (no libm log2 at power-of-two
    * boundaries); one gram-keyed aggregate + a ≤64-key rollup.
    */
  def docShingleDfHist(t: Tables): DataFrame =
    explodeSets(gramSets(t))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .select((length(bin(col("df"))) - 1).cast("long").as("df_bucket"), col("df"))
      .groupBy(col("df_bucket"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(col("df")).as("total_postings"),
        sum(expr("df * (df - 1) div 2")).as("uncapped_pairs"))
      .orderBy(col("df_bucket"))

  /** C21: MEASURED LSH recall — the empirical companion to C20's
    * analytic curve: of the exact near-dup pairs (C5's verified
    * relation), what fraction does the deployed 4×4 banding actually
    * surface as candidates, overall and split by Jaccard band
    * (low/mid/high)? This is the go/no-go eval before trusting C3 on
    * a 100 TB corpus: C20 predicts recall from the pair population,
    * this measures it. One shared gram-set pass feeds both sides; the
    * band-candidate relation left-joins the exact pairs (bounded by
    * pair volume, not corpus²).
    */
  def docLshRecall(t: Tables, threshold: Double = 0.2): DataFrame =
    withShared(gramSets(t), col("doc_id")) { sets =>
      val exact = verifiedJaccard(sets,
        prefixFilterCandidates(explodeSets(sets), threshold), threshold)
      val bands = minhashSigCols(explodeSets(sets)).select(col("doc_id"),
        expr("""stack(4,
          0, concat_ws(',', m0, m1, m2, m3),
          1, concat_ws(',', m4, m5, m6, m7),
          2, concat_ws(',', m8, m9, m10, m11),
          3, concat_ws(',', m12, m13, m14, m15)) AS (band, band_val)"""))
      val b2 = bands.select(col("doc_id").as("db"),
        col("band").as("band2"), col("band_val").as("band_val2"))
      val cands = bands.join(b2,
          col("band") === col("band2") && col("band_val") === col("band_val2") &&
            col("doc_id") < col("db"))
        .select(col("doc_id").as("ca"), col("db").as("cb")).distinct()
      val jband = when(col("jaccard") < 0.4, "low")
        .when(col("jaccard") < 0.7, "mid").otherwise("high")
      exact
        .join(cands, col("doc_a") === col("ca") && col("doc_b") === col("cb"), "left")
        .select(jband.as("j_band"), col("ca").isNotNull.cast("long").as("found"))
        .groupBy(col("j_band"))
        .agg(count(lit(1)).as("n_exact"), sum(col("found")).as("n_found"))
        .withColumn("recall_r",
          r6(col("n_found").cast("double") / col("n_exact").cast("double")))
        .orderBy(col("j_band"))
    }

  /** C20: LSH band-plan tuning curve — expected candidate recall of
    * every (bands b × rows-per-band r, b·r = 16) MinHash banding plan,
    * evaluated against the corpus's OWN verified near-dup pairs:
    * recall(pair) = 1 − (1 − j^r)^b at the pair's exact Jaccard j.
    * This is the dataset-card that picks C3's banding before a 100 TB
    * dedup run — measured on the actual duplicate population rather
    * than an assumed similarity mix. Cost = the df-capped C5b feeder +
    * a ×5 narrow explode of the pair relation; every power is an
    * explicit squaring chain (deterministic double ops, identical
    * association on both engines — `pow()` is libm-dependent and is
    * not used).
    *
    * Feeder choice (the r8 verdict's one weak item): the curve rides
    * `docNgramJaccardCapped` — the DEPLOY candidate path — not the
    * uncapped all-pairs join. The recall integrand only needs the
    * verified-pair Jaccard distribution, and the cap's only recall
    * loss is pairs sharing EXCLUSIVELY above-cap (template) shingles —
    * exactly the population a banding plan is not tuned for. Measured
    * r8: the uncapped feeder scaled super-linearly (exponent 1.716 at
    * sf1, 107 s — the tuning card costing more than the dedup run it
    * plans); the capped feeder restores the C5b exponent (~0.7).
    */
  def docLshTuning(t: Tables, threshold: Double = 0.2,
      dfCap: Int = 100): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def powi(c: Column, n: Int): Column =
      if (n == 1) c else { val h = powi(c, n / 2); h * h }
    val configs = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
    val pCols = configs.map { case (b, r) =>
      struct(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
        (lit(1.0) - powi(lit(1.0) - powi(col("jaccard"), r), b)).as("p"))
    }
    docNgramJaccardCapped(t, threshold, dfCap)
      .select(explode(array(pCols: _*)).as("cfg"))
      .select(col("cfg.bands").as("bands"),
        col("cfg.rows_per_band").as("rows_per_band"), col("cfg.p").as("p"))
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("n_pairs"),
        r6(sum(col("p").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)).cast("double")).as("avg_recall_r"))
      .orderBy(col("bands"))
  }

  /** C30: dedup-decision AGREEMENT card — the shingle pipeline's
    * verified-Jaccard verdict (C3, the decision a production run acts
    * on) graded against C29's character-level edit similarity as
    * ground truth, over the SAME candidate universe: one confusion
    * row with precision/recall/F1. The "is word-shingle Jaccard the
    * right adjudicator for THIS corpus" read — high fn means the
    * banding threshold keeps template copies the byte level would
    * merge; high fp means shingle overlap is over-merging distinct
    * texts. (Banding's own recall blind spot is measured separately
    * by C21; this card is conditional on candidates by design.)
    *
    * Scale shape: both feeders are the banding-bounded candidate
    * relation; the grade is ONE doc-pair join + a 4-counter aggregate.
    */
  def docDedupAgreement(t: Tables, simThr: Double = 0.8,
      jaccThr: Double = 0.2): DataFrame = {
    val truth = docEditDistance(t)
      .select(col("doc_a"), col("doc_b"), (col("sim_r") >= simThr).cast("int").as("y"))
    val pred = docMinhashLshPairs(t, jaccThr)
      .select(col("doc_a").as("pa"), col("doc_b").as("pb"))
    def cnt(p: Int, y: Int): Column =
      sum(when(col("p") === p && col("y") === y, 1L).otherwise(0L))
    def ratio(num: Column, den: Column): Column =
      when(den > 0L, r6(num.cast("double") / den.cast("double")))
    truth
      .join(pred, col("doc_a") === col("pa") && col("doc_b") === col("pb"), "left")
      .select(col("y"), col("pa").isNotNull.cast("int").as("p"))
      .agg(count(lit(1)).as("n_candidates"),
        cnt(1, 1).as("tp"), cnt(1, 0).as("fp"), cnt(0, 1).as("fn"), cnt(0, 0).as("tn"))
      .select(col("n_candidates"), col("tp"), col("fp"), col("fn"), col("tn"),
        ratio(col("tp"), col("tp") + col("fp")).as("precision_r"),
        ratio(col("tp"), col("tp") + col("fn")).as("recall_r"),
        ratio(lit(2L) * col("tp"),
          lit(2L) * col("tp") + col("fp") + col("fn")).as("f1_r"))
  }

  /** C29: EXACT edit distance over the band-candidate pairs — the
    * character-level verify the shingle family can't give: Jaccard on
    * word shingles is blind to in-word edits and reorder direction,
    * Levenshtein prices every insert/delete/substitute (the dedup
    * adjudicator for near-identical boilerplate: sim ≈ 1 with small
    * dist = template copies; the normalized similarity is
    * 1 − dist/max(len)). Native `levenshtein` on BOTH engines — the
    * same DP definition, so parity is structural (integers + one r6'd
    * division).
    *
    * Scale shape: the O(len²)-per-pair DP runs ONLY on C3's verified
    * band candidates (banding bounds the pair count — never all
    * pairs), and the tiny distinct pair relation broadcasts into the
    * two text lookups; at 100 TB the candidate relation is the same
    * one the dedup run already materialized.
    */
  def docEditDistance(t: Tables): DataFrame = {
    val sets = sharedSets(t)
    val bands = minhashSigCols(explodeSets(sets)).select(col("doc_id"),
      expr("""stack(4,
        0, concat_ws(',', m0, m1, m2, m3),
        1, concat_ws(',', m4, m5, m6, m7),
        2, concat_ws(',', m8, m9, m10, m11),
        3, concat_ws(',', m12, m13, m14, m15)) AS (band, band_val)"""))
    val b2 = bands.select(col("doc_id").as("db"),
      col("band").as("band2"), col("band_val").as("band_val2"))
    val cands = bands.join(b2,
        col("band") === col("band2") && col("band_val") === col("band_val2") &&
          col("doc_id") < col("db"))
      .select(col("doc_id").as("da"), col("db")).distinct()
    val docs = t.documents.select(col("doc_id"), col("text"))
    docs
      .join(broadcast(cands), col("doc_id") === col("da"))
      .select(col("da"), col("db"), col("text").as("text_a"))
      .join(docs, col("doc_id") === col("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        length(col("text_a")).cast("long").as("len_a"),
        length(col("text")).cast("long").as("len_b"),
        levenshtein(col("text_a"), col("text")).cast("long").as("edit_dist"))
      .withColumn("sim_r", r6(lit(1.0) -
        col("edit_dist").cast("double") /
          greatest(col("len_a"), col("len_b")).cast("double")))
  }

  /** C31: snapshot CHURN card — crawl-to-crawl content drift per
    * source: distinct content hashes present only in snapshot A
    * (removed), only in B (added), and in both, with the churn
    * fractions an ingestion pipeline alerts on (a source whose
    * added_frac jumps re-crawled or rotated templates; one whose
    * removed_frac jumps is losing coverage — both change what C8's
    * incremental dedup and E52's funnel will see). Snapshots stand in
    * as the doc_id-parity split (the D40 epoch convention; production
    * keys on crawl id).
    *
    * Scale shape: ONE (source, hash)-keyed aggregate with conditional
    * presence maxima (map-side combined — the hash set never ships
    * per-row), then a #sources rollup; exact integer counts, two r6'd
    * divisions, each null-guarded against an empty snapshot (a source
    * whose docs are all one parity would otherwise divide by zero —
    * ANSI Spark throws, DuckDB yields inf; NULL on both engines is
    * the agreed degenerate value, same convention as
    * [[docDedupAgreement]]).
    */
  def docSnapshotChurn(t: Tables): DataFrame = {
    val per = t.documents
      .select(col("source"), md5(col("text")).as("h"),
        (col("doc_id") % 2).as("ep"))
      .groupBy(col("source"), col("h"))
      .agg(max(when(col("ep") === 0, 1L).otherwise(0L)).as("a"),
        max(when(col("ep") === 1, 1L).otherwise(0L)).as("b"))
    per.groupBy(col("source")).agg(
        sum(col("a")).as("n_a"), sum(col("b")).as("n_b"),
        sum(col("a") * col("b")).as("n_common"))
      .select(col("source"), col("n_a"), col("n_b"), col("n_common"),
        when(col("n_b") > 0,
          r6((col("n_b") - col("n_common")).cast("double") /
            col("n_b").cast("double"))).as("added_frac_r"),
        when(col("n_a") > 0,
          r6((col("n_a") - col("n_common")).cast("double") /
            col("n_a").cast("double"))).as("removed_frac_r"))
  }

  /** C35: LSH BAND PLANNER — the design card that picks C3's (bands,
    * rows-per-band) before any corpus run: for every divisor split of
    * the 16-hash signature, (a) the ANALYTIC S-curve masses at the
    * target threshold — false-positive mass Σ_{s<t} p(s)Δ and
    * false-negative mass Σ_{s≥t} (1−p(s))Δ with p(s) = 1−(1−s^r)^b
    * over a fixed midpoint grid (powers UNROLLED as left-associated
    * multiplications so both engines fold identical IEEE ops — no
    * libm pow dependence) — and (b) the MEASURED candidate volume on
    * the corpus: Σ over band buckets of C(count, 2), the verification
    * bill the plan would actually generate. C20 tunes the threshold
    * given a banding; this picks the banding given a threshold.
    *
    * Scale shape: the analytic half never touches data (a 20-row
    * literal grid per plan); the measured half is one stack + one
    * (band, bucket) count per plan over the per-doc signature
    * relation — the C24 bucket-stats shuffle class, never a pair
    * join.
    */
  def docLshBandPlanner(t: Tables, threshold: Double = 0.2): DataFrame = {
    val spark = t.spark
    val plans = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
    // midpoint grid, exact decimal strings so both engines parse the
    // identical double literal
    val grid = (0 until 20).map(i => BigDecimal(25 + 50 * i, 3))
    val gridLit = typedLit(grid.map(_.toDouble))
    def unrollPow(base: Column, n: Int): Column =
      (2 to n).foldLeft(base)((a, _) => a * base)
    val analytic = plans.map { case (b, r) =>
      val s = col("s")
      val p = lit(1.0) - unrollPow(lit(1.0) - unrollPow(s, r), b)
      spark.range(1).select(explode(gridLit).as("s"))
        .select(r6(p).as("p_r"), s)
        .agg(
          r6(sum(when(col("s") < threshold, col("p_r")).otherwise(lit(0.0))
            .cast(DecimalType(18, 6))).cast("double") * lit(0.05)).as("fp_mass_r"),
          r6(sum(when(col("s") >= threshold, lit(1.0) - col("p_r")).otherwise(lit(0.0))
            .cast(DecimalType(18, 6))).cast("double") * lit(0.05)).as("fn_mass_r"))
        .select(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
          col("fp_mass_r"), col("fn_mass_r"))
    }.reduce(_ unionByName _)
    val sig = minhashSigCols(grams(t))
    val measured = plans.map { case (b, r) =>
      val stackArgs = (0 until b).map { j =>
        val cols = (j * r until (j + 1) * r).map(i => s"m$i").mkString(", ")
        s"$j, concat_ws(',', $cols)"
      }.mkString(", ")
      sig.select(expr(s"stack($b, $stackArgs) AS (band, band_val)"))
        .groupBy(col("band"), col("band_val")).agg(count(lit(1)).as("cnt"))
        .agg(coalesce(sum(col("cnt") * (col("cnt") - 1L)), lit(0L)).as("twice"))
        .select(lit(b.toLong).as("bands"),
          expr("twice DIV 2").as("cand_pairs"))
    }.reduce(_ unionByName _)
    analytic.join(measured, "bands")
      .select(col("bands"), col("rows_per_band"), col("fp_mass_r"),
        col("fn_mass_r"), col("cand_pairs"))
  }

  /** C33: LEAKAGE-SAFE train/valid/test split — the split key is the
    * near-dup CLUSTER id (C7), not the doc id, so two near-duplicate
    * documents can NEVER land in different splits (the eval-set
    * contamination mode a doc-keyed split has whenever duplicates are
    * KEPT rather than removed — e.g. dedup-exempt corpora, or
    * intentional upsampling). Same md5 permille lattice as E21, keyed
    * on `cluster`; singleton docs key on themselves (cluster =
    * doc_id), so the non-duplicated corpus splits exactly like E21
    * would with the same seed.
    *
    * Scale shape: C7's checkpointed CC (near-dup pairs only) + one
    * narrow hash projection — the split adds NO shuffle beyond the
    * cluster build.
    */
  def docSplitLeakageSafe(t: Tables, trainPermille: Int = 990,
      validPermille: Int = 5, threshold: Double = 0.2,
      seed: String = "split"): DataFrame =
    splitFromClusters(docDedupClusters(t, threshold),
      trainPermille, validPermille, seed)

  /** The C33 cluster-keyed split projection over a prebuilt (doc_id,
    * cluster) relation — shared with C34's audit so the audit builds
    * the pair relation ONCE (it used to run the whole C5 feeder twice:
    * once for its cross-count pairs, once inside docDedupClusters).
    */
  private def splitFromClusters(clusters: DataFrame, trainPermille: Int,
      validPermille: Int, seed: String): DataFrame = {
    val mille = pmod(md5_60(
      concat(lit(seed), lit(":"), col("cluster").cast("string"))), lit(1000L))
    clusters
      .select(col("doc_id"), col("cluster"))
      .withColumn("split",
        when(mille < trainPermille, lit("train"))
          .when(mille < trainPermille + validPermille, lit("valid"))
          .otherwise(lit("test")))
  }

  /** C34: the leakage AUDIT that justifies C33 — for each split
    * method (doc-keyed E21 vs cluster-keyed C33), the number of
    * near-dup pairs whose endpoints land in DIFFERENT splits.
    * Cluster-keyed is zero BY CONSTRUCTION (both endpoints share a
    * cluster ⇒ share a split — the spec states it as a theorem);
    * doc-keyed leaks ~(1 − Σ share²) of pairs in expectation. One
    * tiny pair relation joined twice against two hash projections —
    * no corpus-scale work beyond the C5 pair build.
    */
  def docSplitLeakageAudit(t: Tables, trainPermille: Int = 990,
      validPermille: Int = 5, threshold: Double = 0.2,
      seed: String = "split"): DataFrame = {
    // ONE C5 pair build serves both the cross-count relation and the
    // cluster-keyed split (clusterPairs is told not to release the
    // shared checkpoint — the cross-count joins execute after it
    // returns; the ≤pairs-row blocks are reclaimed on GC as usual)
    val pairs = docNgramJaccard(t, threshold).select(col("doc_a"), col("doc_b"))
    val clusters = clusterPairs(pairs, t.documents.select(col("doc_id")),
      maxIter = DefaultCcMaxIter, opName = "doc_split_leakage_audit",
      releaseEdges = false)
    def crossCount(splits: DataFrame, method: String) = pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)).as("n_cross_split"))
      .select(lit(method).as("method"), col("n_pairs"), col("n_cross_split"))
    val naive = t.documents.select(col("doc_id"),
      graft.operators.TextOps.splitColumn(trainPermille, validPermille, seed).as("split"))
    val safe = splitFromClusters(clusters, trainPermille, validPermille, seed)
      .select(col("doc_id"), col("split"))
    crossCount(naive, "doc_keyed")
      .unionByName(crossCount(safe, "cluster_keyed"))
  }
}
