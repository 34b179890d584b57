package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Hashing._
import graft.sources.Tables

/** Text analysis (SURVEY §2.E) over `documents` — language-ID, quality
  * scoring, token counting, fingerprinting. All single-pass narrow
  * transforms (no shuffle except final aggregates), pure built-ins.
  */
object TextOps {

  /** Marker stopwords per language for the n-gram/stopword langid
    * heuristic (tiebreak order = declaration order).
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "les", "et", "est", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Cast to long: DuckDB len() yields BIGINT. */
  private def markerCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, x => x.isin(words.map(_.asInstanceOf[Any]): _*))).cast("long")

  /** Adds the E1 language-ID columns (per-language marker counts +
    * `pred_lang`) to any relation with a `text` column. Additive and
    * stateless, so it composes in both the batch operators and the
    * streaming curation pipeline (DocStreamJob).
    */
  private[graft] def withLangid(df: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val withCounts = LangMarkers.foldLeft(df.withColumn("toks", toks)) {
      case (d, (l, ws)) => d.withColumn(s"${l}_n", markerCount(col("toks"), ws))
    }.drop("toks")
    val best = LangMarkers.map { case (l, _) => col(s"${l}_n") }.reduce((a, b) => greatest(a, b))
    // foldRight: earlier languages win ties (first WHEN in the chain)
    val pred = LangMarkers.foldRight(lit("und")) { case ((l, _), acc) =>
      when(col(s"${l}_n") === best && best > 0, lit(l)).otherwise(acc)
    }
    withCounts.withColumn("pred_lang", pred)
  }

  /** E1: language ID — count marker-stopword hits per language, argmax
    * with deterministic tiebreak (declaration order).
    */
  def textLangid(t: Tables): DataFrame =
    withLangid(t.documents.select(col("doc_id"), col("lang"), col("text")))
      .withColumn("is_match", (col("pred_lang") === col("lang")).cast("int"))
      .select(col("doc_id"), col("lang"),
        col("en_n"), col("de_n"), col("es_n"), col("fr_n"), col("zh_n"),
        col("pred_lang"), col("is_match"))

  /** Adds the E2 quality columns (counts, ratios, `quality_score`) to
    * any relation with a `text` column — the batch/streaming-shared
    * core of textQuality.
    */
  private[graft] def withQuality(df: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    df.withColumn("toks", toks)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("stop_n", markerCount(col("toks"), LangMarkers.flatMap(_._2)).cast("long"))
      .withColumn("alpha_n", (length(col("text")) -
        length(regexp_replace(col("text"), "[a-z]", ""))).cast("long"))
      .withColumn("stop_ratio", r6(col("stop_n") / col("n_tokens")))
      .withColumn("alpha_ratio", r6(col("alpha_n") / col("n_chars")))
      .withColumn("quality_score",
        r6(least(lit(1.0), col("n_tokens") / lit(100.0)) *
          (lit(0.5) + lit(0.25) * col("stop_ratio") + lit(0.25) * col("alpha_ratio"))))
      .drop("toks")
  }

  /** E2: quality scoring — length/stopword/char-class ratios combined
    * into a bounded score. Ratios are int/int divisions (portable
    * doubles); score rounded to 6dp.
    */
  def textQuality(t: Tables): DataFrame =
    withQuality(t.documents.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("n_chars"), col("n_tokens"), col("stop_n"),
        col("alpha_n"), col("stop_ratio"), col("alpha_ratio"), col("quality_score"))

  /** E3: token counting — whitespace tokens, BPE-ish regex tokens
    * (letter runs / digits / other non-space), and a chars/4 estimator.
    */
  def textTokencount(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"), col("text"))
      .withColumn("ws_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("re_tokens",
        size(regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]|[^a-z0-9 ]"), lit(0))).cast("long"))
      .withColumn("est_bpe", ceil(length(col("text")) / lit(4.0)).cast("long"))
      .select(col("doc_id"), col("ws_tokens"), col("re_tokens"), col("est_bpe"))

  /** E4: document fingerprinting — min 60-bit hash over word 5-gram
    * windows (winnowing-lite); identical fingerprints cluster near-dup
    * docs. Cluster sizes via a second tiny aggregation.
    */
  /** E5: normalized-text exact dedup — lowercase, strip non-alnum,
    * collapse whitespace, then hash ("fuzzy-exact": catches trivially
    * reformatted copies that byte-level dedup misses).
    */
  def textNormalizeDedup(t: Tables): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    t.documents
      .select(md5(norm).as("norm_hash"), col("doc_id"))
      .groupBy(col("norm_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** E6: quality filtering — the keep/drop decision a training
    * pipeline applies from the E2 scores (kept set + reason flags).
    */
  def docQualityFilter(t: Tables, minScore: Double = 0.5): DataFrame =
    textQuality(t)
      .select(col("doc_id"), col("quality_score"),
        (col("n_tokens") >= 20).cast("int").as("len_ok"),
        (col("stop_ratio") > 0.0).cast("int").as("stop_ok"))
      .filter(col("quality_score") >= minScore)

  /** E7: deterministic stratified sampling — per-language keep rates
    * (downsample the dominant language, keep the rest), decided by a
    * content-hash bucket so the sample is stable across runs/cluster
    * sizes (unlike rand()-based sampleBy).
    */
  def docStratifiedSample(t: Tables): DataFrame = {
    val rates: Map[String, Int] = Map("en" -> 30).withDefaultValue(80) // % kept
    val bucket = md5_60(col("text")) % 100
    val rate = LangMarkers.map(_._1).foldLeft(lit(rates.default(""))) {
      case (acc, l) => when(col("lang") === l, lit(rates(l))).otherwise(acc)
    }
    t.documents
      .select(col("doc_id"), col("lang"), bucket.as("bucket"))
      .filter(col("bucket") < rate)
      .select(col("doc_id"), col("lang"), col("bucket"))
  }

  /** E8: vocabulary builder — global token frequencies + ranks (the
    * seed vocabulary a tokenizer trainer starts from). Explode →
    * map-side partial counts → one shuffle on the token.
    *
    * The global rank is two-phase, never a single-partition window
    * over the token relation (10⁸+ tokens at a 100 TB corpus):
    *  1. range-repartition counts on (n desc, token) + sort within
    *     partitions; the local rank is the in-partition record number
    *     (monotonically_increasing_id's documented low 33 bits), a
    *     narrow projection — no second shuffle;
    *  2. per-partition row counts (≤ one row per partition) get a
    *     running-sum offset; global rank = offset + local rank via a
    *     broadcast join back.
    * The only single-partition pass is the offset cumsum over ≤
    * numShufflePartitions rows. Both branches reuse the same range
    * exchange (identical subplans → ReusedExchange), so partition ids
    * and local ranks are consistent by construction.
    */
  def textVocab(t: Tables): DataFrame = {
    val counts = t.documents
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
    val parted = counts
      .repartitionByRange(col("n").desc, col("token").asc)
      .sortWithinPartitions(col("n").desc, col("token").asc)
      .select(col("token"), col("n"), spark_partition_id().as("pid"),
        (monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)) + 1L).as("lrn"))
    val wOff = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parted.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .select(col("pid"), col("off"))
    parted.join(broadcast(offsets), "pid")
      .select(col("token"), col("n"), (col("off") + col("lrn")).as("rank"))
      .orderBy(col("rank"))
  }

  /** E9: document chunking — fixed-size character windows with overlap
    * (the sequence-window prep before tokenization). Pure integer
    * arithmetic + substr so chunk boundaries are engine-identical;
    * narrow explode, no shuffle.
    */
  def docChunk(t: Tables, size: Int = 200, stride: Int = 180): DataFrame = {
    val len = length(col("text"))
    val n = when(len <= size, lit(1))
      .otherwise(floor((len - size + (stride - 1)) / lit(stride)).cast("int") + 1)
    t.documents
      .select(col("doc_id"), col("text"), n.as("n_chunks"))
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        length(substr(col("text"), col("chunk_idx") * stride + 1, lit(size)))
          .cast("long").as("chunk_len"))
  }

  /** Two-phase per-source running sum of `n_tokens` ordered by
    * `orderCols` within `source` — the scale-safe replacement for
    * `Window.partitionBy(source)`, whose parallelism is bounded by
    * source cardinality (a pretraining mixture has tens of domains, so
    * at 100 TB the largest source lands in ONE task's sort). Requires a
    * `grp` column that is a MONOTONE non-decreasing function of the
    * order within every source (all rows of group g precede all rows of
    * group g+1), so per-group sums compose by prefix:
    *  1. local running sums windowed by (source, grp) — the only
    *     full-data shuffle; parallelism = sources × groups, skew
    *     bounded by one group's segment;
    *  2. per-(source, grp) totals = max(local_cum) aggregated ON TOP of
    *     the same window exchange (grouping keys match the hash
    *     partitioning → no extra shuffle; the window exchange dedupes
    *     into a ReusedExchange across the two branches, so the corpus
    *     is scanned and shuffled once);
    *  3. per-source prefix offsets over the tiny (≤ sources × groups
    *     rows) totals relation via a left self-join on (source, g2 <
    *     grp) — deliberately NOT a source-partitioned window, so no
    *     node anywhere in the plan has source-bounded parallelism;
    *  4. offsets broadcast back: cum = offset + local running sum.
    */
  private def groupedRunningSum(base: DataFrame, orderCols: Seq[Column]): DataFrame = {
    val localW = Window.partitionBy(col("source"), col("grp"))
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = base.withColumn("local_cum", sum(col("n_tokens")).over(localW))
    val totals = local.groupBy(col("source"), col("grp"))
      .agg(max(col("local_cum")).as("grp_sum"))
    val offsets = totals.select(col("source"), col("grp"))
      .join(totals.select(col("source").as("s2"), col("grp").as("g2"), col("grp_sum").as("gs2")),
        col("source") === col("s2") && col("g2") < col("grp"), "left")
      .groupBy(col("source"), col("grp"))
      .agg(coalesce(sum(col("gs2")), lit(0L)).as("off"))
    local.join(broadcast(offsets), Seq("source", "grp"))
      .withColumn("cum", col("off") + col("local_cum"))
  }

  /** E10: sequence packing — assign docs to ~fixed-token-budget bins by
    * running token count per source (greedy in doc_id order; the bin a
    * doc *starts* in). The running sum is the two-phase
    * [[groupedRunningSum]] (never a source-partitioned window): the
    * order key is doc_id itself, so the monotone group column is a
    * fixed-width range slice of [min, max] doc_id — the bounds come
    * from a one-column min/max aggregate (a pruned doc_id-only parquet
    * scan) broadcast via crossJoin. floor((id-lo)/width) is monotone in
    * doc_id for any fixed width ≥ 1, so group contiguity holds whatever
    * the id distribution; balance follows id density, and even a
    * degenerate clustering only collapses toward the old per-source
    * bound, never below it.
    */
  def docPack(t: Tables, budget: Int = 512, nGroups: Int = 32): DataFrame = {
    val bounds = t.documents
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val width = greatest(lit(1L), floor((col("hi") - col("lo")) / lit(nGroups)) + 1L)
    val base = t.documents
      .select(col("doc_id"), col("source"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .crossJoin(broadcast(bounds))
      .withColumn("grp", floor((col("doc_id") - col("lo")) / width))
      .drop("lo", "hi")
    groupedRunningSum(base, Seq(col("doc_id")))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / lit(budget)).cast("long").as("bin"))
  }

  /** E11: rolling-hash fingerprint — min Rabin–Karp hash over 16-char
    * windows (native O(n) RollingHashMin expression; the md5-based E4
    * fingerprints word windows, this one character windows).
    */
  def textRollingFingerprint(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"),
        call_function("graft_rolling_min", lower(col("text"))).as("rolling_min"))

  def textFingerprint(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"),
        array_min(call_function("graft_gram5_hashes", col("text"))).as("fingerprint"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("fingerprint"))))
      .select(col("doc_id"), col("fingerprint"), col("cluster_size"))

  /** Word bigrams of lowercased `text` as "a b" strings; empty below
    * 2 tokens. Native WordGrams expression — the composed
    * `transform(sequence…, concat(element_at…))` formulation is its
    * REFERENCE SEMANTICS (equivalence asserted in TextAnalysisSpec)
    * but costs ~2.7 s/query at sf0.1 in interpreted lambda eval.
    */
  private def bigramStrings(text: Column): Column =
    call_function("graft_bigram_strings", text)

  /** Reference formulation for `bigramStrings` (spec surface only). */
  private[graft] def bigramStringsComposed(tk: Column): Column =
    when(size(tk) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(tk) - 2),
        i => concat(element_at(tk, i + 1), lit(" "), element_at(tk, i + 2))))

  /** E12: repetition signals — the Gopher-style repetition filters a
    * training pipeline runs alongside E2's quality score: duplicate
    * token fraction, most-frequent-token fraction, duplicate bigram
    * fraction, and the combined `repetitive` verdict.
    *
    * Scale shape: the array-derived stats (distinct tokens/bigrams)
    * are one narrow pass — no shuffle. The top-token count is the
    * wordcount pattern: explode → (doc_id, token) partial-aggregated
    * map-side, then a per-doc max — both shuffles keyed on doc_id-led
    * keys, so skew is bounded by document length, not corpus size.
    */
  def textRepetition(t: Tables, dupTokMax: Double = 0.3, topTokMax: Double = 0.2,
      dupBigramMax: Double = 0.2): DataFrame = {
    val tk = tokens(col("text"))
    val base = t.documents
      .select(col("doc_id"), tk.as("tk"), bigramStrings(col("text")).as("bg"))
      .select(col("doc_id"), col("tk"),
        size(col("tk")).cast("long").as("n_tokens"),
        size(array_distinct(col("tk"))).cast("long").as("n_distinct_tokens"),
        size(col("bg")).cast("long").as("n_bigrams"),
        // distinct from the array already in hand — a second fused
        // build (graft_bigram_strings_distinct) would re-tokenize and
        // re-concat every gram per row for the same count
        size(array_distinct(col("bg"))).cast("long").as("n_distinct_bigrams"))
    val top = base.select(col("doc_id"), explode(col("tk")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_token_n"))
    base.drop("tk").join(top, "doc_id")
      .withColumn("dup_token_frac",
        r6((col("n_tokens") - col("n_distinct_tokens")) / col("n_tokens")))
      .withColumn("top_token_frac", r6(col("top_token_n") / col("n_tokens")))
      .withColumn("dup_bigram_frac",
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(r6((col("n_bigrams") - col("n_distinct_bigrams")) / col("n_bigrams"))))
      .withColumn("repetitive",
        (col("dup_token_frac") > dupTokMax || col("top_token_frac") > topTokMax ||
          col("dup_bigram_frac") > dupBigramMax).cast("int"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"), col("top_token_n"),
        col("n_bigrams"), col("n_distinct_bigrams"), col("dup_token_frac"),
        col("top_token_frac"), col("dup_bigram_frac"), col("repetitive"))
  }

  /** E13: collocation extraction — corpus-level bigram lift (the
    * log-free PMI ratio p(ab)/(p(a)p(b))), the vocabulary-analysis
    * companion to E8's unigram ranks. Output: top-k bigrams by lift
    * among those seen ≥ minCount times.
    *
    * Scale shape: bigram and unigram counts are wordcount aggregations
    * (map-side combined); the two count joins key on vocabulary terms
    * (bounded by vocab size, not corpus size); the corpus totals ride
    * a broadcast single-row relation; final top-k is sort+limit =
    * TakeOrderedAndProject, never a full sort.
    */
  def textCollocations(t: Tables, minCount: Int = 5, topK: Int = 20): DataFrame = {
    val tk = tokens(col("text"))
    val bgc = t.documents.select(explode(bigramStrings(col("text"))).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c_ab"))
    val uc = t.documents.select(explode(tk).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totals = t.documents
      .select(size(tk).cast("long").as("n"))
      .agg(sum(col("n")).as("n_tok"), sum(greatest(col("n") - 1, lit(0L))).as("n_big"))
    val split2 = split(col("bg"), " ")
    bgc.filter(col("c_ab") >= minCount)
      .select(col("bg"), col("c_ab"),
        element_at(split2, 1).as("w1"), element_at(split2, 2).as("w2"))
      .join(uc.select(col("tok").as("w1"), col("c").as("c_a")), "w1")
      .join(uc.select(col("tok").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        r6((col("c_ab").cast("double") * col("n_tok") * col("n_tok")) /
          (col("n_big").cast("double") * col("c_a") * col("c_b"))).as("lift"))
      .orderBy(col("lift").desc, col("c_ab").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** E16: token-budget domain mixing — training mixtures are defined
    * by TOKEN share per source, not document count (E7 samples by doc
    * rate): each source contributes documents, in deterministic
    * hash-bucket order, until its running token total exceeds the
    * per-source cap. Stable across runs and cluster sizes (the order
    * key is a content-free doc_id hash, not rand()).
    *
    * Scale shape: one narrow pass computes tokens + bucket; the running
    * sum is the two-phase [[groupedRunningSum]] (never a
    * source-partitioned window). The leading order key is already the
    * deterministic hash bucket ∈ [0, 1000), so the monotone group
    * column is free: grp = bucket / 32 slices the bucket range into 32
    * contiguous, hash-balanced segments — no bounds pass needed.
    */
  def docMixBudget(t: Tables, capTokens: Long = 1000): DataFrame = {
    val base = t.documents
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        pmod(md5_60(col("doc_id").cast("string")), lit(1000L)).as("bucket"))
      .withColumn("grp", floor(col("bucket") / lit(32)))
    groupedRunningSum(base, Seq(col("bucket"), col("doc_id")))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("bucket"),
        col("cum").as("cum_tokens"), (col("cum") <= capTokens).cast("int").as("keep"))
  }

  /** Two-phase per-shard position — the scale-safe replacement for
    * `row_number() over (partition by shard)`, whose parallelism is
    * bounded by the shard count (at nShards=16 and 100 TB, one task
    * sorts corpus/16). Same offset pattern as [[textVocab]]:
    *  1. range-repartition on (shard, sort_key, doc_id) + sort within
    *     partitions — ONE corpus-wide exchange whose parallelism is the
    *     shuffle-partition count, not nShards; a shard spans as many
    *     partitions as its volume needs. The local record number is
    *     monotonically_increasing_id's documented low 33 bits.
    *  2. per-(partition, shard) min-record + count (≤ partitions ×
    *     shards rows) → per-shard prefix offsets over pid order (range
    *     partitioning makes pid order = sort order within a shard) —
    *     the only shard-partitioned window runs over this tiny totals
    *     relation, never the corpus;
    *  3. offsets broadcast back: pos = off + (lrn − lo) + 1.
    * Both consumers of the range exchange are identical subplans →
    * ReusedExchange, so pids and local record numbers are consistent.
    * Keeps every input column; appends sort_key, shard, pos.
    */
  private[graft] def withShardPos(docs: DataFrame, nShards: Int,
      seed: String): DataFrame = {
    val parted = docs
      .withColumn("sort_key",
        md5_60(concat(lit(seed), lit(":"), col("doc_id").cast("string"))))
      .withColumn("shard", pmod(col("sort_key"), lit(nShards.toLong)))
      .repartitionByRange(col("shard"), col("sort_key"), col("doc_id"))
      .sortWithinPartitions(col("shard"), col("sort_key"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .withColumn("lrn", monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
    val wOff = Window.partitionBy(col("shard")).orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parted.groupBy(col("pid"), col("shard"))
      .agg(min(col("lrn")).as("lo"), count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
      .select(col("pid"), col("shard"), col("lo"), col("off"))
    parted.join(broadcast(offsets), Seq("pid", "shard"))
      .withColumn("pos", col("off") + col("lrn") - col("lo") + 1L)
      .drop("pid", "lrn")
  }

  /** E17: deterministic shuffle-and-shard — the training-order step a
    * pipeline ends with: every document gets a pseudorandom but
    * SEEDED order key (hash of seed‖doc_id — reproducible across
    * runs and cluster sizes, unlike rand()), a shard from that key,
    * and its position within the shard via the two-phase
    * [[withShardPos]] (never a shard-partitioned corpus window).
    */
  def docShardShuffle(t: Tables, nShards: Int = 16, seed: String = "graft"): DataFrame =
    withShardPos(t.documents.select(col("doc_id")), nShards, seed)
      .select(col("doc_id"), col("sort_key"), col("shard"), col("pos"))

  /** E18: document PII scrubbing — the doc-level counterpart of
    * ev_scrub_props (A23): mask email addresses and digit runs before
    * a corpus leaves the pipeline, with audit counts per document so a
    * compliance sweep can rank what was touched. Pure regexp built-ins
    * (one narrow pass, no shuffle); the patterns are the common
    * RE2/PCRE subset both engines evaluate identically.
    */
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"

  /** Adds E18's scrub columns (text_masked + audit counts) to any
    * relation with a `text` column — shared by the standalone operator
    * and the TrainingDataJob scrub stage. One narrow regexp pass.
    */
  private[graft] def withScrub(df: DataFrame): DataFrame =
    df.withColumn("text_masked",
        regexp_replace(regexp_replace(col("text"), EmailRe, "<email>"), "[0-9]+", "#"))
      .withColumn("n_emails",
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long"))
      .withColumn("n_digit_runs",
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).cast("long"))

  def docScrubPii(t: Tables): DataFrame =
    withScrub(t.documents.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("text_masked"), col("n_emails"), col("n_digit_runs"))

  /** E51: PII incidence card per source — the audit face of E18 (the
    * scrubber masks; this measures): per source, docs, affected-doc
    * counts and total match counts for each PII class, plus the
    * affected share. The per-source read is the policy lever — a
    * source at 40% email incidence gets routed to heavier redaction
    * or dropped, which the corpus-wide number can't tell you. Same
    * regexes as E18 (one narrow pass), one #sources aggregate.
    */
  def docPiiStats(t: Tables): DataFrame =
    withScrub(t.documents.select(col("source"), col("text")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum((col("n_emails") > 0).cast("long")).as("docs_with_email"),
        sum(col("n_emails")).as("total_emails"),
        sum((col("n_digit_runs") > 0).cast("long")).as("docs_with_digits"),
        sum(col("n_digit_runs")).as("total_digit_runs"))
      .select(col("source"), col("n_docs"),
        col("docs_with_email"), col("total_emails"),
        col("docs_with_digits"), col("total_digit_runs"),
        r6(col("docs_with_email").cast("double") / col("n_docs").cast("double"))
          .as("email_share_r"))
      .orderBy(col("source"))

  /** E19: corpus statistics sweep — the per-source profile a mixture
    * designer reads before setting E16's budgets: doc counts, exact
    * token totals, mean and interpolated p50/p90 token lengths, and
    * language spread. One narrow tokenize pass + one aggregation
    * keyed on source (map-side combined; exact percentiles collect
    * per-group values ON THE EXECUTORS — the group count is source
    * cardinality, tiny, and at 100 TB the approx_percentile swap is a
    * one-line knob). avg is spelled exact-integer-sum / count so both
    * engines divide the same two exact numbers.
    */
  def corpusStats(t: Tables): DataFrame =
    t.documents
      .select(col("source"), col("lang"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        r6(sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"),
        r4(expr("percentile(n_tokens, 0.5)")).as("p50_tokens"),
        r4(expr("percentile(n_tokens, 0.9)")).as("p90_tokens"),
        count_distinct(col("lang")).as("n_langs"))
      .orderBy(col("source"))

  /** E50 (support): the MERGEABLE form of E19 — per (source, lang,
    * n_tokens) counts. Two moment relations merge by union +
    * re-aggregation (associative, commutative), which is what makes
    * the corpus card INCREMENTAL at 100 TB: yesterday's moments are a
    * tiny persisted relation, today's batch contributes its own, and
    * the card finalizes from their merge without rescanning the
    * corpus. Percentiles stay EXACT through the merge because the
    * moment key carries the full value histogram (token lengths are
    * bounded-cardinality), not a lossy summary.
    */
  def corpusStatsMoments(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("lang"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"), col("lang"), col("n_tokens"))
      .agg(count(lit(1)).as("cnt"))

  /** E50: finalize E19's card from (merged) moments — identical output
    * to [[corpusStats]], proven by gating `corpus_stats_merged` (a
    * doc_id-split → two moments → union-merge → finalize pipeline)
    * against the SAME oracle SQL as `corpus_stats`. The exact
    * interpolated percentiles are recovered from the value histogram:
    * h = (n−1)p, v_lo/v_hi via cumulative counts, linear
    * interpolation — the same formula `percentile` applies to the raw
    * multiset, computed from counts instead (windows and aggregates
    * ride the #sources × #distinct-lengths histogram, never docs).
    */
  def corpusStatsFromMoments(m: DataFrame): DataFrame = {
    val hist = m.groupBy(col("source"), col("n_tokens"))
      .agg(sum(col("cnt")).as("cnt"))
    val w = Window.partitionBy(col("source")).orderBy(col("n_tokens"))
    val withCum = hist.withColumn("cum", sum(col("cnt")).over(w))
    val tot = hist.groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_docs"),
        sum(col("n_tokens") * col("cnt")).as("total_tokens"))
    val langs = m.select(col("source"), col("lang")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_langs"))
    def pct(p: Double): Column = {
      val h = (col("n_docs") - 1).cast("double") * lit(p)
      val iLo = floor(h)
      val vLo = min(when(col("cum") >= iLo + 1, col("n_tokens")))
      val vHi = coalesce(min(when(col("cum") >= iLo + 2, col("n_tokens"))), vLo)
      r4(vLo.cast("double") + (h - iLo) * (vHi - vLo).cast("double"))
    }
    withCum.join(broadcast(tot), "source")
      .groupBy(col("source"), col("n_docs"), col("total_tokens"))
      .agg(pct(0.5).as("p50_tokens"), pct(0.9).as("p90_tokens"))
      .join(broadcast(langs), "source")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        r6(col("total_tokens").cast("double") / col("n_docs")).as("avg_tokens"),
        col("p50_tokens"), col("p90_tokens"), col("n_langs"))
      .orderBy(col("source"))
  }

  /** E50 as a gated query: split the corpus by doc_id parity, derive
    * each half's moments independently, union-merge, finalize — and
    * pass the UNCHANGED `corpus_stats` oracle. The split-merge-equals-
    * direct law IS the correctness gate.
    */
  def corpusStatsMerged(t: Tables): DataFrame = {
    val docs = t.documents
    val even = corpusStatsMoments(docs.filter(col("doc_id") % 2 === 0))
    val odd = corpusStatsMoments(docs.filter(col("doc_id") % 2 =!= 0))
    corpusStatsFromMoments(even.unionByName(odd))
  }

  /** E25: temperature-scaled mixture weights — the mixture-DESIGN step
    * whose output E16's budget mixing consumes: per-source natural
    * token share, temperature-flattened weight share^τ (τ<1 upsamples
    * rare sources — the multilingual-pretraining standard), the
    * normalized target share, and the boost factor (target/natural —
    * the per-source repeat rate a sampler applies).
    *
    * Scale shape: ONE corpus scan into a #sources-key aggregate;
    * every subsequent step (total, weights, normalizer) runs on that
    * tiny relation, broadcast back. Weight sums go through
    * DECIMAL(18,6) of r6'd terms so normalization is order-independent.
    */
  def docMixWeights(t: Tables, temperature: Double = 0.7): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val s = t.documents
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("toks"))
    val tot = s.agg(sum(col("toks")).cast("double").as("tt"))
    val w = s.crossJoin(broadcast(tot))
      .withColumn("share", col("toks").cast("double") / col("tt"))
      .withColumn("wgt_r", r6(pow(col("share"), lit(temperature))))
    val sw = w.agg(sum(col("wgt_r").cast(DecimalType(18, 6))).cast("double").as("sumw"))
    w.crossJoin(broadcast(sw))
      .select(col("source"), col("toks"),
        r6(col("share")).as("share_r"),
        col("wgt_r"),
        r6(col("wgt_r") / col("sumw")).as("norm_weight_r"),
        r6(col("wgt_r") / col("sumw") / col("share")).as("boost_r"))
  }

  /** E20: deterministic k-per-source sampling — exactly k documents
    * per source (all of them if a source has fewer), chosen by a
    * content-free seeded hash order, so the sample is a hard per-source
    * budget (E7 samples by RATE) and identical across runs and cluster
    * sizes. The shape of every "carve an eval slice per domain" step.
    *
    * Scale shape: two-stage exact top-k (annTopkBruteforce's pattern),
    * never a source-partitioned window over the corpus. Stage 1 keeps
    * the k smallest keys per (source, input-partition) — parallelism =
    * sources × partitions; stage 2 re-ranks only the survivors, a
    * relation bounded by k × partitions × sources rows (its per-source
    * window is over that bounded set, not the corpus). The global
    * top-k per source is exactly contained in the union of the local
    * top-ks, so the two-stage result is exact.
    */
  def docSampleK(t: Tables, k: Int = 25, seed: String = "sample"): DataFrame = {
    val w1 = Window.partitionBy(col("source"), col("pid")).orderBy(col("skey"), col("doc_id"))
    val w2 = Window.partitionBy(col("source")).orderBy(col("skey"), col("doc_id"))
    t.documents
      .select(col("doc_id"), col("source"),
        md5_60(concat(lit(seed), lit(":"), col("doc_id").cast("string"))).as("skey"))
      .withColumn("pid", spark_partition_id())
      .withColumn("rn1", row_number().over(w1))
      .filter(col("rn1") <= k)
      .withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("source"), col("skey"), col("rank"))
  }

  /** E32: QUALITY-WEIGHTED sampling without replacement (Efraimidis–
    * Spirakis A-Res): each doc draws a deterministic hash-uniform
    * u ∈ (0,1) and competes on key = ln(u)/w with w = its E2 quality
    * score — the top-k keys ARE a weighted sample without replacement
    * (P(selection) ∝ w, exactly; Efraimidis & Spirakis, IPL 2006).
    * E7/E20 sample uniformly (by rate / per-source budget); this is
    * the "prefer high-quality docs but keep diversity" draw a curated
    * pretraining mix actually uses. Deterministic: same corpus → same
    * sample, regardless of partitioning or cluster size.
    *
    * Engine parity: u is integer-derived (md5_60 % p + 1)/(p+1), the
    * ln is 6dp-rounded before the division (E23's rounded-ln
    * convention — raw libm ln may differ in the last ulp across
    * engines), and the key is rounded again, so the ranking compares
    * identical doubles on both sides; ties break on doc_id.
    *
    * Scale shape: ONE narrow pass computes (w, key) per doc — the
    * quality columns come from the same withQuality projection E2
    * runs, no join, no shuffle — and the top-k is TakeOrdered
    * (per-partition heap + driver merge of k × partitions rows),
    * never a global sort or window.
    */
  def docSampleWeighted(t: Tables, k: Int = 100): DataFrame =
    withQuality(t.documents.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        greatest(col("quality_score"), lit(0.001)).as("w"))
      .withColumn("lnu_r", r6(log(
        (md5_60(concat(lit("ws:"), col("doc_id").cast("string"))) % lit(999983L) + lit(1L))
          .cast("double") / lit(999984.0))))
      .select(col("doc_id"), col("w"), r6(col("lnu_r") / col("w")).as("key_r"))
      .orderBy(col("key_r").desc, col("doc_id").asc)
      .limit(k)

  /** E21: deterministic train/valid/test split — per-mille hash
    * buckets of the doc_id (seeded, content-free) mapped to the split
    * label; the assignment every training pipeline needs to be STABLE
    * as the corpus grows (a document's split never changes when other
    * documents arrive, unlike rand() or modulo-of-count schemes).
    * One narrow pass, no shuffle.
    */
  /** The E21 split verdict as pure COLUMNS of doc_id — exposed so a
    * composed pipeline (G13) can stamp the split in whatever pass
    * already has the rows instead of paying a separate documents scan
    * + join for a value that is a hash of the key.
    */
  def splitMille(seed: String = "split"): Column =
    pmod(md5_60(concat(lit(seed), lit(":"), col("doc_id").cast("string"))), lit(1000L))

  def splitColumn(trainPermille: Int = 990, validPermille: Int = 5,
      seed: String = "split"): Column = {
    val mille = splitMille(seed)
    when(mille < trainPermille, lit("train"))
      .when(mille < trainPermille + validPermille, lit("valid"))
      .otherwise(lit("test"))
  }

  def docSplit(t: Tables, trainPermille: Int = 990, validPermille: Int = 5,
      seed: String = "split"): DataFrame = {
    t.documents
      .select(col("doc_id"), col("source"), splitMille(seed).as("mille"))
      .withColumn("split",
        when(col("mille") < trainPermille, lit("train"))
          .when(col("mille") < trainPermille + validPermille, lit("valid"))
          .otherwise(lit("test")))
  }

  /** E22: BM25 relevance of every document against a fixed query-term
    * set — the retrieval scorer a corpus-search / hard-negative-mining
    * step runs over training data (Robertson/Sparck Jones BM25 with
    * the standard k1/b parameters).
    *
    * Scale shape: per-term tf is a narrow `filter(tk, = term)` count —
    * query terms are literals, so there is NO token explode and NO
    * token shuffle; the only aggregate is ONE single-row stats relation
    * (N, avgdl, per-term df) cross-broadcast back. The score is a
    * fixed-order sum of per-term contributions spelled identically in
    * the oracle SQL (ln/div/mul on doubles are IEEE-identical in both
    * engines; the sf-pinned corpus makes the r6 compare deterministic).
    */
  def textBm25(t: Tables, terms: Seq[String] = Seq("hash", "join", "vector"),
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (k1p1, oneMinusB) = (k1 + 1, 1 - b)
    val tfCols = terms.map(term =>
      size(filter(col("tk"), x => x === lit(term))).cast("long").as(s"tf_$term"))
    val f = t.documents
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id") +: size(col("tk")).cast("long").as("dl") +: tfCols: _*)
    val stats = f.agg(
      count(lit(1)).cast("double").as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl") +:
        terms.map(term =>
          sum(when(col(s"tf_$term") > 0, 1).otherwise(0)).cast("double").as(s"df_$term")): _*)
    val score = terms.map { term =>
      val tf = col(s"tf_$term")
      val dfi = col(s"df_$term")
      // op-for-op the oracle's: ln(1+(n-df+0.5)/(df+0.5)) * (tf*(k1+1))
      //   / (tf + k1*((1-b) + b*dl/avgdl))
      log(lit(1.0) + (col("n") - dfi + lit(0.5)) / (dfi + lit(0.5))) *
        (tf * lit(k1p1)) /
        (tf + lit(k1) * (lit(oneMinusB) + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    f.crossJoin(broadcast(stats))
      .select(col("doc_id") +: col("dl") +:
        terms.map(term => col(s"tf_$term")) :+ r6(score).as("bm25_r"): _*)
  }

  /** E23: unigram-LM log-probability scoring — the corpus's own
    * unigram distribution scores every document by mean token
    * log-probability (the cheap stand-in for the model-perplexity
    * quality filter: documents of rare/garbage tokens score low,
    * documents of common well-formed text score high).
    *
    * Scale shape: ONE corpus scan. Raw tokens are immediately
    * aggregated to per-(doc, term) counts — the only token-volume
    * shuffle, and map-side combine compresses repeated tokens before
    * the wire. Everything downstream runs on compressed relations:
    * vocab counts and the corpus total both DERIVE from that relation
    * (its exchange is shared by the vocab branch and the score join →
    * ReusedExchange/ReusedQueryStage, PlanSpec-pinned), and the score
    * join matches doc×distinct-term rows, not raw occurrences
    * (Σ_occurrences lp_r ≡ Σ_terms c·lp_r exactly in DECIMAL(18,6)
    * arithmetic, so compression does not change the score).
    */
  def textUnigramLogprob(t: Tables): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dtc = t.documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c_dw"))
    val vc = dtc.groupBy(col("w")).agg(sum(col("c_dw")).as("c"))
    val lp = vc
      .crossJoin(broadcast(vc.agg(sum(col("c")).cast("double").as("tt"))))
      .select(col("w"), r6(log(col("c").cast("double") / col("tt"))).as("lp_r"))
    dtc.join(lp, "w")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c_dw")).as("n_tokens"),
        sum(col("c_dw") * col("lp_r").cast(DecimalType(18, 6))).cast("double").as("sum_lp"))
      .withColumn("mean_lp_r", r6(col("sum_lp") / col("n_tokens")))
  }

  /** E31: bigram-LM log-probability scoring — E23's unigram signal
    * upgraded to conditional probabilities: each bigram scores
    * ln((c(prev,cur)+1) / (c(prev·)+V)) (add-one smoothing over the
    * corpus's own bigram LM), mean-pooled per doc. Catches the
    * "plausible words, implausible order" garbage a unigram LM rates
    * highly — the KenLM-perplexity filter shape with the LM reduced
    * to its first-order term. Docs under 2 tokens have no bigrams and
    * drop out (the caller unions them back as unscoreable if needed).
    *
    * Scale shape: ONE corpus bigram explode combined map-side to
    * per-(doc, bigram) counts before the only bigram-volume shuffle;
    * corpus bigram counts, context counts, and the vocab size all
    * derive from that stage; the score join re-keys on bigram. Same
    * skeleton as E23/E24 (shared-stage reuse), one extra tiny
    * context-count aggregate.
    *
    * Determinism: E23's convention — ln of an exact integer ratio
    * (double-cast before the one division), rounded r6 BEFORE the
    * count-weighted DECIMAL sum; final mean is scalar double math.
    */
  def textBigramLogprob(t: Tables): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val db = t.documents
      .select(col("doc_id"), explode(bigramStrings(col("text"))).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c_db"))
    val bc = db.groupBy(col("bg")).agg(sum(col("c_db")).as("cb"))
    val cu = bc.groupBy(substring_index(col("bg"), " ", 1).as("prev"))
      .agg(sum(col("cb")).as("cu"))
    val vocab = bc.agg(countDistinct(substring_index(col("bg"), " ", -1)).as("v"))
    val lp = bc.withColumn("prev", substring_index(col("bg"), " ", 1))
      .join(cu, "prev")
      .crossJoin(broadcast(vocab))
      .select(col("bg"),
        r6(log((col("cb") + 1).cast("double") / (col("cu") + col("v")).cast("double")))
          .as("lp_r"))
    db.join(lp, "bg")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c_db")).as("n_bigrams"),
        sum(col("c_db") * col("lp_r").cast(DecimalType(18, 6))).cast("double").as("sum_lp"))
      .withColumn("mean_lp_r", r6(col("sum_lp") / col("n_bigrams")))
  }

  /** E29: token-entropy scoring — per-doc Shannon entropy (nats) of
    * the unigram distribution plus type-token ratio: the lexical-
    * diversity quality signals (near-zero entropy ⇒ repetitive
    * boilerplate). Complements E12's exact-repeat fractions with a
    * distribution-level measure that needs NO corpus-wide state —
    * unlike E23 there is no vocabulary relation, so the whole score
    * is doc-local.
    *
    * Determinism: H = ln(n) − (Σ c·ln c)/n; each ln(c) is rounded to
    * 6 places BEFORE the multiply (identical doubles both engines),
    * the count×ln product and its Σ run in DECIMAL (exact,
    * order-free), and the final ln/divide is scalar double math —
    * E23's proven convention.
    *
    * Scale shape: E23's skeleton minus the join — one corpus explode
    * combines to per-(doc, term) counts map-side before the only
    * token-volume shuffle; the entropy rollup re-aggregates on
    * doc_id.
    */
  def textEntropy(t: Tables): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dtc = t.documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    dtc.groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c") * r6(log(col("c").cast("double"))).cast(DecimalType(18, 6)))
          .cast("double").as("s_clnc"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        r6(log(col("n_tokens").cast("double")) -
          col("s_clnc") / col("n_tokens").cast("double")).as("entropy_r"),
        r6(col("n_types").cast("double") / col("n_tokens").cast("double")).as("ttr_r"))
  }

  /** E24: duplicated-span ratio — the substring-level dedup SIGNAL
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", made a per-doc filter column): every 4-token sliding
    * window is hashed (native GramHashes in codegen, whole-text
    * fallback for short docs), a span is "duplicated" when its hash
    * occurs ≥2 times corpus-wide (across OR within documents), and
    * each doc reports its span count, duplicated-span count, and
    * ratio — the "mostly boilerplate" filter signal that catches docs
    * exact- and near-dedup both miss.
    *
    * Scale shape: same skeleton as E23 — explode once, combine to
    * per-(doc, span) counts before the only span-volume shuffle; the
    * corpus-wide span frequencies and the score join both derive from
    * that shared stage (ReusedExchange, PlanSpec-pinned); all math is
    * integer until the final ratio.
    */
  def docSpanDedup(t: Tables): DataFrame = {
    val c = t.documents
      .select(col("doc_id"),
        explode(call_function("graft_gram4_hashes", col("text"))).as("h"))
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c_sp"))
    val dfh = c.groupBy(col("h")).agg(sum(col("c_sp")).as("df"))
    c.join(dfh, "h")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c_sp")).as("n_spans"),
        sum(when(col("df") >= 2, col("c_sp")).otherwise(lit(0L))).as("n_dup_spans"))
      .withColumn("dup_ratio_r",
        r6(col("n_dup_spans").cast("double") / col("n_spans")))
  }

  /** E24b: duplicated-span REMOVAL — E24 scores the signal; this op
    * applies it the way Lee et al.'s ExactSubstr pipeline does: every
    * token covered by any corpus-wide ≥2-frequency 4-token span is
    * excised, and the kept tokens are rejoined (plus per-doc audit
    * counts — removal without an audit trail is how a pipeline
    * silently eats its corpus). Strictly span-level: docs under 4
    * tokens have no spans and pass through verbatim (no E24-style
    * whole-text fallback — exact-doc dedup is C1's job).
    *
    * Guarantee (spec-pinned): no kept token was covered by a
    * duplicated span, so every surviving window of ORIGINALLY
    * contiguous tokens is corpus-unique. The stronger "the rewritten
    * corpus has zero ≥2-frequency spans" is NOT attainable in one
    * pass — excising a region makes its neighbors adjacent, and those
    * junction windows can collide (measured: 33 junction-created
    * duplicate spans on the sf0.01 corpus). That is the published
    * single-pass behavior; iterating to a fixpoint is a policy call
    * layered on top, not a different operator.
    *
    * Scale shape: span hashing is the E24 narrow GramHashes pass with
    * positions; dup positions come from the df≥2 join; coverage
    * explodes to at most 4 rows per dup span, distinct-ed on
    * (doc, token index); the rewrite is a left-anti join of the token
    * relation against that coverage set plus one per-doc sorted
    * reassembly — every join is an equi-join on (doc_id, j) or h,
    * nothing all-pairs, no low-cardinality window anywhere.
    */
  def docSpanRemoval(t: Tables): DataFrame = {
    val spans = t.documents
      .filter(size(split(col("text"), " ")) >= 4)
      .select(col("doc_id"),
        posexplode(call_function("graft_gram4_hashes", col("text"))).as(Seq("pos", "h")))
    val dfh = spans.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val removed = spans.join(dfh.filter(col("df") >= 2), "h")
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + 3)).as("j"))
      .distinct()
    val tok = t.documents
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("j", "tok")))
    val rw = tok.join(removed, Seq("doc_id", "j"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        expr("array_join(transform(array_sort(collect_list(struct(j, tok))), x -> x.tok), ' ')")
          .as("text_clean"),
        count(lit(1)).as("n_kept"))
    t.documents
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(rw, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** E27: per-doc top-k TF-IDF keywords — the keyword-extraction /
    * topic-tagging step (metadata enrichment before indexing or
    * cluster labeling): tf from the shared (doc, term) count stage,
    * idf = ln(N/df) from the document-frequency relation derived off
    * the SAME stage, top-k per doc by rounded score.
    *
    * Scale shape: E23's skeleton — one corpus explode combined to
    * (doc, term) counts; df derives from that stage; the ranking
    * window partitions by doc_id (corpus-cardinality key, per-group
    * rows bounded by a doc's distinct terms — never a low-cardinality
    * window).
    */
  def textKeywords(t: Tables, k: Int = 3): DataFrame = {
    val dtc = t.documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c_dw"))
    val dfr = dtc.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val nd = t.documents.agg(count(lit(1)).cast("double").as("nd"))
    val rankW = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf_r").desc, col("term").asc)
    dtc.join(dfr, "w").crossJoin(broadcast(nd))
      .select(col("doc_id"), col("w").as("term"),
        r6(col("c_dw") * log(col("nd") / col("df"))).as("tfidf_r"))
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tfidf_r"))
  }

  /** E28: winnowing fingerprints (Schleimer et al., the MOSS
    * algorithm): the minimum gram hash of every w-wide window of
    * consecutive 4-gram hashes, deduplicated per doc — the selection
    * with the guarantee E4's single global min lacks: any shared
    * substring of ≥ w+3 tokens between two documents shares at least
    * one winnowed fingerprint, while only ~2/(w+1) of grams are kept.
    *
    * Scale shape: fingerprint selection is ONE narrow codegen'd pass —
    * native gram hashes into the native WinnowMins monotonic-deque
    * expression (O(n), distinct minima; the composed transform/slice/
    * array_min form is its reference semantics, GramFusionSpec, and
    * measured 9.3 s vs sub-second at sf0.1 in interpreted eval); only
    * the selected ~2/(w+1) fraction explodes into the output relation.
    */
  def textWinnow(t: Tables, w: Int = 8): DataFrame = {
    val gh = call_function("graft_gram4_hashes", col("text"))
    val wins =
      if (w == 8) call_function("graft_winnow8_mins", gh)
      else array_distinct(
        when(size(gh) >= w,
          transform(sequence(lit(0), size(gh) - w),
            i => array_min(slice(gh, i + lit(1), lit(w)))))
          .otherwise(array(array_min(gh))))
    t.documents
      .select(col("doc_id"), explode(wins).as("fingerprint"))
  }

  /** E26: CCNet-style quality bucketing — head/middle/tail thirds by
    * unigram-LM mean log-prob (E23), the corpus-relative grading CCNet
    * uses to keep "head" web text: thresholds are the p33/p67 of the
    * score distribution, so the buckets adapt to the corpus rather
    * than to a hand-tuned constant.
    *
    * Scale shape: exact interpolated percentiles buffer every value of
    * the group, which cannot run over an unbounded corpus — so the
    * thresholds come from a DETERMINISTIC hash-bounded sample
    * (TakeOrdered smallest `sampleK` seeded doc hashes: bounded memory,
    * reproducible, oracle-checkable — the same trick as E20's budget
    * sampling), then broadcast back over the full per-doc score
    * relation. The E23 stages feeding both branches dedupe via
    * exchange reuse.
    */
  def docQualityBucket(t: Tables, sampleK: Int = 10000): DataFrame = {
    val lpq = textUnigramLogprob(t).select(col("doc_id"), col("mean_lp_r"))
    val th = lpq
      .withColumn("qk", md5_60(concat(lit("qb:"), col("doc_id").cast("string"))))
      .orderBy(col("qk"), col("doc_id")).limit(sampleK)
      .agg(
        r4(expr("percentile(mean_lp_r, 0.333333)")).as("p33"),
        r4(expr("percentile(mean_lp_r, 0.666667)")).as("p67"))
    lpq.crossJoin(broadcast(th))
      .select(col("doc_id"), col("mean_lp_r"),
        when(col("mean_lp_r") >= col("p67"), "head")
          .when(col("mean_lp_r") >= col("p33"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** E14: the composed curation pipeline — quality score (E2), langid
    * agreement (E1), and exact-dedup canonical selection (C1) joined
    * into one keep/drop verdict with per-reason flags. The "a user
    * could run their whole pipeline" query: each stage is the
    * first-class operator, composed as DataFrames, so Catalyst plans
    * the whole thing as one job.
    *
    * Scale shape: quality and langid are ADDITIVE stateless column
    * transforms (withQuality/withLangid), so the whole pipeline is ONE
    * scan of the corpus and ONE shuffle (the canonical-selection
    * window on content_hash) — no joins, no second scan.
    */
  def docCurate(t: Tables, minScore: Double = 0.5): DataFrame = {
    withLangid(withQuality(t.documents.select(col("doc_id"), col("lang"), col("text"))))
      .withColumn("content_hash", md5(col("text")))
      .withColumn("keep_id",
        min(col("doc_id")).over(Window.partitionBy(col("content_hash"))))
      .withColumn("low_quality", (col("quality_score") < minScore).cast("int"))
      .withColumn("lang_mismatch", (col("pred_lang") =!= col("lang")).cast("int"))
      .withColumn("duplicate", (col("doc_id") =!= col("keep_id")).cast("int"))
      .withColumn("keep",
        (col("low_quality") === 0 && col("lang_mismatch") === 0 &&
          col("duplicate") === 0).cast("int"))
      .select(col("doc_id"), col("lang"), col("pred_lang"), col("n_tokens"),
        col("quality_score"), col("low_quality"), col("lang_mismatch"),
        col("duplicate"), col("keep"))
  }

  /** E52: curation FUNNEL — the G13 pipeline's drop accounting as one
    * card: every document attributed to exactly ONE stage in the
    * order the pipeline applies them (low quality → language
    * mismatch → exact duplicate → near-duplicate non-keeper → kept),
    * with counts and corpus shares. E43 shows the reason-combination
    * matrix; this is the ordered funnel a pipeline report actually
    * prints ("we lost 12% to quality, then 3% to dedup"), and the
    * first number an operator checks when a training run's token
    * count comes up short.
    *
    * Scale shape: the E14 verdict relation joined to the C7 cluster
    * relation (the same single-verdict-pass shape TrainingDataJob
    * materialize uses), keeper = the C15 window (cluster-keyed,
    * corpus-cardinality), then a ≤5-row rollup with a broadcast
    * 1-row total.
    */
  def docCurationFunnel(t: Tables, minScore: Double = 0.5): DataFrame = {
    val cur = docCurate(t, minScore)
      .select(col("doc_id"), col("quality_score"), col("low_quality"),
        col("lang_mismatch"), col("duplicate"))
    val cl = Dedup.docDedupClusters(t)
      .select(col("doc_id"), col("cluster"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    val staged = cur.join(cl, "doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("stage",
        when(col("low_quality") === 1, "2_low_quality")
          .when(col("lang_mismatch") === 1, "3_lang_mismatch")
          .when(col("duplicate") === 1, "4_exact_dup")
          .when(col("rn") =!= 1, "5_near_dup")
          .otherwise("6_kept"))
    // the total is the SUM of the ≤5-row rollup, attached by a GLOBAL
    // window over those ≤5 rows (r16): the r15 shape checkpointed the
    // rollup and crossJoined a 1-row aggregate back — two extra jobs
    // where one empty-partition window does the same arithmetic in the
    // rollup's own plan. Σ n_docs ≡ count(staged) because every doc
    // lands in exactly one stage; the single-partition window is safe
    // BY CONSTRUCTION (≤ #stages rows, never corpus-cardinality).
    val wAll = Window.partitionBy()
    staged.groupBy(col("stage")).agg(count(lit(1)).as("n_docs"))
      .select(col("stage"), col("n_docs"),
        r6(col("n_docs").cast("double") /
          sum(col("n_docs")).over(wAll).cast("double")).as("share_r"))
      .orderBy(col("stage"))
  }

  /** E53: text × embedding cross-modal card — per embedding LABEL
    * (the coarse semantic grouping): doc count, mean E2 quality, mean
    * D16 centroid distance, exact-duplicate share. The "is this
    * semantic region low-quality / duplicated / diffuse" read that
    * decides per-cluster curation policy (drop a region vs re-crawl
    * it) — possible only because documents and embeddings share the
    * id space, and the first operator that joins the text and vector
    * halves of the corpus.
    *
    * Scale shape: three narrow per-doc relations (E2 quality pass,
    * content-hash dup window, D16's broadcast-centroid distance)
    * equi-joined on the id, rolled up to #labels rows; quality and
    * distance are 6dp-rounded per row so the decimal means are
    * order-independent.
    */
  def docTextEmbeddingCard(t: Tables): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val q = withQuality(t.documents.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("quality_score"))
    val dup = t.documents.select(col("doc_id"), md5(col("text")).as("ch"))
      .withColumn("dup", (col("doc_id") =!=
        min(col("doc_id")).over(Window.partitionBy(col("ch")))).cast("long"))
      .select(col("doc_id").as("dup_id"), col("dup"))
    val dist = Similarity.embCentroidDist(t)
      .select(col("vec_id"), col("label"), col("dist_r"))
    def dmean(c: Column) =
      r6(sum(c.cast(DecimalType(18, 6))).cast("double") /
        count(lit(1)).cast("double"))
    dist
      .join(q, col("vec_id") === col("doc_id"))
      .join(dup, col("vec_id") === col("dup_id"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_docs"),
        dmean(col("quality_score")).as("mean_quality_r"),
        dmean(col("dist_r")).as("mean_dist_r"),
        r6(sum(col("dup")).cast("double") / count(lit(1)).cast("double"))
          .as("dup_share_r"))
      .orderBy(col("label"))
  }

  /** E44: token coverage curve — what fraction of all token
    * OCCURRENCES the top-V vocabulary covers, for a ladder of V (the
    * vocab-size tuning card behind E8/E23/E30: the knee of this curve
    * is where a bigger vocab stops paying). One vocabulary aggregate
    * persisted and re-read per ladder point (each point is a
    * TakeOrdered over the vocab-sized relation, never the corpus);
    * exact integer counts throughout.
    */
  def textTokenCoverage(t: Tables,
      ladder: Seq[Int] = Seq(1, 2, 4, 8, 16)): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val counts = t.documents
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    counts.count()
    try {
      val total = counts.agg(sum(col("n")).as("tot"))
      val rows = ladder.map { v =>
        counts.orderBy(col("n").desc, col("token").asc).limit(v)
          .agg(sum(col("n")).as("covered"))
          .select(lit(v.toLong).as("vocab_size"), col("covered"))
      }.reduce(_.unionAll(_))
      rows.crossJoin(broadcast(total))
        .select(col("vocab_size"), col("covered"),
          r6(col("covered").cast("double") / col("tot").cast("double")).as("coverage_r"))
        .orderBy(col("vocab_size"))
        .localCheckpoint(true)
    } finally counts.unpersist(true)
  }

  /** E45: packing efficiency — the eval card over E10's bins: bin
    * count, mean/median/min/max fill ratio vs the token budget ("how
    * much padding would training waste at this budget"). One rollup
    * over the (source, bin) aggregate of the pack relation — bins are
    * corpus_tokens/budget many, the stats ride that bounded relation.
    */
  def docPackEfficiency(t: Tables, budget: Int = 512): DataFrame =
    docPack(t, budget)
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      .agg(
        count(lit(1)).as("n_bins"),
        sum(col("n_docs")).as("n_docs"),
        r6(sum(col("tokens")).cast("double") / count(lit(1)).cast("double") /
          lit(budget.toDouble)).as("avg_fill_r"),
        r4(expr(s"percentile(CAST(tokens AS DOUBLE) / $budget.0, 0.5)")).as("p50_fill_r"),
        r6(min(col("tokens")).cast("double") / lit(budget.toDouble)).as("min_fill_r"),
        r6(max(col("tokens")).cast("double") / lit(budget.toDouble)).as("max_fill_r"))

  /** E43: curation explain matrix — the drop-reason Venn of E14: per
    * (low_quality, lang_mismatch, duplicate) flag combination, doc
    * count and corpus share ("are we losing docs to quality or to
    * language ID" — the filter-tuning dataset card; single-reason
    * counts hide overlap, the combination matrix doesn't). One pass
    * through E14's additive transforms into a ≤8-key aggregate.
    */
  def docCurateExplain(t: Tables, minScore: Double = 0.5): DataFrame = {
    val cur = docCurate(t, minScore)
    val total = cur.agg(count(lit(1)).as("tot"))
    cur.groupBy(col("low_quality"), col("lang_mismatch"), col("duplicate"))
      .agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(total))
      .select(col("low_quality"), col("lang_mismatch"), col("duplicate"),
        col("n_docs"),
        r6(col("n_docs").cast("double") / col("tot").cast("double")).as("share_r"))
      .orderBy(col("low_quality"), col("lang_mismatch"), col("duplicate"))
  }

  /** E30: model-based quality scoring — the fastText-style linear
    * classifier pass modern pretraining pipelines run after the
    * heuristic filters (E2/E6): mean-pooled per-token coefficients →
    * logit → squash → keep verdict. The coefficient relation here
    * carries deterministic hash-derived stand-in values (production
    * swaps in the trained artifact — same schema, same plan); what
    * this operator makes real is the SCORING plumbing.
    *
    * Scale shape: the weight relation is capped at the top-`vocabV`
    * corpus tokens by frequency (rank via TakeOrderedAndProject, no
    * global sort), so it is bounded and broadcast-able no matter how
    * big the corpus is; OOV tokens contribute 0 through the left
    * join's coalesce. The 100 TB corpus explodes ONCE into a
    * BroadcastHashJoin against the weights and collapses in one
    * per-doc aggregate — a single corpus shuffle.
    *
    * Engine parity: coefficients are integer milli-weights (exact
    * long sums — a double sum would be summation-order-dependent and
    * flip r6-rounded hashes), and the squash is the rational fast
    * sigmoid z/(2(1+|z|)) + 0.5 — monotone, bounded (0,1), and pure
    * IEEE arithmetic, so no libm-exp divergence between engines.
    */
  /** The E30 weight relation (token, w_milli): top-`vocabV` corpus
    * tokens by frequency with deterministic hash-derived stand-in
    * coefficients. Public so the STREAMING scorer consumes the same
    * artifact the batch scorer trains — the train-offline/apply-online
    * split (A30's shape, applied to model scoring).
    */
  def qualityModelWeights(t: Tables, vocabV: Int = 4096): DataFrame =
    t.documents.select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc).limit(vocabV)
      .select(col("token"),
        ((lit(Perms(0)._1) * (md5_60(col("token")) % M30) + lit(Perms(0)._2))
          % P % 2001L - 1000L).as("w_milli"))

  /** Shared E30 scoring plumbing: mean-pool a (token, w_milli) weight
    * relation over each doc's tokens (OOV → 0 via the left join), one
    * exact long sum, rational fast sigmoid. The weight relation is
    * bounded (top-vocabV) and broadcast regardless of corpus size.
    */
  private def scoreWithWeights(t: Tables, weights: DataFrame, bias: Double): DataFrame = {
    val toks = t.documents.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    toks.join(broadcast(weights), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("w_milli"), lit(0L))).as("swm"))
      .withColumn("z", lit(bias) + (col("swm") / 1000.0) / col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), r6(col("z")).as("z_r"),
        r6(col("z") / (lit(2.0) * (lit(1.0) + abs(col("z")))) + 0.5).as("score_r"),
        (col("z") >= 0).cast("int").as("keep"))
  }

  def docQualityModel(t: Tables, vocabV: Int = 4096, bias: Double = 0.1): DataFrame =
    scoreWithWeights(t, qualityModelWeights(t, vocabV), bias)

  /** E30t: the E30 weights TRAINED from data instead of the hash
    * stand-in — one exact logistic-regression gradient step from w = 0
    * with E14's composed keep/drop verdict as the weak label. At w = 0
    * every prediction is σ(0) = 1/2, so the step for token j is
    *   Δw_j ∝ Σ_d (y_d − ½)·c_dj = ½·(Σ_{keep} c_dj − Σ_{drop} c_dj),
    * and normalizing by the token's total count gives the per-token
    * milli-weight  w_j = ⌊1000·grad_j / cnt_j⌋ ∈ [−1000, 1000] — the
    * keep-vs-drop direction of every document the token appears in.
    * Exact integer/IEEE arithmetic end to end (integer grad and cnt,
    * one double division, floor), so the DuckDB oracle reproduces the
    * weights bit-for-bit: a TRAINED model that is still hash-gated.
    *
    * Scale shape: labels are E14 (one corpus scan + one window), the
    * gradient is ONE token-keyed aggregate over the exploded corpus
    * joined to labels on doc_id, and the resulting relation is capped
    * at top-vocabV by frequency — bounded and broadcast-able like the
    * stand-in. The train-offline/apply-online split (E30b) takes this
    * relation unchanged.
    */
  def qualityModelTrainedWeights(t: Tables, vocabV: Int = 4096,
      minScore: Double = 0.5): DataFrame = {
    val labels = docCurate(t, minScore).select(col("doc_id"), col("keep"))
    t.documents.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .join(labels, Seq("doc_id"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("keep") * 2 - 1).as("grad"))
      .orderBy(col("cnt").desc, col("token").asc).limit(vocabV)
      .select(col("token"),
        floor(lit(1000.0) * col("grad") / col("cnt")).cast("long").as("w_milli"))
  }

  def docQualityModelTrained(t: Tables, vocabV: Int = 4096, bias: Double = 0.1,
      minScore: Double = 0.5): DataFrame =
    scoreWithWeights(t, qualityModelTrainedWeights(t, vocabV, minScore), bias)

  /** E49: trained-model agreement card — the confusion matrix of
    * E30t's learned keep/drop against the E14 weak labels it was
    * trained on, with precision/recall/accuracy/F1. This is IN-SAMPLE
    * fit by construction (one gradient step on these very labels) —
    * the number that says whether the linear model can even represent
    * the curation rule before you trust it on unlabeled data; pair
    * with a held-out split (E21) for generalization. Two per-doc
    * relations joined doc-keyed into ONE 4-counter aggregate; every
    * ratio divides exact BIGINTs once, r6'd, zero-denominator guarded
    * identically on both engines.
    */
  def docQualityModelEval(t: Tables, vocabV: Int = 4096, bias: Double = 0.1,
      minScore: Double = 0.5): DataFrame = {
    val pred = docQualityModelTrained(t, vocabV, bias, minScore)
      .select(col("doc_id"), col("keep").as("pred_keep"))
    val lab = docCurate(t, minScore).select(col("doc_id"), col("keep").as("y"))
    def cnt(p: Int, y: Int): Column =
      sum(when(col("pred_keep") === p && col("y") === y, 1L).otherwise(0L))
    def ratio(num: Column, den: Column): Column =
      when(den > 0L, r6(num.cast("double") / den.cast("double")))
    pred.join(lab, "doc_id")
      .agg(cnt(1, 1).as("tp"), cnt(1, 0).as("fp"),
        cnt(0, 1).as("fn"), cnt(0, 0).as("tn"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        ratio(col("tp"), col("tp") + col("fp")).as("precision_r"),
        ratio(col("tp"), col("tp") + col("fn")).as("recall_r"),
        ratio(col("tp") + col("tn"),
          col("tp") + col("fp") + col("fn") + col("tn")).as("accuracy_r"),
        ratio(lit(2L) * col("tp"),
          lit(2L) * col("tp") + col("fp") + col("fn")).as("f1_r"))
  }

  /** E58: reliability diagram + ECE for the trained quality model —
    * E49 says whether the model's DECISIONS match the labels; this
    * says whether its PROBABILITIES mean anything (a model can be 89%
    * accurate while its "0.9" bucket is right 60% of the time — then
    * score-threshold tuning, E26's quality buckets, and any
    * downstream mixing-by-confidence are built on sand). Fixed-width
    * probability bins (deterministic, never quantile), per bin the
    * mean predicted probability vs the observed positive rate and
    * their gap; the expected calibration error Σ (n_b/N)·gap_b rides
    * every row as the one-number summary.
    *
    * Bins are min-max NORMALIZED over the observed score range (a
    * one-step-trained linear model's fast-sigmoid scores cluster in a
    * narrow band — fixed [0,1) deciles collapse the whole corpus into
    * one bin and the diagram says nothing); the range comes from a
    * broadcast 1-row (min, max) aggregate of r6'd scores, so the bin
    * expression is the identical double arithmetic on both engines.
    *
    * Scale shape: the scorer's own chain + ONE doc-keyed label join
    * into a ≤nBins-key aggregate; probabilities r6'd before the
    * DECIMAL mean, gaps computed on r6'd values, ECE a broadcast
    * 1-row aggregate of the bin relation.
    */
  def docQualityCalibration(t: Tables, vocabV: Int = 4096, bias: Double = 0.1,
      minScore: Double = 0.5, nBins: Int = 10): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val pred = docQualityModelTrained(t, vocabV, bias, minScore)
      .select(col("doc_id"), col("score_r"))
    val lab = docCurate(t, minScore).select(col("doc_id"), col("keep").as("y"))
    val rng = pred.agg(min(col("score_r")).as("mn"), max(col("score_r")).as("mx"))
    val cal = pred.join(lab, "doc_id")
      .crossJoin(broadcast(rng))
      .withColumn("bin",
        when(col("mx") === col("mn"), lit(0L)).otherwise(
          least(lit(nBins - 1L),
            floor((col("score_r") - col("mn")) / (col("mx") - col("mn")) * nBins)
              .cast("long"))))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("score_r").cast(DecimalType(18, 6))).as("sp"),
        sum(col("y").cast("long")).as("npos"))
      .select(col("bin"), col("n_docs"),
        r6(col("sp").cast("double") / col("n_docs").cast("double")).as("mean_pred_r"),
        r6(col("npos").cast("double") / col("n_docs").cast("double")).as("pos_rate_r"))
      .withColumn("gap_r", r6(abs(col("mean_pred_r") - col("pos_rate_r"))))
    val ece = cal
      .agg(sum(col("gap_r").cast(DecimalType(18, 6)) * col("n_docs")).as("sg"),
        sum(col("n_docs")).as("nn"))
      .select(r6(col("sg").cast("double") / col("nn").cast("double")).as("ece_r"))
    cal.crossJoin(broadcast(ece))
  }

  /** E34: language confusion matrix — declared `lang` × E1-predicted
    * `pred_lang` doc counts with per-declared-language share (the
    * dataset-card "how much of my 'en' slice isn't en" view, and the
    * calibration read on the langid heuristic itself). ONE corpus scan
    * (the additive withLangid transform) into a #langs²-key aggregate;
    * the share window runs over that tiny aggregated matrix, never the
    * corpus.
    */
  def docLangConfusion(t: Tables): DataFrame =
    withLangid(t.documents.select(col("lang"), col("text")))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share_r",
        r6(col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy(col("lang"))).cast("double")))
      .orderBy(col("lang"), col("pred_lang"))

  /** E33: Zipf fit — OLS of ln(frequency) on ln(rank) over the top-K
    * vocabulary terms (natural text ⇒ slope ≈ −1; a corpus whose slope
    * is far off is template/generated — a corpus-level quality signal
    * next to the per-doc ones). Top-K is a two-stage exact TakeOrdered
    * (per-partition heaps + driver merge — no global sort of the
    * vocabulary); the rank window and the OLS moment sums run over the
    * K-row relation only. Logs are r6-rounded and products decimal-
    * summed per the engine-parity convention (K is small, so the
    * moment sums are exact).
    */
  def textZipf(t: Tables, topK: Int = 50): DataFrame = {
    val top = t.documents
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(topK)
    // global window is bounded by topK rows by construction. Logs are
    // scaled to exact integer micro-units (⌊ln·1e6+0.5⌋) so every
    // moment sum is exact integer arithmetic — a product of two
    // 6dp-rounded DOUBLES has ~12dp and its decimal cast would round
    // engine-specifically near 1e-6 midpoints. Micro-units cancel in
    // slope and r² ; intercept is de-scaled by one deterministic double
    // divide at the end.
    val ranked = top
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("token").asc)).cast("long"))
      .select(
        floor(log(col("rank").cast("double")) * 1e6 + 0.5).cast("long").as("xm"),
        floor(log(col("n").cast("double")) * 1e6 + 0.5).cast("long").as("ym"))
    val nD = col("k").cast("double")
    val sxx = col("sxx") - col("sx") * col("sx") / nD
    val syy = col("syy") - col("sy") * col("sy") / nD
    val sxy = col("sxy") - col("sx") * col("sy") / nD
    val slope = sxy / sxx
    ranked.agg(
      count(lit(1)).as("k"),
      sum(col("xm")).cast("double").as("sx"),
      sum(col("ym")).cast("double").as("sy"),
      sum(col("xm") * col("ym")).cast("double").as("sxy"),
      sum(col("xm") * col("xm")).cast("double").as("sxx"),
      sum(col("ym") * col("ym")).cast("double").as("syy"))
      .select(col("k"),
        when(sxx > 0, r6(slope)).as("zipf_slope_r"),
        when(sxx > 0, r6((col("sy") - slope * col("sx")) / nD / lit(1e6))).as("intercept_r"),
        when(sxx > 0 && syy > 0, r6(sxy * sxy / (sxx * syy))).as("r2_r"))
  }

  /** E35: per-source hapax-legomena profile — type count, token count,
    * and the fraction of types occurring exactly once (high hapax
    * ratio ⇒ productive vocabulary / fresh prose; near-zero ⇒
    * template/generated text — the source-level cousin of C17's
    * per-doc novelty). Raw token volume combines map-side into
    * (source, token) counts before the only explode-volume shuffle;
    * the rollup keys on #sources.
    */
  def textHapax(t: Tables): DataFrame =
    t.documents
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("n")).as("n_tokens"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_types"), col("n_tokens"), col("n_hapax"),
        r6(col("n_hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_ratio_r"))
      .orderBy(col("source"))

  /** E37: per-source KL divergence from the corpus unigram
    * distribution over the top-V corpus vocabulary — the domain-shift
    * / mixture-design signal ("how far is src17's language from the
    * corpus mixture"; E25 decides weights, this measures what each
    * source would pull them toward). Distributions are add-one
    * smoothed over the top-V restricted vocab (OOV mass excluded by
    * construction — documented contract). Determinism: ln's land on
    * the exact BIGINT micro-lattice (text_zipf's convention), so
    * Σ (c+1)·Δln is exact integer arithmetic and the only double ops
    * are the final de-scale + divide, identical on both engines.
    * Shape: the (source, token) stage is the one explode-volume
    * shuffle (map-side combined); corpus totals derive from it; the
    * scoring relation is #sources × V rows via a broadcast of the
    * TakeOrdered top-V.
    */
  def textKlSource(t: Tables, topV: Int = 500): DataFrame = {
    val st = t.documents
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
    val corpus = st.groupBy(col("token")).agg(sum(col("c")).as("cc"))
      .orderBy(col("cc").desc, col("token").asc).limit(topV)
    val nc = corpus.agg(sum(col("cc")).as("nc"))
    // corpus-side micro-ln per term: ln((cc+1)/(nc+V))
    val terms = corpus.crossJoin(broadcast(nc))
      .select(col("token"), col("cc"),
        floor(log((col("cc") + 1).cast("double") / (col("nc") + topV).cast("double")) * 1e6 + 0.5)
          .cast("long").as("lnpc_m"))
    val sources = t.documents.select(col("source")).distinct()
    val grid = sources.crossJoin(broadcast(terms))
      .join(st, Seq("source", "token"), "left")
      .withColumn("cs", coalesce(col("c"), lit(0L)))
    val ns = grid.groupBy(col("source")).agg(sum(col("cs")).as("ns"))
    val perSource = grid
      .join(broadcast(ns), Seq("source"))
      .withColumn("lnps_m",
        floor(log((col("cs") + 1).cast("double") / (col("ns") + topV).cast("double")) * 1e6 + 0.5)
          .cast("long"))
      .groupBy(col("source"), col("ns"))
      .agg(sum((col("cs") + 1) * (col("lnps_m") - col("lnpc_m"))).as("kl_micro"))
    perSource
      .select(col("source"), col("ns").as("n_topv_tokens"),
        r6(col("kl_micro").cast("double") / lit(1e6) /
          (col("ns") + topV).cast("double")).as("kl_r"))
      .orderBy(col("source"))
  }

  /** E42: pairwise Jensen–Shannon divergence between sources over the
    * shared top-V vocabulary (add-one smoothed) — the symmetric,
    * bounded [0, ln 2] source-similarity MATRIX mixture design reads
    * (E37's KL is each source vs the corpus; this is source vs
    * source, the input to clustering feeds or spotting redundant
    * crawls). Same exact-arithmetic discipline as E37: ln's snap to
    * the BIGINT micro-lattice, the mixture argument is a ratio of
    * exact integers (< 2^53, so the double cast is exact), and the
    * per-pair divergence sums are pure integer arithmetic with ONE
    * deterministic double de-scale at the end. Grid volume is
    * #sources² × V / 2 — sources and V are both bounded, so the
    * pair explosion never tracks corpus size.
    */
  def textJsdPairs(t: Tables, topV: Int = 500): DataFrame = {
    val v = lit(topV.toLong)
    val st = t.documents
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
    val terms = st.groupBy(col("token")).agg(sum(col("c")).as("cc"))
      .orderBy(col("cc").desc, col("token").asc).limit(topV)
      .select(col("token"))
    val sources = t.documents.select(col("source")).distinct()
    val grid = sources.crossJoin(broadcast(terms))
      .join(st, Seq("source", "token"), "left")
      .select(col("source"), col("token"), coalesce(col("c"), lit(0L)).as("cs"))
    val ns = grid.groupBy(col("source")).agg(sum(col("cs")).as("ns"))
    val g = grid.join(broadcast(ns), "source")
    val a = g.select(col("source").as("source_a"), col("token"),
      col("cs").as("ca"), col("ns").as("na"))
    val b = g.select(col("source").as("source_b"), col("token").as("token_b"),
      col("cs").as("cb"), col("ns").as("nb"))
    val denA = (col("na") + v).cast("double")
    val denB = (col("nb") + v).cast("double")
    val lnpa = floor(log((col("ca") + 1).cast("double") / denA) * 1e6 + 0.5).cast("long")
    val lnpb = floor(log((col("cb") + 1).cast("double") / denB) * 1e6 + 0.5).cast("long")
    val lnm = floor(log(
      ((col("ca") + 1) * (col("nb") + v) + (col("cb") + 1) * (col("na") + v)).cast("double") /
        (lit(2.0) * denA * denB)) * 1e6 + 0.5).cast("long")
    a.join(b, col("token") === col("token_b") && col("source_a") < col("source_b"))
      .withColumn("ta", (col("ca") + 1) * (lnpa - lnm))
      .withColumn("tb", (col("cb") + 1) * (lnpb - lnm))
      .groupBy(col("source_a"), col("source_b"), col("na"), col("nb"))
      .agg(sum(col("ta")).as("sa"), sum(col("tb")).as("sb"))
      .select(col("source_a"), col("source_b"),
        r6((col("sa").cast("double") / (col("na") + v).cast("double") +
          col("sb").cast("double") / (col("nb") + v).cast("double")) /
          lit(2000000.0)).as("jsd_r"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** E38: per-source quality rollup — doc counts, mean E2 quality
    * score (6dp scores are decimal-exact, so the mean is
    * order-independent), and the below-threshold fraction (the
    * dataset-card quality row next to E19's size/langid profile and
    * C14's redundancy numbers). ONE scan through the additive
    * withQuality transform into a #sources-key aggregate.
    */
  def corpusQualityStats(t: Tables, minScore: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    withQuality(t.documents.select(col("source"), col("text")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("quality_score").cast(DecimalType(18, 6))).cast("double").as("qsum"),
        sum(when(col("quality_score") < minScore, 1L).otherwise(0L)).as("n_low"))
      .select(col("source"), col("n_docs"),
        r6(col("qsum") / col("n_docs").cast("double")).as("mean_quality_r"),
        col("n_low"),
        r6(col("n_low").cast("double") / col("n_docs").cast("double")).as("low_rate_r"))
      .orderBy(col("source"))
  }

  /** E36: template-family detection — docs sharing an identical
    * leading-k-token prefix (mail headers, scraped boilerplate, form
    * letters: near-dup detectors score them low because the BODY
    * differs, but the shared head is the tell). ONE prefix-keyed
    * shuffle; family size/id ride a window over that corpus-
    * cardinality key; only multi-doc families are emitted.
    */
  def docTemplatePrefix(t: Tables, k: Int = 8): DataFrame = {
    val w = Window.partitionBy(col("prefix"))
    t.documents
      .select(col("doc_id"), concat_ws(" ", slice(tokens(col("text")), 1, k)).as("prefix"))
      .withColumn("family_size", count(lit(1)).over(w))
      .withColumn("family_id", min(col("doc_id")).over(w))
      .filter(col("family_size") >= 2)
      .select(col("doc_id"), col("family_id"), col("family_size"))
  }

  /** E40: BPE pair statistics — frequency-weighted adjacent character
    * pairs, the first iteration of byte-pair-encoding merge learning
    * (the tokenizer-fit step of a training pipeline). The corpus is
    * collapsed to its VOCABULARY first (one word-count aggregate), so
    * the pair explosion runs over |vocab| rows × word length, not
    * corpus length — the same trick WordPiece/BPE trainers use, and
    * what makes a 100 TB corpus fit: vocab is millions of rows where
    * the corpus is trillions of tokens. Pair aggregate cardinality is
    * bounded by alphabet² regardless of scale; top-N is
    * TakeOrderedAndProject (no global sort).
    */
  def textBpePairs(t: Tables, topN: Int = 50): DataFrame =
    t.documents
      .select(explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .filter(length(col("word")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(word)-1), i -> substring(word, i, 2))")).as("pair"),
        col("n"))
      .groupBy(col("pair")).agg(sum(col("n")).as("total"))
      .orderBy(col("total").desc, col("pair").asc)
      .limit(topN)

  /** E41: corpus length profile — the dataset-card relation for
    * sequence-length planning (chunk size, packing efficiency, padding
    * waste all derive from it): per (source, lang), document count,
    * mean chars, exact interpolated p50/p90 of both chars and
    * whitespace tokens. One aggregate over one scan; group cardinality
    * = #sources × #langs (tiny). Exact percentiles per B11's
    * convention — the B24 sketch is the 100 TB swap-in.
    */
  def docLengthProfile(t: Tables): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    t.documents
      .select(col("source"), col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        r6(sum(col("n_chars").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)).cast("double")).as("avg_chars_r"),
        r4(expr("percentile(n_chars, 0.5)")).as("chars_p50"),
        r4(expr("percentile(n_chars, 0.9)")).as("chars_p90"),
        r4(expr("percentile(n_tokens, 0.5)")).as("tokens_p50"),
        r4(expr("percentile(n_tokens, 0.9)")).as("tokens_p90"))
      .orderBy(col("source"), col("lang"))
  }

  /** E45: tokenizer fertility per (source, lang) — the sequence-budget
    * planning card: BPE-ish regex tokens per whitespace word
    * (fertility — how much a subword tokenizer inflates this slice)
    * and chars per regex token (compression). Both are ratios of
    * exact corpus-total BIGINTs with ONE double division each, so the
    * card is engine-deterministic; one narrow tokenize pass into a
    * #source×#lang aggregate.
    */
  def docTokenizerFertility(t: Tables): DataFrame =
    t.documents
      .select(col("source"), col("lang"),
        length(col("text")).cast("long").as("n_chars"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]|[^a-z0-9 ]"), lit(0))).cast("long").as("re_tokens"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("ws_total"),
        sum(col("re_tokens")).as("re_total"),
        sum(col("n_chars")).as("chars_total"))
      .select(col("source"), col("lang"), col("n_docs"),
        col("ws_total"), col("re_total"),
        r6(col("re_total").cast("double") / col("ws_total").cast("double"))
          .as("fertility_r"),
        r6(col("chars_total").cast("double") / col("re_total").cast("double"))
          .as("chars_per_token_r"))
      .orderBy(col("source"), col("lang"))

  /** E46: BPE merge-table training, `rounds` iterations — the loop E44
    * is one step of, producing the actual tokenizer artifact (the
    * ordered merge list). Round r mines the top pair of the current
    * symbol representation (tie-break total desc, pair asc), applies
    * it left-to-right non-overlapping (`replace`), and encodes the new
    * symbol as sentinel chr(r) — so later rounds can merge MERGED
    * symbols (the "th"+"e" → "the" second-order merge a single pass
    * can't see). Output: one row per round with the fully-expanded
    * merged token and its count at selection time — sentinels resolve
    * through the chain of 1-row broadcast pair relations, newest
    * first, so no driver collect touches corpus data. Everything past
    * the word-count aggregate is |vocab|-sized; the corpus-scale
    * vocab stage appears once per round in the plan and dedupes via
    * exchange reuse. Rounds are a compile-time constant (each adds
    * ~3 plan stages) — the production shape for large merge tables is
    * this operator driven round-batch-wise with the vocab relation
    * checkpointed between batches.
    */
  /** The E47 mining chain, shared with the E65 encoder: per round r,
    * the 1-row (p$r, total$r) top-pair relation mined over the
    * sentinel-collapsed vocabulary. Index 1..rounds. */
  private[graft] def bpeMineTops(t: Tables, rounds: Int): Array[DataFrame] = {
    require(rounds >= 1 && rounds <= 8, "sentinel space: 1..8 rounds")
    def minePairs(vocab: DataFrame, wCol: String): DataFrame =
      vocab.filter(length(col(wCol)) >= 2)
        .select(explode(expr(
          s"transform(sequence(1, length($wCol)-1), i -> substring($wCol, i, 2))")).as("pair"),
          col("n"))
        .groupBy(col("pair")).agg(sum(col("n")).as("total"))
        .orderBy(col("total").desc, col("pair").asc)
        .limit(1)
    val vocab0 = t.documents
      .select(explode(tokens(col("text"))).as("w0"))
      .filter(col("w0") =!= "")
      .groupBy(col("w0")).agg(count(lit(1)).as("n"))
    // tops(r): 1-row (p_r, total_r); vocabs(r): vocab with sentinels 1..r
    val tops = new Array[DataFrame](rounds + 1)
    val vocabs = new Array[DataFrame](rounds + 1)
    vocabs(0) = vocab0
    for (r <- 1 to rounds) {
      val prev = s"w${r - 1}"
      tops(r) = minePairs(vocabs(r - 1), prev)
        .select(col("pair").as(s"p$r"), col("total").as(s"total$r"))
      vocabs(r) = vocabs(r - 1).crossJoin(broadcast(tops(r)))
        .withColumn(s"w$r", expr(s"replace($prev, p$r, chr($r))"))
    }
    tops.drop(1)
  }

  def textBpeTrain(t: Tables, rounds: Int = 3): DataFrame = {
    val tops = bpeMineTops(t, rounds)
    // all pair rows side by side (1-row cross of 1-row relations)
    val allTops = tops.reduce(_ crossJoin _)
    // expand round r's pair string: resolve sentinels newest-first,
    // each substituted by its own already-expanded token
    def expanded(r: Int): Column = {
      var e: Column = col(s"p$r")
      for (s <- (r - 1) to 1 by -1)
        e = org.apache.spark.sql.functions.replace(e, expr(s"chr($s)"), expanded(s))
      e
    }
    val rows = (1 to rounds).map { r =>
      allTops.select(lit(r.toLong).as("round"),
        expanded(r).as("merged_token"), col(s"total$r").as("total"))
    }
    rows.reduce(_ unionByName _).orderBy(col("round"))
  }

  /** E44: one BPE merge iteration — the training step E40 only mines:
    * take E40's top pair, apply it to the collapsed vocabulary
    * (left-to-right non-overlapping, `replace()` semantics on both
    * engines — exactly the BPE greedy scan), and re-mine the pair
    * counts over the merged symbol sequences. The merged symbol is
    * held as one sentinel char (chr(1) — outside the corpus alphabet)
    * so adjacency stays a 2-char substring; output expands sentinels
    * back to the merged pair string. Everything beyond the word-count
    * aggregate runs over the COLLAPSED vocabulary (|vocab| rows, not
    * corpus length) with the 1-row top pair broadcast — the iterable
    * shape: chain calls to train a full merge table.
    */
  def textBpeMerge(t: Tables, topN: Int = 50): DataFrame = {
    val vocab = t.documents
      .select(explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .filter(length(col("word")) >= 2)
    val top1 = vocab
      .select(explode(expr(
        "transform(sequence(1, length(word)-1), i -> substring(word, i, 2))")).as("pair"),
        col("n"))
      .groupBy(col("pair")).agg(sum(col("n")).as("total"))
      .orderBy(col("total").desc, col("pair").asc)
      .limit(1)
      .select(col("pair"))
    def expand(c: Column): Column =
      when(c === expr("chr(1)"), col("pair")).otherwise(c)
    vocab.crossJoin(broadcast(top1))
      .withColumn("w2", expr("replace(word, pair, chr(1))"))
      .filter(length(col("w2")) >= 2)
      .select(col("pair"), col("n"), explode(expr(
        "transform(sequence(1, length(w2)-1), i -> substring(w2, i, 2))")).as("p2"))
      .groupBy(col("pair"), substring(col("p2"), 1, 1).as("l"),
        substring(col("p2"), 2, 1).as("r"))
      .agg(sum(col("n")).as("total"))
      .select(col("pair").as("merged"),
        expand(col("l")).as("left_sym"), expand(col("r")).as("right_sym"),
        col("total"))
      .orderBy(col("total").desc, col("left_sym").asc, col("right_sym").asc)
      .limit(topN)
  }

  /** E57: chunk-level duplicate MASS per source — E55's CDC chunks
    * rolled up to the dataset-card number: per source, what fraction
    * of its chunk BYTES are redundant copies (an occurrence is dup
    * mass when an earlier (doc_id, chunk_idx) occurrence of the same
    * content hash exists anywhere in the corpus — the storage and
    * training tokens you'd save by chunk-sharded dedup; C27 gives the shingle
    * view of the same question, this gives the byte-exact one CDC
    * makes insertion-robust).
    *
    * Scale shape: inherits E55's shuffles (doc-keyed segmentation +
    * chunk-hash key); the first-occurrence rank rides the SAME
    * chunk-hash partitioning as the copy count, the rollup keys on
    * #sources.
    */
  def docCdcDupMass(t: Tables, window: Int = 16, modDiv: Int = 64): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val first = Window.partitionBy(col("chunk_hash"))
      .orderBy(col("doc_id"), col("chunk_idx"))
    val chunks = docCdcChunks(t, window, modDiv)
      .withColumn("occ_rank", row_number().over(first))
      .join(t.documents.select(col("doc_id"), col("source")), "doc_id")
    chunks.groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_len")).as("total_bytes"),
        sum(when(col("occ_rank") > 1, col("chunk_len")).otherwise(0L)).as("dup_bytes"),
        sum(when(col("occ_rank") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("source"), col("n_chunks"), col("total_bytes"),
        col("n_dup_chunks"), col("dup_bytes"),
        r6(col("dup_bytes").cast("double") / col("total_bytes").cast("double"))
          .as("dup_share_r"))
  }

  /** E56: Heaps'-law vocabulary-growth card — cumulative distinct
    * vocabulary vs cumulative token volume over `nBuckets` corpus
    * prefixes, with the fitted growth exponent V ≈ K·N^β (the
    * tokenizer/dedup sizing read: β ≈ 0.5 is natural prose; β near 1
    * says the vocabulary never saturates — OCR noise or ids flooding
    * the corpus; β near 0 says template text. Also the "how big will
    * the vocab be at 100 TB" extrapolation, read next to E33's Zipf —
    * the two laws are duals).
    *
    * Scale shape: NO per-prefix rescans — a token's FIRST bucket
    * (min over one token-keyed aggregate) fully determines which
    * prefixes contain it, so the curve is a cumsum of first-seen
    * counts over the ≤nBuckets-row rollup; bucket assignment is pure
    * integer arithmetic off a broadcast 1-row max (no corpus ntile
    * window). OLS on the micro-ln integer lattice (E33's convention:
    * exact integer moments, units cancel in slope and r²).
    */
  def corpusHeapsLaw(t: Tables, nBuckets: Int = 10): DataFrame = {
    val mx = t.documents.agg(max(col("doc_id")).as("mx"))
    val tk = t.documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .crossJoin(broadcast(mx))
      .select(col("token"), expr(s"(doc_id * $nBuckets) div (mx + 1)").as("bucket"))
    val occ = tk.groupBy(col("bucket")).agg(count(lit(1)).as("occ"))
    val nw = tk.groupBy(col("token")).agg(min(col("bucket")).as("fb"))
      .groupBy(col("fb")).agg(count(lit(1)).as("nt"))
    val scaffold = t.spark.range(nBuckets).select(col("id").as("bucket"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = scaffold
      .join(occ, Seq("bucket"), "left")
      .join(nw, col("bucket") === col("fb"), "left")
      .select(col("bucket"), coalesce(col("occ"), lit(0L)).as("o"),
        coalesce(col("nt"), lit(0L)).as("n"))
      .withColumn("n_tokens_cum", sum(col("o")).over(w))
      .withColumn("vocab_cum", sum(col("n")).over(w))
      .select(col("bucket"), col("n_tokens_cum"), col("vocab_cum"))
    val xy = curve.filter(col("n_tokens_cum") > 0 && col("vocab_cum") > 0)
      .select(
        floor(log(col("n_tokens_cum").cast("double")) * 1e6 + 0.5).cast("long").as("xm"),
        floor(log(col("vocab_cum").cast("double")) * 1e6 + 0.5).cast("long").as("ym"))
    val nD = col("k").cast("double")
    val sxx = col("sxx") - col("sx") * col("sx") / nD
    val syy = col("syy") - col("sy") * col("sy") / nD
    val sxy = col("sxy") - col("sx") * col("sy") / nD
    val slope = sxy / sxx
    val fit = xy.agg(
      count(lit(1)).as("k"),
      sum(col("xm")).cast("double").as("sx"),
      sum(col("ym")).cast("double").as("sy"),
      sum(col("xm") * col("ym")).cast("double").as("sxy"),
      sum(col("xm") * col("xm")).cast("double").as("sxx"),
      sum(col("ym") * col("ym")).cast("double").as("syy"))
      .select(
        when(sxx > 0, r6(slope)).as("heaps_beta_r"),
        when(sxx > 0, r6((col("sy") - slope * col("sx")) / nD / lit(1e6)))
          .as("heaps_lnk_r"),
        when(sxx > 0 && syy > 0, r6(sxy * sxy / (sxx * syy))).as("r2_r"))
    curve.crossJoin(broadcast(fit))
  }

  /** E55: content-defined chunking (the rsync/LBFS cut rule) — chunk
    * boundaries fall where the Rabin–Karp window hash ≡ 0 (mod
    * `modDiv`), so an insertion early in a document shifts BYTES but
    * not the downstream cut points: unlike E9's fixed-size chunks,
    * every chunk after the edit re-aligns and still dedups (the
    * property that makes chunk-level dedup robust to boilerplate
    * insertions). Per chunk: position, length, content hash, and its
    * corpus-wide copy count — the chunk-granularity dup mass C1's
    * whole-doc hash can't see.
    *
    * Scale shape: window hashes come from ONE O(n) native pass
    * (`graft_rolling_hashes` — the oracle recomputes each window
    * O(n·k), value-identical); cut positions explode narrow; the only
    * shuffles are the per-doc segmentation window (doc-keyed,
    * corpus-cardinality) and the chunk-hash copy count (chunk-keyed,
    * corpus-cardinality) — the C1 exact-dedup shuffle class, never a
    * pair join.
    */
  def docCdcChunks(t: Tables, window: Int = 16, modDiv: Int = 64): DataFrame = {
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("e"))
    // BYTE-LEVEL end to end: the document is cast to its UTF-8 octets
    // once and every downstream step — rolling hash, cut offsets,
    // segment slicing, chunk length — runs on that byte relation, so a
    // multilingual corpus chunks correctly (a cut may land inside a
    // multi-byte character; the chunk payload is bytes, and G23's
    // reassembly concatenates bytes before decoding, so round-trip
    // still holds). Chunk identity = md5 of the chunk bytes' uppercase
    // hex — the one md5 input both engines can hash (DuckDB's md5 is
    // VARCHAR-only), value-identical to hashing the bytes themselves
    // for identity purposes.
    val docs = t.documents.filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text").cast("binary").as("bt"),
        octet_length(col("text")).cast("long").as("len"))
    val cuts = docs
      .select(col("doc_id"),
        // window threaded through as a literal (the registered
        // expression binds it at plan time; a non-default window now
        // actually changes the hash instead of only the cut offset)
        posexplode(call_function("graft_rolling_hashes", col("bt"), lit(window)))
          .as(Seq("p0", "hv")))
      .filter(pmod(col("hv"), lit(modDiv.toLong)) === 0L)
      .select(col("doc_id"), (col("p0") + window).cast("long").as("e"))
    val ends = cuts
      .union(docs.select(col("doc_id"), col("len").as("e")))
      .distinct()
      .join(docs, "doc_id")
    val seg = ends
      .withColumn("start", coalesce(lag(col("e"), 1).over(wDoc), lit(0L)) + 1)
      .withColumn("chunk_idx", (row_number().over(wDoc) - 1).cast("long"))
      .select(col("doc_id"), col("chunk_idx"), col("start").as("start_pos"),
        (col("e") - col("start") + 1).as("chunk_len"),
        md5(hex(expr("substring(bt, CAST(start AS INT), CAST(e - start + 1 AS INT))")))
          .as("chunk_hash"))
    seg.withColumn("n_copies",
      count(lit(1)).over(Window.partitionBy(col("chunk_hash"))))
  }

  /** Multi-byte plant shared by the CDC gate keys and their DuckDB
    * oracles: every 41st document re-enters the corpus with accented /
    * CJK / punctuation multi-byte UTF-8 wrapped around its text, so the
    * gated relation always contains documents whose byte and character
    * offsets diverge — the corpus shape the byte-level CDC arc exists
    * for. Constants are shared with [[graft.OracleSqlGen]] so both
    * engines plant bit-identical docs.
    */
  val Utf8PlantPrefix =
    "héllo — 世界 «größe» "
  val Utf8PlantSuffix = " … naïve ñandú"
  val Utf8PlantEvery = 41

  def plantUtf8Docs(t: Tables): Tables = {
    val d = t.documents.select(col("doc_id"), col("text"), col("lang"),
      col("source"), col("n_chars"))
    val planted = d.filter(pmod(col("doc_id"), lit(Utf8PlantEvery.toLong)) === 0L)
      .select((col("doc_id") + 9000000L).as("doc_id"),
        concat(lit(Utf8PlantPrefix), col("text"), lit(Utf8PlantSuffix)).as("text"),
        col("lang"), col("source"),
        length(concat(lit(Utf8PlantPrefix), col("text"), lit(Utf8PlantSuffix)))
          .cast("long").as("n_chars"))
    t.copy(docsOverride = Some(d.unionByName(planted)))
  }

  /** E59: reference-model perplexity (the CCNet scoring shape): an
    * add-one-smoothed bigram LM trains on ONE trusted reference
    * source and every document in the corpus is scored against it —
    * cross-domain perplexity, unlike E31 where the corpus scores
    * itself. Unseen prev-tokens/bigrams back off to the smoothing
    * floor (c_b+1)/(c_prev+V) with missing counts at 0, so every
    * bigram scores and nothing silently drops. Output is the
    * per-source curation card: mean perplexity + the share of docs a
    * ppl-threshold filter would remove.
    *
    * Determinism: per-bigram lp = r6(ln((c_b+1)/(c_prev+V))) over
    * integer counts; per-doc Σ c·lp rides DECIMAL(18,6); the mean is
    * r6'd BEFORE exp (identical double in, identical double out) and
    * per-doc ppl is r6'd before the decimal-routed per-source mean.
    *
    * Scale shape: the reference model is a curated SMALL corpus by
    * construction (the C9b decontamination trust shape), so its
    * bigram/prev/vocab relations broadcast into the corpus-wide
    * bigram stream; the probe side aggregates per (doc, bigram)
    * map-side before the one token-volume shuffle, then rolls up to
    * #docs and finally #sources rows. If the reference outgrows the
    * broadcast budget, drop the hint and the same plan shuffles on
    * the bigram key — semantics unchanged.
    */
  def docPplReference(t: Tables, refSource: String = "src0",
      pplMax: Double = 40.0): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val db = t.documents
      .select(col("doc_id"), col("source"), explode(bigramStrings(col("text"))).as("bg"))
      .groupBy(col("doc_id"), col("source"), col("bg")).agg(count(lit(1)).as("c_db"))
    val rb = db.filter(col("source") === refSource)
      .groupBy(col("bg")).agg(sum(col("c_db")).as("cb"))
    val rc = rb.groupBy(substring_index(col("bg"), " ", 1).as("prev"))
      .agg(sum(col("cb")).as("cu"))
    val vocab = rb.agg(countDistinct(substring_index(col("bg"), " ", -1)).as("v"))
    val lp = db
      .join(broadcast(rb), Seq("bg"), "left")
      .withColumn("prev", substring_index(col("bg"), " ", 1))
      .join(broadcast(rc), Seq("prev"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("source"), col("c_db"),
        r6(log((coalesce(col("cb"), lit(0L)) + 1).cast("double") /
          (coalesce(col("cu"), lit(0L)) + col("v")).cast("double"))).as("lp_r"))
    val pd = lp.groupBy(col("doc_id"), col("source"))
      .agg(sum(col("c_db")).as("n_bigrams"),
        sum(col("c_db") * col("lp_r").cast(DecimalType(18, 6))).cast("double").as("sum_lp"))
    val pp = pd.select(col("source"),
      r6(exp(-r6(col("sum_lp") / col("n_bigrams")))).as("ppl_r"))
    pp.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        r6(sum(col("ppl_r").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)).cast("double")).as("mean_ppl_r"),
        r6(sum(when(col("ppl_r") > pplMax, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("p_filtered_r"))
  }

  /** E59: per-source distinct-TOKEN estimate via the portable HLL
    * (B59's register machinery pointed at VOCABULARY cardinality —
    * the place HLL earns its keep at 100 TB: corpus vocab is open and
    * heavy-tailed, so E8's COUNT(DISTINCT token) two-phase shuffles
    * the token universe, while the register relation is 256 small
    * ints per source, mergeable across shards/runs through G24). The
    * exact distinct rides alongside as the droppable diagnostic; at
    * test SF every source sits in the linear-counting or low-load
    * regime, which the SketchSpec-bounded estimator handles by
    * construction (same code path, same laws).
    *
    * Scale shape: one narrow explode (tokens never leave their
    * partition pre-aggregate) into the map-side-combined
    * (source, bucket) MAX — ≤ 256·#sources rows shuffled; the exact
    * leg is the only token-universe shuffle and is the one you delete.
    */
  /** E60: quality × duplication CROSS card — mean quality score by
    * exact-dup multiplicity bucket (unique / 2–3 copies / 4+). The
    * classic curation finding this card exists to surface: duplicate
    * mass usually skews toward boilerplate and low-quality templates,
    * so dedup and quality filtering REINFORCE each other — if the 4+
    * bucket's mean quality matches unique's, aggressive dedup is
    * deleting good data, and if it craters, C15's keep-best policy is
    * doing double duty as a quality filter. Joins C1's multiplicity
    * (one md5-keyed window — corpus-cardinality key) onto E2's
    * quality relation; output is 3 bucket rows.
    */
  def docQualityVsDup(t: Tables): DataFrame = {
    val q = withQuality(t.documents.select(col("doc_id"), col("text")))
      .withColumn("dup_n",
        count(lit(1)).over(Window.partitionBy(md5(col("text")))))
      .withColumn("dup_bucket",
        when(col("dup_n") === 1, "1_unique")
          .when(col("dup_n") <= 3, "2_small")
          .otherwise("3_heavy"))
    q.groupBy(col("dup_bucket")).agg(
      count(lit(1)).as("n_docs"),
      r6(sum(col("quality_score").cast(DecimalType(18, 6))).cast("double") /
        count(lit(1)).cast("double")).as("mean_quality_r"),
      r6(sum(col("n_chars").cast(DecimalType(18, 6))).cast("double") /
        count(lit(1)).cast("double")).as("mean_chars_r"))
  }

  def textVocabHll(t: Tables): DataFrame = {
    val toks = t.documents.select(col("source"),
      explode(tokens(col("text"))).as("tok"))
    val exact = toks.groupBy(col("source"))
      .agg(countDistinct(col("tok")).as("n_exact"))
    Analytics.hllCard(
      Analytics.hllRegistersBy(toks, col("source"), "source", col("tok")),
      "source")
      .join(broadcast(exact), "source")
  }

  /** E62: per-source QUALITY-SCORE quantiles via the portable bottom-k
    * row sample (B62's machinery pointed at the E2 score) — the
    * distribution card a curation pipeline tracks between corpus
    * versions: a mean hides a collapsing tail, the q25/q50/q75/q90
    * ladder doesn't. Quantiles are PICKED sample order statistics over
    * the already-r6'd score ⇒ bit-exact on both engines; ONE
    * map-side-combined aggregate, ≤k pairs per (source, partition)
    * on the shuffle.
    */
  def docQualityQuantileSample(t: Tables, k: Int = 256): DataFrame = {
    val bks = udaf(graft.functions.BottomKSample(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble))
    val pick = (sv: Column, m: Column, p: Double) =>
      element_at(sv, (floor(lit(p) * (m - 1).cast("double") + 0.5) + 1)
        .cast("int"))
    withQuality(t.documents.select(col("doc_id"), col("source"), col("text")))
      .select(col("source"),
        graft.functions.Hashing.md5_60(
          concat(lit("qqs:"), col("doc_id").cast("string"))).as("hv"),
        col("quality_score").as("x"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), bks(col("hv"), col("x")).as("sample"))
      .select(col("source"), col("n_docs"),
        size(col("sample")).cast("long").as("n_sample"),
        sort_array(col("sample")).as("sv"))
      .select(col("source"), col("n_docs"), col("n_sample"),
        pick(col("sv"), col("n_sample"), 0.25).as("q25"),
        pick(col("sv"), col("n_sample"), 0.50).as("q50"),
        pick(col("sv"), col("n_sample"), 0.75).as("q75"),
        pick(col("sv"), col("n_sample"), 0.90).as("q90"))
  }

  /** E63: the GOPHER rule card — the published pre-training quality
    * rule set (Rae et al. 2021, "Scaling Language Models", table A1)
    * as one per-document verdict relation: word-count bounds, mean
    * word length bounds, symbol-to-word ratio (# and ellipsis),
    * bullet-line and ellipsis-line fractions, alphabetic-word ratio,
    * and the ≥2-of-8 stopword presence check — each measured column
    * rides next to its pass flag so a curation review sees WHY a doc
    * fails, not just that it does (the E43 explain discipline). The
    * thresholds are the paper's; the tokenizations are deliberately
    * trivial (space/newline words, newline lines) so an independent
    * engine re-derives every number.
    *
    * Scale shape: one narrow codegen'd pass over the corpus — array
    * expressions only, no shuffle, no UDF.
    */
  def docGopherRules(t: Tables): DataFrame =
    withGopherRules(t.documents.select(col("doc_id"), col("text")))
      .drop("text")

  /** The E63 rule columns over ANY relation with a `text` column —
    * the batch/streaming-shared core (every rule is a stateless
    * narrow expression, so the streaming twin is this same projection
    * on the ingest stream; no watermark, no state). */
  private[graft] def withGopherRules(df: DataFrame): DataFrame = {
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    df
      .withColumn("words", expr("regexp_extract_all(text, '[^ \\n]+', 0)"))
      .withColumn("lines", split(col("text"), "\n"))
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn("word_chars",
        expr("aggregate(words, 0L, (a, w) -> a + length(w))"))
      .withColumn("n_hash",
        (length(col("text")) -
          length(regexp_replace(col("text"), "#", ""))).cast("long"))
      .withColumn("n_ellipsis_words",
        size(expr("filter(words, w -> w LIKE '%...')")).cast("long"))
      .withColumn("n_bullet_lines",
        size(expr("filter(lines, l -> l LIKE '-%' OR l LIKE '*%')")).cast("long"))
      .withColumn("n_ellipsis_lines",
        size(expr("filter(lines, l -> l LIKE '%...')")).cast("long"))
      .withColumn("n_lines", size(col("lines")).cast("long"))
      .withColumn("n_alpha_words",
        size(expr("filter(words, w -> w RLIKE '[A-Za-z]')")).cast("long"))
      .withColumn("stop_hits",
        gopherStops.map(s =>
          array_contains(expr("transform(words, w -> lower(w))"), s)
            .cast("long")).reduce(_ + _))
      // a whitespace-only doc has n_words = 0: the ratios default to
      // 0.0 (not NULL) so `keep` is always 0/1 — pass_word_count is 0
      // for such docs anyway, so the verdict is keep = 0 either way,
      // but a NULL keep would silently drop the doc from BOTH the
      // keep===1 and keep===0 filters of a curation review
      .withColumn("mean_word_len_r", when(col("n_words") === 0, lit(0.0))
        .otherwise(r6(col("word_chars") / col("n_words"))))
      .withColumn("symbol_word_ratio_r", when(col("n_words") === 0, lit(0.0))
        .otherwise(r6((col("n_hash") + col("n_ellipsis_words")) / col("n_words"))))
      .withColumn("bullet_line_ratio_r", r6(col("n_bullet_lines") / col("n_lines")))
      .withColumn("ellipsis_line_ratio_r", r6(col("n_ellipsis_lines") / col("n_lines")))
      .withColumn("alpha_word_ratio_r", when(col("n_words") === 0, lit(0.0))
        .otherwise(r6(col("n_alpha_words") / col("n_words"))))
      .withColumn("pass_word_count",
        (col("n_words") >= 50 && col("n_words") <= 100000).cast("int"))
      .withColumn("pass_word_len",
        (col("mean_word_len_r") >= 3.0 && col("mean_word_len_r") <= 10.0).cast("int"))
      .withColumn("pass_symbol", (col("symbol_word_ratio_r") < 0.1).cast("int"))
      .withColumn("pass_bullet", (col("bullet_line_ratio_r") < 0.9).cast("int"))
      .withColumn("pass_ellipsis", (col("ellipsis_line_ratio_r") < 0.3).cast("int"))
      .withColumn("pass_alpha", (col("alpha_word_ratio_r") > 0.8).cast("int"))
      .withColumn("pass_stops", (col("stop_hits") >= 2).cast("int"))
      .withColumn("keep",
        (col("pass_word_count") + col("pass_word_len") + col("pass_symbol") +
          col("pass_bullet") + col("pass_ellipsis") + col("pass_alpha") +
          col("pass_stops") === 7).cast("int"))
      .drop("words", "lines", "word_chars", "n_hash", "n_ellipsis_words",
        "n_bullet_lines", "n_ellipsis_lines", "n_lines", "n_alpha_words")
  }

  /** G36b: WARC round-trip profile — every document through the REAL
    * WARC grammar both ways (build a response record, parse it back
    * with [[graft.sources.Warc.scan]]'s parser), the gate-checked half
    * of the G35/G36 ingestion arc (the mm-payload discipline: the
    * oracle re-derives each field from the source row, so a parser
    * that mis-walks headers, mis-reads Content-Length or loses payload
    * bytes fails per document). `payload_ok` pins byte-exact payload
    * recovery — including multi-byte text, where a char-counting
    * Content-Length would break the length jump.
    */
  def docWarcRoundtrip(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    t.documents.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val txt = Option(text).getOrElse("")
        val rec = graft.sources.Warc.responseRecord(
          s"urn:graft:doc:$id", s"https://example.org/doc/$id", txt)
        graft.sources.Warc.scan(rec) match {
          case graft.sources.Warc.ScanResult(Seq(r), Seq()) =>
            (id, r.warcType, r.recordId, r.targetUri, r.contentLength,
              r.nHeaders,
              if (new String(r.payload,
                java.nio.charset.StandardCharsets.UTF_8) == txt) 1 else 0)
          case _ => (id, "corrupt", "", "", -1L, -1, 0)
        }
      })
      .toDF("doc_id", "warc_type", "record_id", "target_uri",
        "content_length", "n_headers", "payload_ok")
  }

  /** Block-level HTML tags: opening OR closing one of these flushes
    * the current text block (the boilerpipe-style segmentation grain —
    * inline tags like `<a>`/`<b>` keep accumulating into the block).
    */
  private val HtmlBlockTags = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "nav", "br", "table", "tr", "td", "th", "section", "article",
    "header", "footer", "blockquote", "pre", "main", "aside", "form",
    "title", "head", "body", "html")

  /** The five named entities the extractor decodes (the HTML subset
    * that appears in escaped text content); named first, `&amp;` LAST
    * so `&amp;lt;` correctly yields the literal string `&lt;`. */
  private def htmlUnescape(s: String): String = s
    .replace("&lt;", "<").replace("&gt;", ">")
    .replace("&quot;", "\"").replace("&#39;", "'")
    .replace("&amp;", "&")

  /** Whitespace normalization of one block: runs of whitespace (nbsp
    * included) collapse to a single space, ends trimmed. */
  private def htmlNorm(s: String): String =
    s.replaceAll("[\\s ]+", " ").trim

  /** E64 core: extract the article text of ONE HTML payload —
    * tolerant, single pass, public-knowledge heuristics only
    * (reference semantics: what a crawled-corpus pipeline runs before
    * any quality rule can score a page):
    *
    *  1. envelope: anything not opening with `<!doctype html`/`<html`
    *     (case-insensitive, leading whitespace allowed) quarantines as
    *     `not_html` — binary or plaintext payloads must not be
    *     "extracted" into garbage text;
    *  2. comments and `<script>`/`<style>` SUBTREES drop structurally
    *     (their content is code, not text; an unclosed script/style
    *     swallows to EOF, the tolerant-parser convention);
    *  3. `<title>` captures separately; block-level tags segment the
    *     body into text blocks; entities decode AFTER tag stripping
    *     (so `&lt;b&gt;` is text, never markup), then whitespace
    *     normalizes per block;
    *  4. the link-density boilerplate heuristic: a block whose
    *     normalized `<a>` text covers more than `dropDensity` of the
    *     block is navigation chrome and drops from the article text
    *     (it still counts into the page-level `link_density_r`
    *     signal, which is the page's boilerplate ratio).
    *
    * Returns (status, title, text, n_blocks kept, n_links,
    * link_density_r over ALL non-empty blocks).
    */
  private[graft] def htmlExtractOne(raw: String, dropDensity: Double = 0.5):
      (String, String, String, Long, Long, Double) = {
    val low = raw.dropWhile(_.isWhitespace).toLowerCase(java.util.Locale.ROOT)
    if (!(low.startsWith("<!doctype html") || low.startsWith("<html")))
      return ("not_html", null, null, -1L, -1L, -1.0)
    val cleaned = raw
      .replaceAll("(?s)<!--.*?-->", "")
      .replaceAll("(?is)<script\\b[^>]*>.*?</script\\s*>", "")
      .replaceAll("(?is)<script\\b[^>]*>.*", "")
      .replaceAll("(?is)<style\\b[^>]*>.*?</style\\s*>", "")
      .replaceAll("(?is)<style\\b[^>]*>.*", "")
    val titleM = java.util.regex.Pattern
      .compile("(?is)<title[^>]*>(.*?)</title\\s*>").matcher(cleaned)
    val title =
      if (titleM.find()) htmlNorm(htmlUnescape(titleM.group(1))) else null
    val body = {
      val bm = java.util.regex.Pattern
        .compile("(?is)<body[^>]*>").matcher(cleaned)
      val start = if (bm.find()) bm.end() else 0
      val end = cleaned.toLowerCase(java.util.Locale.ROOT)
        .indexOf("</body", start)
      if (end >= 0) cleaned.substring(start, end)
      else cleaned.substring(start)
    }
    // tokenizer: tags and text nodes interleave; block tags flush
    val tok = java.util.regex.Pattern.compile("<[^>]*>|[^<]+").matcher(body)
    val blocks = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val bt = new StringBuilder; val lt = new StringBuilder
    var inA = false
    var nLinks = 0L
    def flush(): Unit = {
      if (bt.nonEmpty || lt.nonEmpty) blocks += ((bt.toString, lt.toString))
      bt.clear(); lt.clear()
    }
    while (tok.find()) {
      val t = tok.group()
      if (t.startsWith("<")) {
        val name = t.drop(1).dropWhile(_ == '/')
          .takeWhile(c => c.isLetterOrDigit).toLowerCase(java.util.Locale.ROOT)
        if (name == "a") {
          if (!t.startsWith("</")) { inA = true; nLinks += 1 }
          else inA = false
        } else if (HtmlBlockTags(name)) flush()
      } else {
        bt.append(t)
        if (inA) lt.append(t)
      }
    }
    flush()
    val graded = blocks.iterator.map { case (b, l) =>
      (htmlNorm(htmlUnescape(b)), htmlNorm(htmlUnescape(l)))
    }.filter(_._1.nonEmpty).toSeq
    val kept = graded.filter { case (b, l) =>
      l.length.toDouble / b.length <= dropDensity }
    val totChars = graded.iterator.map(_._1.length.toLong).sum
    val linkChars = graded.iterator.map(_._2.length.toLong).sum
    val ld =
      if (totChars == 0L) 0.0
      else math.floor(linkChars.toDouble / totChars * 1e6 + 0.5) / 1e6
    ("ok", title, kept.map(_._1).mkString("\n"), kept.size.toLong,
      nLinks, ld)
  }

  /** E64 public boundary: HTML→text over ANY (doc_id, payload)
    * relation — what the G36 WARC ingest's clean payloads feed (the
    * mmDecodePayloads discipline for markup: a user's real crawl
    * column drives this same path, quarantines included). One narrow
    * stateless pass, embarrassingly parallel; no driver access.
    */
  def docFromHtml(spark: org.apache.spark.sql.SparkSession,
      payloads: DataFrame, dropDensity: Double = 0.5): DataFrame = {
    import spark.implicits._
    payloads
      .select(col("doc_id").cast("long"), col("payload").cast("string"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, s) =>
        val (st, ti, tx, nb, nl, ld) =
          htmlExtractOne(Option(s).getOrElse(""), dropDensity)
        (id, st, Option(ti), Option(tx),
          if (nb < 0L) None else Some(nb),
          if (nl < 0L) None else Some(nl),
          if (ld < 0.0) None else Some(ld))
      })
      .toDF("doc_id", "status", "title", "text", "n_blocks", "n_links",
        "link_density_r")
  }

  /** Deterministic planted HTML per doc_id (the F2 formula-corpus
    * discipline for markup): three lowercase chunks from an affine
    * char formula the oracle re-derives, wrapped in REAL HTML whose
    * traps exercise every extractor branch — comment with fake tags,
    * script holding markup in a string literal, style subtree, escaped
    * entities in text, an inline anchor inside an article block, a
    * nav block above the drop threshold, raw whitespace runs. The
    * EXPECTED extraction is a pure function of doc_id, so DuckDB
    * gates tag stripping, subtree drops, entity decode, block
    * segmentation, the density drop and normalization per document.
    */
  private[graft] def htmlChunk(id: Long, k: Int): String = {
    val n = (20 + id % 17).toInt
    (0 until n).map(i =>
      ('a' + ((id * 31 + i * 7L + k * 11) % 26)).toChar).mkString
  }

  private[graft] def htmlPayload(id: Long): String =
    s"""<!DOCTYPE html>
       |<html>
       |<head>
       |  <title> Doc $id </title>
       |  <style> p { color: red } </style>
       |  <script> var trap = "<p>not text</p>"; </script>
       |</head>
       |<body>
       |  <h1>Heading   $id</h1>
       |  <!-- comment trap: <p>ignored</p> -->
       |  <p>${htmlChunk(id, 1)} &amp; &lt;b&gt;</p>
       |  <div>${htmlChunk(id, 2)} <a href="/l$id">anchor $id</a></div>
       |  <nav><a href="/a">n1</a> <a href="/b">n2</a> <a href="/c">n3</a></nav>
       |  <p>${htmlChunk(id, 3)}  double
       |  spaces</p>
       |</body>
       |</html>""".stripMargin

  /** E64 gated query: the planted-HTML corpus through [[docFromHtml]];
    * every 17th doc is a plaintext payload that must quarantine as
    * `not_html` instead of extracting garbage.
    */
  def docHtmlExtract(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val payloads = t.documents.select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id,
        if (id % 17 == 0) s"plain text payload $id without any markup"
        else htmlPayload(id))))
      .toDF("doc_id", "payload")
    docFromHtml(spark, payloads)
  }

  /** E65: BPE ENCODE — apply E47's ordered merge list to every
    * document, producing the per-doc token-id sequence a training
    * pipeline actually ships (E47 trains the artifact; this is the
    * operator that CONSUMES it). Per word (the E47 tokenizer), the
    * trained pairs replace left-to-right non-overlapping IN TRAINING
    * ORDER (the E46 greedy scan, iterated — sentinel chr(r) encodes
    * merge r, so later merges compose over earlier ones); the encoded
    * word's symbols map to ids by code point (base chars keep their
    * code point, merge r's symbol is id r — a decoder needs only the
    * merge table). `token_ids` ships as the space-joined id string
    * (information-complete, engine-comparable); `fertility_r` is the
    * E48-style tokens-per-word price of the tokenizer at this merge
    * count.
    *
    * Scale shape: the rounds 1-row pair relations broadcast onto one
    * narrow stateless corpus pass (transform/flatten over the words
    * array — no explode, no shuffle beyond E47's own mining); the
    * spec's decode law replays the merge table backwards and recovers
    * every document's words exactly.
    */
  def textBpeEncode(t: Tables, rounds: Int = 3): DataFrame = {
    val tops = bpeMineTops(t, rounds)
    val allTops = tops.reduce(_ crossJoin _)
    val repl = (1 to rounds).foldLeft("w")((e, r) => s"replace($e, p$r, chr($r))")
    t.documents
      .select(col("doc_id"), tokens(col("text")).as("ws"))
      .crossJoin(broadcast(allTops))
      .withColumn("enc", expr(s"transform(filter(ws, w -> w <> ''), w -> $repl)"))
      .withColumn("ids", expr(
        "flatten(transform(enc, w -> transform(sequence(1, length(w)), i -> ascii(substring(w, i, 1)))))"))
      .select(col("doc_id"),
        size(col("enc")).cast("long").as("n_words"),
        size(col("ids")).cast("long").as("n_tokens"),
        array_join(expr("transform(ids, x -> cast(x as string))"), " ")
          .as("token_ids"),
        when(size(col("enc")) === 0, lit(0.0))
          .otherwise(r6(size(col("ids")).cast("double") /
            size(col("enc")).cast("double"))).as("fertility_r"))
  }
}
