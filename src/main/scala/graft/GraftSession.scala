package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one way into a graft session: both builders install
  * [[GraftExtensions]] (the `graft_*` functions, the as-of strategy) and
  * [[sqlDefaults]]; nothing else in graft writes session state. `local`
  * mirrors the cluster deploy where it makes sense locally: AQE on,
  * shuffle partitions sized to cores (not the 200 default), UTC.
  */
object GraftSession {
  /** Core count for the driver-side mains (Bench, Verify, Probe):
    * `SPARK_GRAFT_CPUS`, else the host's cores capped at 8 — the r6–r8
    * steady-state numbers were all measured at local[8]; 4 threads
    * doubles wall-clock on a full sweep and 32 regresses sub-second
    * queries on overhead. Parsed, not passed through: Bench emits it
    * unquoted as `"cpus":N`, so a non-numeric value (e.g. "*") must
    * fail here rather than as malformed JSON downstream.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.min(8, Runtime.getRuntime.availableProcessors))

  /** The SQL settings every graft session starts from.
    *
    * `InferFiltersFromGenerate` is excluded: it wraps every explode in
    * `size(child) > 0 AND isnotnull(child)`; PushDownPredicates then
    * moves that filter through the projection that DEFINES the child,
    * substituting the alias — so the generator input is re-evaluated
    * per row below the Generate. For gram/vector explodes that input
    * is the most expensive expression of the whole query (the
    * corpus_dedup_stats plan carried gram hashing 3× per doc: size +
    * isnotnull + the projection itself), and graft's array producers
    * never emit empty arrays (GramHashes falls back to hashing the
    * whole text; embeddings are fixed-width), so the inferred filter
    * drops nothing. Results are identical without the rule — exploding
    * an empty/null array already emits no rows; this is a pure
    * plan-shape exclusion (guide §4.4's duplicate-eval, optimizer-made).
    *
    * Constraint propagation is off: an inferred IsNotNull is a pure
    * optimization (join/filter semantics already drop null keys, so
    * results are identical without it), and in this engine every such
    * filter is a net LOSS twice over — (a) PushDownPredicates moves
    * the attribute-level isnotnull through the projection that
    * DEFINES the attribute, re-evaluating simhash/gram/phash per row
    * below the Project (doc_simhash_pairs carried
    * isnotnull(simhash60(gramhashes(text))) at the scan on both join
    * sides; nullIntolerant can't help once the constraint is already
    * attribute-level), while the corpus columns are never null so the
    * filter drops nothing; and (b) constraint RECOMPUTATION is the
    * dominant optimizer cost on the unrolled iterative-ANN plans
    * (ann_method_recall's 222 KB plan — VERDICT r15 item 5's
    * driver-bound analysis cost). PlanSpec guards that no scan of the
    * oracle-gated sample loses a pushed predicate other than IsNotNull.
    */
  val sqlDefaults: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.constraintPropagation.enabled" -> "false")

  /** The settings of `defaults` whose key the launch conf leaves unset:
    * a `spark-submit --conf` or `-Dspark.*` value is the user's to keep.
    */
  def unsetIn(launch: SparkConf, defaults: Seq[(String, String)]): Seq[(String, String)] =
    defaults.filterNot { case (k, _) => launch.contains(k) }

  /** Installs the extension (unlike the `spark.sql.extensions` string,
    * it keeps a user's own list and needs no new SparkContext) and
    * [[sqlDefaults]] ++ `settings`; `newSession()` carries both over.
    */
  private def builder(settings: Seq[(String, String)]): SparkSession.Builder =
    unsetIn(new SparkConf(), sqlDefaults ++ settings)
      .foldLeft(SparkSession.builder().appName("graft").withExtensions(new GraftExtensions)) {
        case (b, (k, v)) => b.config(k, v)
      }

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = builder(Seq(
        "spark.sql.shuffle.partitions" -> cores.toString,
        "spark.ui.enabled" -> "false"))
      .master(s"local[$cores]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The conf a 1000-executor 100 TB deployment starts from (master/
    * resources come from the submitter). Notes per knob:
    *  - shuffle.partitions ≈ 2–3× total cores; AQE coalesces down.
    *  - skewJoin on: runtime-splits hot partitions in fact-fact joins.
    *  - 128 MB scan partitions keep tasks memory-bounded at any SF.
    *  - autoBroadcastJoinThreshold raised: our dims (region…customer)
    *    stay broadcast even at SF where stats are conservative.
    *  - STREAMING state partitions are a separate knob from batch
    *    shuffle width: each micro-batch pays a fixed get/commit cost
    *    per state store, so size them to the keyspace, not the core
    *    count (measured 2× on the TTL-cache pipeline — see
    *    Bench.StreamStateParts) by setting shuffle.partitions in the
    *    session that STARTS the streaming query; the checkpoint pins
    *    it thereafter.
    */
  def clusterBuilder(totalCores: Int): SparkSession.Builder =
    builder(Seq(
      "spark.sql.shuffle.partitions" -> (totalCores * 3).toString,
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
      "spark.sql.autoBroadcastJoinThreshold" -> (64L * 1024 * 1024).toString))
}
