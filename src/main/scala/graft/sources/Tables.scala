package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed loaders for the driver-generated parquet tables.
  *
  * All operators read through here so that scans stay column-pruning /
  * predicate-pushdown friendly (callers `.select` immediately; parquet
  * `ReadSchema` then only contains what the query needs).
  *
  * `docsOverride` swaps the documents relation for a caller-supplied
  * DataFrame (same schema) — real corpora arrive as JSONL, not this
  * parquet layout, and every doc-family operator takes `Tables`, so the
  * override is what lets TrainingDataJob.runFromJsonl (and specs with
  * planted corpora) drive the full operator family over arbitrary
  * input without re-plumbing each operator's signature.
  *
  * `spark` must be a graft session (see GraftSession); construction
  * checks its graft functions and writes nothing to it.
  */
final case class Tables(spark: SparkSession, dir: String,
    docsOverride: Option[DataFrame] = None,
    embOverride: Option[DataFrame] = None) {
  graft.functions.VectorExprs.requireInstalled(spark)

  private def t(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** `events.ts` has shipped as both TIMESTAMP(MICROS) and
    * TIMESTAMP(NANOS) parquet across testdata generations, and planted
    * corpora write it as a raw int64 of nanos, so this read must not
    * hardcode a unit. Native-first: Spark 4 infers µs/ms TIMESTAMP fine
    * and `ts` arrives as TimestampType — use that path whenever it
    * works. Only when the native read fails on TIMESTAMP(NANOS) (which
    * Spark refuses to infer without a session-wide legacy flag we don't
    * want), or `ts` is a plain int64, fall back to an *explicit*
    * LongType schema that reads the raw nanos and truncates to µs —
    * exactly what DuckDB does when it loads the same file, so oracle
    * parity holds either way. Anything else (no `ts` column, another
    * type, an unreadable file) is raised: the explicit schema would
    * read a missing column as all-NULL. TablesSpec pins a sanity
    * tripwire (loaded min/max year must be plausible) so a future unit
    * drift fails in the suite, not at the gate.
    */
  def events: DataFrame = {
    import org.apache.spark.sql.types._
    val path = s"$dir/events.parquet"
    def nanosTs(e: Throwable): Boolean = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => t match {
        case st: org.apache.spark.SparkThrowable =>
          st.getCondition == "PARQUET_TYPE_ILLEGAL" && t.getMessage.contains("TIMESTAMP(NANOS")
        case _ => false
      })
    val native = try Some(spark.read.parquet(path)) catch { case e: Exception if nanosTs(e) => None }
    native.fold[Option[DataType]](Some(LongType))(_.schema.find(_.name == "ts").map(_.dataType)) match {
      case Some(TimestampType) => native.get
      case Some(TimestampNTZType) =>
        // isAdjustedToUTC=false files infer as NTZ; the session tz is
        // pinned to UTC so this cast is wall-clock preserving and all
        // downstream operators keep seeing TimestampType
        native.get.withColumn("ts", native.get("ts").cast(TimestampType))
      case Some(LongType) =>
        val schema = StructType(Seq(
          StructField("event_id", LongType), StructField("ts", LongType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType)))
        spark.read.schema(schema).parquet(path)
          .withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case other =>
        throw new IllegalStateException(s"$path: events.ts is ${other.getOrElse("missing")}, " +
          "expected a TIMESTAMP or int64-nanos column")
    }
  }
  def documents: DataFrame  = docsOverride.getOrElse(t("documents"))
  /** `embOverride` is the embeddings-side sibling of `docsOverride` —
    * index builds over arbitrary vector relations (partial corpora,
    * external deliveries) reuse every Tables-taking operator unchanged.
    */
  def embeddings: DataFrame = embOverride.getOrElse(t("embeddings"))
}
