package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.VectorExprs
import graft.sources.Tables

/** Similarity search over embeddings (SURVEY §2.D).
  *
  * Vector math is pure `functions._` higher-order expressions over
  * `array<double>` (zip_with / aggregate) — whole-stage codegen, no
  * UDFs. Cosines are rounded to 6dp *before* any ranking or threshold
  * so ordering is engine-portable (ties then break on vec_id).
  */
object Similarity {

  /** Float embedding → double vector + squared norm (computed once).
    * Norm/dot use the native codegen'd DotProduct expression
    * (graft.functions.VectorExprs) — same sequential fold as the
    * oracle's list_reduce, ~10× the higher-order-function formulation.
    */
  def withNorm(emb: DataFrame): DataFrame = {
    emb
      // array-level Cast, not transform(x -> cast): elementwise
      // float→double widening is value-identical, but Cast is
      // whole-stage-codegen'd where ArrayTransform is an interpreted
      // higher-order function with a lambda allocation per row — and
      // `v` is rebuilt on every corpus pass of every ANN operator
      .withColumn("v", col("embedding").cast("array<double>"))
      .withColumn("n2", VectorExprs.dot(col("v"), col("v")))
  }

  /** Sequential-order dot product (matches the oracle's fold). */
  private def dot(a: Column, b: Column): Column = VectorExprs.dot(a, b)

  /** Cosine rounded to 6dp, from precomputed squared norms. */
  def cosineR(a: Column, b: Column, na2: Column, nb2: Column): Column =
    r6(dot(a, b) / (sqrt(na2) * sqrt(nb2)))

  /** All (query × candidate) cosines for queries vec_id < nQueries.
    * The tiny query side is broadcast → BroadcastNestedLoopJoin: the
    * big side streams through one narrow pass, no shuffle of the corpus.
    */
  private def scored(t: Tables, nQueries: Int): DataFrame = {
    val e = withNorm(t.embeddings)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    e.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        cosineR(col("qv"), col("v"), col("qn2"), col("n2")).as("cos_r"))
  }

  /** D1: brute-force cosine top-k. Two-stage exact top-k: per-partition
    * local top-k first, then global — the partitioned window never sees
    * more than k×partitions rows per query, so the final shuffle is
    * O(k · parts), not O(corpus).
    */
  def annTopkBruteforce(t: Tables, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val local = Window.partitionBy(col("q_id"), col("pid"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    val global = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    scored(t, nQueries)
      .withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(local))
      .filter(col("lrn") <= k)
      .withColumn("rank", row_number().over(global).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos_r"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** Sign-pattern LSH bucket over `bits` dimensions starting at
    * `offset` (0-based). Each hash table of the multi-table variant
    * reads a disjoint dimension slice — deterministic, engine-portable
    * (the classical random-hyperplane projection needs a seeded
    * matrix; axis-aligned slices are its oracle-checkable stand-in).
    * Dimensions read via null-safe `get` (not ANSI `element_at`): a
    * corpus with dim < offset+bits treats the missing dimensions as
    * sign 0, matching the oracle's v[i]→NULL→ELSE 0 CASE instead of
    * throwing INVALID_ARRAY_INDEX.
    */
  def signBucketAt(v: Column, bits: Int, offset: Int): Column =
    (0 until bits)
      .map(d => when(get(v, lit(offset + d)) > 0.0, lit(1L << d)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Sign-pattern LSH bucket over the first `bits` dimensions. */
  def signBucket(v: Column, bits: Int): Column = signBucketAt(v, bits, 0)

  /** D13: cosine range search — every corpus vector within `radius`
    * of each query (the radius-query complement to D1's top-k;
    * FAISS's range_search). Duplicate hunting wants "everything above
    * 0.95", not "the 5 nearest", and retrieval wants recall floors —
    * both are range queries.
    *
    * Scale shape: BETTER than top-k — the broadcast query side streams
    * the corpus through one narrow codegen'd pass and the threshold is
    * a plain filter, so there is NO shuffle, no window, no driver
    * bottleneck; output volume is the only cost (radius-dependent, the
    * caller's contract). The LSH/IVF candidate pruning of D2/D4
    * composes in front when the radius is tight enough to make recall
    * trades worthwhile.
    */
  def annRange(t: Tables, nQueries: Int = 8, radius: Double = 0.25): DataFrame =
    scored(t, nQueries).filter(col("cos_r") >= radius)

  /** D2: LSH-bucketed ANN — candidates share the 8-bit sign bucket of
    * the query (≈ corpus/256 per bucket), exact cosine + top-k within.
    * At 100 TB: bucket is the shuffle key; multiple hash tables union'd
    * for recall; bucket-size cap guards skew.
    */
  def annLshBucketed(t: Tables, nQueries: Int = 8, k: Int = 3): DataFrame = {
    val e = withNorm(t.embeddings).withColumn("bucket", signBucket(col("v"), 8))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("n2").as("qn2"), col("bucket").as("qbucket"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("vec_id").asc)
    e.join(broadcast(q), col("bucket") === col("qbucket") && col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), col("bucket"),
        cosineR(col("qv"), col("v"), col("qn2"), col("n2")).as("cos_r"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("bucket"), col("cos_r"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** D2b: multi-table sign-LSH ANN — the §5b scale knobs first-class:
    * `nTables` independent sign-hash tables (table i buckets on the
    * dimension slice [i·bits, (i+1)·bits)) union'd for recall, plus a
    * per-bucket posting-list cap (deterministic: lowest vec_id kept)
    * guarding pathological sign-pattern skew — a dead-dimension corpus
    * can drop billions of vectors into one bucket, and the cap bounds
    * that task like AQE can't (the skew is in the DATA volume per key,
    * and capped recall loss is the documented LSH trade).
    *
    * Scale shape: corpus explodes ×nTables into (tbl, bucket) postings
    * (narrow map), the cap is a per-(tbl,bucket) window — high
    * cardinality, never global — and the probe is an equi-join on
    * (tbl, bucket) against the broadcast query postings. A candidate
    * found by several tables is scored per hit and collapsed by a
    * distinct on the (tiny) scored rows — same no-pair-level-distinct
    * trade as the dedup verifies: deduping candidates pre-score would
    * shuffle the vectors; the duplicate scores are bit-identical.
    */
  def annLshMultiTable(t: Tables, nQueries: Int = 8, k: Int = 3,
      nTables: Int = 4, bits: Int = 8, bucketCap: Int = 64): DataFrame = {
    val e = withNorm(t.embeddings)
    val postings = e.select(col("vec_id"), col("v"), col("n2"),
        posexplode(array((0 until nTables).map(i => signBucketAt(col("v"), bits, i * bits)): _*))
          .as(Seq("tbl", "bucket")))
    val capW = Window.partitionBy(col("tbl"), col("bucket")).orderBy(col("vec_id").asc)
    val corpus = postings
      .withColumn("pn", row_number().over(capW))
      .filter(col("pn") <= bucketCap)
      .select(col("vec_id"), col("v"), col("n2"), col("tbl"), col("bucket"))
    val q = postings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"),
        col("tbl").as("qtbl"), col("bucket").as("qbucket"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_r").desc, col("vec_id").asc)
    corpus.join(broadcast(q),
        col("tbl") === col("qtbl") && col("bucket") === col("qbucket") &&
          col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        cosineR(col("qv"), col("v"), col("qn2"), col("n2")).as("cos_r"))
      .distinct() // multi-table hits collapse (scores bit-identical)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos_r"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** D4: IVF (inverted-file) ANN — the other scale path besides sign-
    * LSH: coarse quantizer → per-cell inverted lists → queries probe
    * the nProbe nearest cells and rank exactly within them. At 100 TB
    * the corpus is partitioned by cell id (per-cell parquet
    * partitions — G12's writeEmbeddingsByCell layout), so a query
    * touches nProbe/nCells of the data; the quantizer is a persisted
    * offline artifact (G15) — since r10 the Lloyd-TRAINED center set
    * ([[lloydTrain]], TrainRounds rounds from the seeded hash
    * selection) the whole deploy arc (D9/D10/D11/G12/G15) shares; the
    * oracle unrolls the identical training rounds as chained CTEs, so
    * D4 stays fully DuckDB-oracle-gateable (the r8 verdict item; the
    * single-step pedagogy stays first-class via D7/D20/D21 on the
    * seed).
    *
    * Scale shape: cell assignment is withCell's literal-centers narrow
    * pass (no shuffle, no join); per-query probe cells come from an
    * array_sort over the same literal center distances (narrow, no
    * window over the corpus); the tiny (q_id × nProbe) probe relation
    * broadcasts into the corpus scan; exact cosine + the two-stage
    * top-k (per-partition k first) bound the final shuffle at
    * O(k · partitions), never O(candidates).
    */
  def annIvf(t: Tables, nQueries: Int = 8, k: Int = 3,
      nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val coarse = trainedCenters(t, nCells) // Lloyd-trained (r10), not the seed
    val assigned = withCell(withNorm(t.embeddings), coarse)
      .select(col("vec_id"), col("v"), col("n2"), col("cell"))
    val probes = probesWithNorm(withNorm(t.embeddings).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v")), coarse, nProbe)
    val local = Window.partitionBy(col("q_id"), col("pid"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    val global = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    assigned.join(broadcast(probes),
        col("cell") === col("pcell") && col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        cosineR(col("qv"), col("v"), col("qn2"), col("n2")).as("cos_r"))
      .withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(local))
      .filter(col("lrn") <= k)
      .withColumn("rank", row_number().over(global).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos_r"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** D6: MaxSim late-interaction scoring (the ColBERT shape): a
    * multi-vector QUERY (the first nQueryVecs embeddings) scored
    * against multi-vector DOCUMENTS (each label's vector group) as
    * Σ over query vectors of (max over the doc's vectors of cosine) —
    * retrieval where a document matches if EVERY facet of the query
    * finds some strong vector in it, not just the centroid.
    *
    * Scale shape: the query vectors broadcast; the corpus streams past
    * them in ONE narrow pass (no corpus shuffle); the per-(label, q)
    * max and per-label sum are two hash aggregations whose keys are
    * label-bounded (tiny), both map-side combined. The per-query maxes
    * are r6-rounded and summed through DECIMAL(18,6) so the final
    * score is order-independent and engine-portable.
    */
  def annMaxsim(t: Tables, nQueryVecs: Int = 8): DataFrame = {
    val e = withNorm(t.embeddings)
    val q = e.filter(col("vec_id") < nQueryVecs)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    e.crossJoin(broadcast(q))
      .select(col("label"), col("q_id"),
        cosineR(col("qv"), col("v"), col("qn2"), col("n2")).as("cos_r"))
      .groupBy(col("label"), col("q_id"))
      .agg(max(col("cos_r")).as("best"))
      .groupBy(col("label"))
      .agg(
        (sum(col("best").cast(DecimalType(18, 6))).cast("double")).as("maxsim_r"),
        count(lit(1)).as("n_query_vecs"))
      .orderBy(col("maxsim_r").desc, col("label"))
  }

  /** Deterministic seeded centroid set: the `nCenters` vectors with the
    * smallest md5 hash of `"centroid:" + vec_id` — a content-free,
    * engine-portable stand-in for an offline-trained quantizer (the
    * oracle picks the identical set with the same md5 ordering). Cell
    * ids are the rank in that hash order. Collected to the driver:
    * bounded by `nCenters` (a handful of rows — the same "quantizer is
    * trained once, then broadcast as literals" shape as annIvf's
    * clusterCenters), fetched via TakeOrderedAndProject (per-partition
    * top-k + driver merge, never a full range exchange).
    */
  private[graft] def hashCenters(t: Tables, nCenters: Int): Array[(Int, Seq[Double], Double)] =
    hashCentersOf(withNorm(t.embeddings), nCenters)

  /** [[hashCenters]] over a prepared (vec_id, v, n2) relation. */
  private def hashCentersOf(rel: DataFrame, nCenters: Int): Array[(Int, Seq[Double], Double)] = {
    rel
      .select(col("vec_id"), col("v"), col("n2"),
        graft.functions.Hashing.md5_60(
          concat(lit("centroid:"), col("vec_id").cast("string"))).as("ckey"))
      .orderBy(col("ckey"), col("vec_id")).limit(nCenters)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1), r.getDouble(2)) }
  }

  /** Rounds the deploy-arc quantizer (D4/D9/D10/D11/G12/G15) trains
    * for — small and fixed so every consumer and every oracle agrees;
    * the error-vs-rounds card (D45) is the evidence for the choice.
    */
  val TrainRounds: Int = 2

  /** Distributed Lloyd k-means to a BOUNDED number of rounds — the
    * real training loop behind the deploy-arc quantizer (r9 verdict
    * item 7; hashCenters alone is just the seed). Per round: (1)
    * assignment is withCell's shuffle-free literal-centers pass, (2)
    * the update is ONE (cell, dim)-keyed aggregate over the ×dim
    * narrow explode — exact integer sums on the 1e-6 micro lattice
    * (D20's relation), (3) the nCenters×dim mean rows collect to the
    * driver (BOUNDED artifact — this is the train-once/broadcast-as-
    * literals convention, never corpus data) and re-literalize as the
    * next round's centers. Cells left empty keep their previous
    * center (the COALESCE rule the oracle mirrors). Per-round cost at
    * 100 TB: one map pass + one nCenters·dim-row aggregate — Lloyd's
    * textbook distributed form.
    *
    * Returns the final centers plus one LAZY 1-row stats DataFrame
    * per round (n, SSE, mean dist² of the round's incoming
    * assignment) — [[embKmeansTrainCurve]] unions them into the
    * error-vs-rounds card; SSE is non-increasing round over round
    * (Lloyd's monotonicity, up to the 1e-6 center rounding —
    * spec-pinned on the corpus).
    */
  private[graft] def lloydTrain(t: Tables, nCenters: Int, rounds: Int):
      (Array[(Int, Seq[Double], Double)], Seq[DataFrame]) =
    lloydTrainOn(withNorm(t.embeddings), nCenters, rounds)

  /** [[lloydTrain]] over an arbitrary prepared relation (must expose
    * `vec_id`, `v`, `n2`) — D46 trains the residual-space PQ codebook
    * through this; the seed is the same md5 "centroid:" ordering (it
    * keys on vec_id only, so corpus- and residual-space training pick
    * the SAME seed rows — just in their respective spaces).
    */
  private[graft] def lloydTrainOn(rel: DataFrame, nCenters: Int, rounds: Int):
      (Array[(Int, Seq[Double], Double)], Seq[DataFrame]) = {
    val e = rel.select(col("vec_id"), col("v"), col("n2"))
    var centers = hashCentersOf(e, nCenters)
    val stats = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val asg = withCell(e, centers)
      val sse = sum(col("dist2_r").cast(DecimalType(18, 6))).cast("double")
      stats += asg.agg(count(lit(1)).as("n_vectors"), sse.as("sse_d"))
        .select(lit(r.toLong).as("round"), col("n_vectors"),
          r6(col("sse_d")).as("sse_r"),
          r6(col("sse_d") / col("n_vectors").cast("double")).as("mean_dist2_r"))
      val upd = asg
        .select(col("cell"),
          expr("transform(v, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))").as("vm"))
        .select(col("cell"), posexplode(col("vm")).as(Seq("dim", "xm")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(col("xm")).as("s"), count(lit(1)).as("n"))
        .collect() // nCenters × dim rows — bounded artifact
      val byCell: Map[Long, Seq[Double]] = upd
        .map(row => (row.getLong(0), row.getInt(1),
          // same division order as the oracle: (Σxm / n) / 1e6, then r6
          math.floor(row.getLong(2).toDouble / row.getLong(3).toDouble /
            1e6 * 1e6 + 0.5) / 1e6))
        .groupBy(_._1)
        .map { case (c, rows) => c -> rows.sortBy(_._2).map(_._3).toSeq }
      centers = centers.map { case (cell, cv, c2) =>
        byCell.get(cell.toLong) match {
          case Some(cv2) =>
            // c2 = left-fold sum of squares — the oracle's list_reduce
            (cell, cv2, cv2.foldLeft(0.0)((a, x) => a + x * x))
          case None => (cell, cv, c2) // empty cell: keep previous center
        }
      }
    }
    (centers, stats.result())
  }

  /** The Lloyd-trained quantizer the deploy arc consumes: [[lloydTrain]]
    * run in full on every call. A caller that needs the same centers
    * twice holds on to them and passes them on, as
    * `Sinks.writeIvfPqIndex` and the D46 family do. Training is
    * deterministic, so two calls over the same vectors agree; an
    * `embOverride` corpus trains on its own vectors. The single-step
    * pedagogy cards D7/D20/D21 and the prefix-law tuning sweeps
    * D37/D44 stay on the seed centers by design — hashCenters(n) ⊂
    * hashCenters(2n) does not survive training.
    */
  private[graft] def trainedCenters(t: Tables, nCenters: Int,
      rounds: Int = TrainRounds): Array[(Int, Seq[Double], Double)] =
    lloydTrain(t, nCenters, rounds)._1

  /** The corpus re-expressed in RESIDUAL space: each vector minus its
    * assigned coarse center (v − c_cell) — what IVFPQ actually
    * encodes (residuals are near-zero-mean and much lower-energy than
    * raw vectors, so the same PQ budget buys a finer grid). One
    * narrow literal-centers pass: assignment via withCell, the
    * subtraction a zip_with against the by-cell literal array — no
    * shuffle, no join.
    */
  private[graft] def residualRel(t: Tables,
      coarse: Array[(Int, Seq[Double], Double)]): DataFrame =
    residualRelOf(t.embeddings, coarse)

  /** [[residualRel]] over an arbitrary (vec_id, embedding) relation —
    * what lets the G30 index APPEND encode new arrivals with the
    * persisted quantizers instead of the corpus table.
    */
  private[graft] def residualRelOf(emb: DataFrame,
      coarse: Array[(Int, Seq[Double], Double)]): DataFrame =
    withCell(withNorm(emb), coarse)
      .select(col("vec_id"), col("cell"), minusCenter(coarse, col("cell")).as("v"))
      .withColumn("n2", VectorExprs.dot(col("v"), col("v")))

  /** `v − c_cell`: `v` minus the coarse center whose id is in `cell` —
    * the residual the corpus is encoded as and the query looks codes
    * up with. */
  private def minusCenter(coarse: Array[(Int, Seq[Double], Double)],
      cell: Column): Column = {
    val byCell = typedLit(coarse.sortBy(_._1).toSeq.map(_._2))
    zip_with(col("v"), element_at(byCell, cell.cast("int") + 1), (x, c) => x - c)
  }

  /** A probe relation (q_id, pcell, v, carry…) as the RPQ scorer's
    * (q_id, pcell, x, carry…): x is the query's residual against each
    * probed cell's center. Every residual-PQ search (D46, D49, D50, the
    * G26 index and the online server) probes through this. */
  private[graft] def residualProbes(probes: DataFrame,
      coarse: Array[(Int, Seq[Double], Double)]): DataFrame =
    probes.withColumn("x", minusCenter(coarse, col("pcell"))).drop("v")

  /** The residual-space PQ codebook D46 consumes: Lloyd-trained on
    * [[residualRel]] against the caller's `coarse` centers (same
    * rounds, same seed ordering — the seed keys on vec_id only, so it
    * picks the same rows' RESIDUALS). Every caller already holds the
    * coarse quantizer it encodes with, so the codebook is trained
    * against exactly those centers and coarse training runs once.
    */
  private[graft] def residualPqCenters(t: Tables,
      coarse: Array[(Int, Seq[Double], Double)], nCodes: Int,
      rounds: Int = TrainRounds): Array[(Int, Seq[Double], Double)] =
    lloydTrainOn(residualRel(t, coarse), nCodes, rounds)._1

  /** D45: the quantization-error-vs-rounds TRAINING curve — per Lloyd
    * round, the incoming assignment's n / SSE / mean dist² (round 1 =
    * the seed's error; the curve is the evidence that training the
    * G15 artifact buys real reconstruction quality and that
    * TrainRounds rounds suffice). Non-increasing by Lloyd's
    * monotonicity argument (each assignment is pointwise optimal vs
    * the incoming centers; each update is the cell-wise L2 minimizer),
    * exact up to the 1e-6 center-lattice rounding; the spec pins the
    * measured decrease. Cost: rounds × (one narrow corpus pass + one
    * nCenters·dim aggregate) — the training loop itself IS the card.
    */
  def embKmeansTrainCurve(t: Tables, nCenters: Int = 8, rounds: Int = 4): DataFrame = {
    val (_, stats) = lloydTrain(t, nCenters, rounds)
    stats.reduce(_ unionByName _)
  }

  /** The coarse-center distance kernel every IVF path shares: the r6'd
    * squared L2 from `v` to each center, in cell-id order, as ONE native
    * [[graft.functions.PqDists]] over the literal center array, paired
    * with the literal cell ids (BIGINT: the oracle's ROW_NUMBER cell).
    * The centers fold once into `double[]` reference objects, so the
    * generated code is constant in nCells (one struct per center
    * overflowed janino's 64 KB at 256 cells; CodegenSpec pins it) and
    * its text never depends on the center values: Lloyd rounds, the
    * residual pass, the encode and later searches all hit the codegen
    * cache.
    *
    * Oracle parity: PqDists folds x·x, x·c and ‖c‖² (from the center
    * itself — the same fold as the tuple's c2) in ascending order and
    * combines them as (x·x − 2·x·c) + ‖c‖², so finite rows are
    * bit-identical. A null `v` yields an array of nulls rather than
    * null, so both readers keep the oracle's answer for it: the lowest
    * cell, a null distance. A NaN element gives NaN distances, as the
    * oracle's r6 does; the cell is the lowest one.
    */
  private def centerDists(centers: Array[(Int, Seq[Double], Double)]): (Column, Column) = {
    val sorted = centers.sortBy(_._1).toSeq
    (coalesce(VectorExprs.pqDists(col("v"), typedLit(sorted.map(_._2))),
      array_repeat(lit(null).cast("double"), sorted.size)),
      typedLit(sorted.map(_._1.toLong)))
  }

  /** The `n` nearest centers to `v` as (dist2_r, cell) structs, nearest
    * first, ties to the lowest cell (struct order). */
  private[graft] def nearestCells(centers: Array[(Int, Seq[Double], Double)],
      n: Int): Column = {
    val (ds, cells) = centerDists(centers)
    slice(array_sort(arrays_zip(ds.as("dist2_r"), cells.as("cell"))), 1, n)
  }

  /** Adds a `cell` + `dist2_r` column: nearest (squared L2, 6dp-rounded,
    * ties → lowest cell id) of the literal center set. ONE narrow pass
    * over the [[centerDists]] kernel — no shuffle, no join. The argmin
    * is `array_position(ds, array_min(ds))` (the [[pqEncode]] argmin;
    * here the min is materialized once, in its own projection, and its
    * first occurrence is the lowest cell). The oracle expresses the same
    * argmin as a per-vector ROW_NUMBER window (correctness shape, not
    * scale shape).
    */
  private[graft] def withCell(e: DataFrame,
      centers: Array[(Int, Seq[Double], Double)]): DataFrame = {
    val (ds, cells) = centerDists(centers)
    e.withColumn("cell_ds", ds)
      .withColumn("cell_min", array_min(col("cell_ds")))
      .withColumn("cell", element_at(cells,
        coalesce(array_position(col("cell_ds"), col("cell_min")), lit(1L)).cast("int")))
      .withColumn("dist2_r", col("cell_min"))
      .drop("cell_ds", "cell_min")
  }

  /** D7: deterministic k-means-style cell assignment — every vector
    * labeled with its nearest centroid from the seeded hash-selected
    * center set (the coarse-quantization step under IVF, SemDeDup, and
    * cluster-balanced sharding, made oracle-checkable: annIvf's MLlib
    * k-means is not DuckDB-expressible, this quantizer is).
    *
    * Scale shape: centers are literals in one narrow codegen'd pass —
    * no shuffle, no join, no window over the corpus; the only non-map
    * work is the TakeOrdered center fetch (O(nCenters) rows to the
    * driver).
    */
  def embKmeansAssign(t: Tables, nCenters: Int = 8): DataFrame =
    withCell(withNorm(t.embeddings), hashCenters(t, nCenters))
      .select(col("vec_id"), col("label"), col("cell"), col("dist2_r"))

  /** D40: quantizer DRIFT card — per cell, the train-epoch vs
    * serve-epoch comparison that answers "is the persisted G15
    * quantizer stale?": assignment share delta (cells gaining or
    * losing population ⇒ the data distribution moved; D28's imbalance
    * warning becomes a TREND) and mean assigned distance delta (cells
    * whose members sit farther from their center than at train time ⇒
    * reconstruction/pruning quality is decaying — retrain before
    * recall quietly erodes). Epochs here are the deterministic
    * vec_id-parity split (in production: the training snapshot vs the
    * current corpus — same relation, two scans or one epoch column).
    *
    * Scale shape: D7's shuffle-free literal-centers assignment + ONE
    * #cells-key aggregate with conditional epoch sums; per-epoch
    * distance means DECIMAL-routed over r6'd dist2, zero-member
    * epochs null-guarded identically on both engines.
    */
  def embQuantizerDrift(t: Tables, nCenters: Int = 8): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val asg = embKmeansAssign(t, nCenters)
      .withColumn("epoch", pmod(col("vec_id"), lit(2)).cast("int"))
    def nOf(e: Int) = sum(when(col("epoch") === e, 1L).otherwise(0L))
    def dOf(e: Int) = sum(when(col("epoch") === e,
      col("dist2_r").cast(DecimalType(18, 6))).otherwise(lit(null)))
    val totals = asg.groupBy(col("cell"))
      .agg(nOf(0).as("n_train"), nOf(1).as("n_serve"),
        dOf(0).as("sd_train"), dOf(1).as("sd_serve"))
      .crossJoin(broadcast(asg.agg(
        nOf(0).as("tt_train"), nOf(1).as("tt_serve"))))
    def share(n: Column, tt: Column) = r6(n.cast("double") / tt.cast("double"))
    def meanD(sd: Column, n: Column) =
      when(n > 0L, r6(sd.cast("double") / n.cast("double")))
    totals.select(col("cell"), col("n_train"), col("n_serve"),
        share(col("n_train"), col("tt_train")).as("share_train_r"),
        share(col("n_serve"), col("tt_serve")).as("share_serve_r"),
        meanD(col("sd_train"), col("n_train")).as("mean_dist_train_r"),
        meanD(col("sd_serve"), col("n_serve")).as("mean_dist_serve_r"))
      .withColumn("share_delta_r",
        r6(col("share_serve_r") - col("share_train_r")))
      .withColumn("dist_delta_r",
        when(col("mean_dist_train_r").isNotNull && col("mean_dist_serve_r").isNotNull,
          r6(col("mean_dist_serve_r") - col("mean_dist_train_r"))))
  }

  /** D20: one Lloyd update round — the k-means TRAINING step paired
    * with D7's assignment: per (cell, dim), the exact micro-lattice
    * mean of the vectors assigned to that cell (the new centroid
    * coordinate). Assignment is D7's shuffle-free literal-centers
    * pass; the update is ONE (cell, dim)-keyed aggregate over the
    * ×dim narrow posexplode — integer sums on the 1e-6 lattice, so
    * the mean is order-independent and oracle-exact. Iterating
    * assignment → update → re-literalize IS distributed Lloyd at
    * 100 TB: per-round cost is a map pass plus a nCenters·dim-row
    * aggregate, with the quantizer persisted between rounds via G15.
    */
  def embKmeansUpdate(t: Tables, nCenters: Int = 8): DataFrame =
    withCell(withNorm(t.embeddings), hashCenters(t, nCenters))
      .select(col("cell"),
        expr("transform(v, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))").as("vm"))
      .select(col("cell"), posexplode(col("vm")).as(Seq("dim", "xm")))
      .groupBy(col("cell"), col("dim").cast("long").as("dim"))
      .agg(
        count(lit(1)).as("n_assigned"),
        r6(sum(col("xm")).cast("double") / count(lit(1)).cast("double") /
          lit(1e6)).as("coord_r"))

  /** D21: Lloyd round-2 reassignment — every vector's nearest centroid
    * among the DATA-DRIVEN round-1 means (D20's update relation), not
    * the literal seed centers: the step that closes the full
    * distributed k-means loop (D7 assign → D20 update → THIS reassign,
    * iterable). Because the new centers exist only at runtime they
    * broadcast as a #cells-row array relation (the D16 pattern) rather
    * than compile-time literals; distance is the same exact
    * ‖x‖²−2x·c+‖c‖² fold on both engines, r6'd with ties to the
    * lowest cell. One narrow pass over the corpus × a broadcast of
    * nCenters rows — no shuffle beyond D20's own aggregate.
    */
  def embKmeansReassign(t: Tables, nCenters: Int = 8): DataFrame = {
    val newCenters = embKmeansUpdate(t, nCenters)
      .groupBy(col("cell").as("ncell"))
      .agg(array_sort(collect_list(struct(col("dim"), col("coord_r").as("c")))).as("cs"))
      .select(col("ncell"), expr("transform(cs, s -> s.c)").as("cv"))
    val scored = withNorm(t.embeddings)
      .crossJoin(broadcast(newCenters))
      .select(col("vec_id"), col("label"), col("ncell"),
        r6(col("n2") - lit(2.0) * VectorExprs.dot(col("v"), col("cv")) +
          VectorExprs.dot(col("cv"), col("cv"))).as("dist2_r"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist2_r"), col("ncell"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("ncell").as("cell"), col("dist2_r"))
  }

  /** D23: per-dimension embedding statistics — mean and variance per
    * coordinate (the dead-dimension / whitening-prep sweep: a
    * near-zero-variance dimension wastes index space in every
    * distance). Variance is EXACT integer arithmetic on the micro
    * lattice: var·10¹² = (n·Σx² − (Σx)²) div n² — no
    * catastrophic-cancellation double path, no two-pass mean
    * subtraction; one ×dim narrow explode into a dim-keyed aggregate.
    * (Long bounds hold to ~10⁵ vectors/dim at unit scale; the 100 TB
    * swap is the same formula through DECIMAL(38,0).)
    */
  def embDimStats(t: Tables): DataFrame =
    t.embeddings
      .select(posexplode(expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"))
        .as(Seq("dim", "xm")))
      .groupBy(col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), sum(col("xm")).as("s1"),
        sum(col("xm") * col("xm")).as("s2"))
      .select(col("dim"), col("n"),
        r6(col("s1").cast("double") / col("n").cast("double") / lit(1e6)).as("mean_r"),
        r6(expr("(n * s2 - s1 * s1) div (n * n)").cast("double") / lit(1e12)).as("var_r"))

  /** D23: embedding covariance matrix (upper triangle) — the
    * distributed Gram-matrix pass behind PCA/whitening/anisotropy
    * diagnostics: cov(i,j) = (n·Σxᵢxⱼ − Σxᵢ·Σxⱼ)/n² on D3's exact
    * micro-lattice (BIGINT moment sums; `div`/`//` both truncate
    * toward zero, so the de-scale is engine-identical even for
    * negative covariances). Shape: one narrow d²/2-per-row explode
    * feeding ONE aggregate — partial aggregation collapses it map-side
    * to d(d+1)/2 groups per partition, so the only shuffle is
    * #groups × #partitions (2 080 rows at d=64) regardless of corpus
    * size. At 100 TB the same plan holds: swap the BIGINT moments to
    * DECIMAL(38,0) when n·(xm·ym·n) approaches 2⁶³ (here bounded at
    * ~1.3e18 at sf0.1's magnitudes).
    */
  def embCovariance(t: Tables): DataFrame = {
    val micro = t.embeddings.select(
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))")
        .as("vm"))
    micro
      .select(col("vm"), posexplode(col("vm")).as(Seq("i", "xa")))
      .select(col("i"), col("xa"), posexplode(col("vm")).as(Seq("j", "xb")))
      .filter(col("j") >= col("i"))
      .groupBy(col("i").cast("long").as("i"), col("j").cast("long").as("j"))
      .agg(count(lit(1)).as("n"), sum(col("xa")).as("sa"),
        sum(col("xb")).as("sb"), sum(col("xa") * col("xb")).as("sab"))
      .select(col("i"), col("j"),
        r6(expr("(n * sab - sa * sb) div (n * n)").cast("double") / lit(1e12))
          .as("cov_r"))
  }

  /** D24: power iteration for the top principal direction — two
    * distributed matrix-vector rounds over D23's covariance relation
    * (the PCA step after the Gram pass; at d=64 the matrix is 2 080
    * rows, but the SHAPE — symmetric-expand, join on j, aggregate on
    * i — is the one that scales to large d where the matrix itself is
    * distributed). All arithmetic is fixed-point BIGINT: the
    * covariance stays on its 1e-12 lattice, v₀ = 1⃗, and each round
    * truncate-rescales (div 1e9) so products stay < 2⁶³ — truncation
    * matches DuckDB's `//` exactly, so the iterate is bit-reproducible
    * across engines. The final normalization squares into DECIMAL
    * (Spark) / HUGEINT (DuckDB) — exact integers both sides — with ONE
    * double conversion at the sqrt. Sign is fixed by the deterministic
    * v₀. Eigenvector estimate r6'd; 2 rounds ≈ the dominant direction
    * for the anisotropy read (chain more rounds for tighter
    * convergence — same relation in, same relation out).
    */
  /** The D25/D26 shared chain: integer-lattice covariance (upper
    * triangle + symmetric expansion) and the two power-iteration
    * mat-vec rounds, ending at the UNNORMALIZED integer direction v2.
    */
  private def powerParts(t: Tables): (DataFrame, DataFrame, DataFrame) = {
    val micro = t.embeddings.select(
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))")
        .as("vm"))
    val upper = micro
      .select(col("vm"), posexplode(col("vm")).as(Seq("i", "xa")))
      .select(col("i"), col("xa"), posexplode(col("vm")).as(Seq("j", "xb")))
      .filter(col("j") >= col("i"))
      .groupBy(col("i").cast("long").as("i"), col("j").cast("long").as("j"))
      .agg(count(lit(1)).as("n"), sum(col("xa")).as("sa"),
        sum(col("xb")).as("sb"), sum(col("xa") * col("xb")).as("sab"))
      .select(col("i"), col("j"), expr("(n * sab - sa * sb) div (n * n)").as("cm"))
    val full = upper.unionByName(
      upper.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("cm")))
    val v1 = full.groupBy(col("i")).agg(sum(col("cm")).as("v1"))
      .select(col("i").as("k"), expr("v1 div 1000000000").as("v1s"))
    val v2 = full.join(v1, col("j") === col("k"))
      .groupBy(col("i")).agg(sum(col("cm") * col("v1s")).as("v2"))
    (upper, full, v2)
  }

  def embPowerIteration(t: Tables): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val (_, _, v2) = powerParts(t)
    val norm = v2.agg(
      sum(col("v2").cast(DecimalType(38, 0)) * col("v2").cast(DecimalType(38, 0)))
        .as("n2"))
      .select(sqrt(col("n2").cast("double")).as("norm"))
    v2.crossJoin(broadcast(norm))
      .select(col("i"), r6(col("v2").cast("double") / col("norm")).as("eig_r"))
  }

  /** D39: principal-direction PROJECTION card — every vector's scalar
    * coordinate along D26's dominant eigenvector, rolled up per label
    * (the separability read that closes the D25/D26/D34 chain: D34
    * says how much variance the direction carries, this says whether
    * LABELS separate along it — disjoint per-label projection ranges
    * ⇒ the dominant direction encodes the label, overlapping ranges
    * ⇒ it's nuisance variance to whiten away).
    *
    * Scale shape: the eigenvector is a #dims-bounded driver artifact
    * (the hashCenters convention) folded into a literal, so the
    * projection is ONE narrow codegen'd dot pass over the corpus —
    * no explode, no join; the rollup keys on #labels. Projections are
    * r6'd before the DECIMAL mean (identical sequential fold as the
    * oracle's list_reduce).
    */
  def embPcaProject(t: Tables): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val eig = embPowerIteration(t).orderBy(col("i")).collect()
      .map(_.getDouble(1)).toSeq // #dims rows — bounded driver artifact
    val proj = withNorm(t.embeddings)
      .select(col("label"),
        r6(VectorExprs.dot(col("v"), typedLit(eig))).as("proj_r"))
    proj.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("proj_r").cast(DecimalType(18, 6))).as("sp"),
        min(col("proj_r")).as("min_proj_r"),
        max(col("proj_r")).as("max_proj_r"))
      .select(col("label"), col("n_vectors"),
        r6(col("sp").cast("double") / col("n_vectors").cast("double"))
          .as("mean_proj_r"),
        col("min_proj_r"), col("max_proj_r"))
  }

  /** D34: explained-variance card — how much of the corpus's total
    * variance the D26 principal direction carries: the Rayleigh
    * quotient vᵀΣv/vᵀv along the power-iteration direction, over the
    * trace (Σ per-dim variance, the D23/D25 diagonal). THE
    * dimensionality read on top of D26: explained ≈ 1 says the
    * embedding space is effectively one-dimensional (anisotropy —
    * whiten before cosine); explained ≈ 1/dim says isotropic. Pairs
    * with D31: D31 asks "can I truncate by POSITION", this asks "is
    * there a single dominant DIRECTION".
    *
    * Determinism: v2 is D26's exact integer vector, de-scaled by an
    * integer div; vᵀΣv and vᵀv are exact decimal/HUGEINT sums over
    * the d² relation; the two divisions and the final ratio are the
    * only doubles — the lattice-unit (1e12) factors cancel in
    * explained_r. One #dims-bounded relation end to end beyond D25's
    * covariance pass.
    */
  def embExplainedVariance(t: Tables): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val (upper, full, v2) = powerParts(t)
    val vs = v2.select(col("i").as("vi"), expr("v2 div 1000000000").as("vsc"))
    val num = full
      .join(broadcast(vs.select(col("vi").as("ai"), col("vsc").as("va"))), col("i") === col("ai"))
      .join(broadcast(vs.select(col("vi").as("bj"), col("vsc").as("vb"))), col("j") === col("bj"))
      .agg(sum(col("cm").cast(dec) * col("va").cast(dec) * col("vb").cast(dec)).as("num"))
    val den = vs.agg(sum(col("vsc").cast(dec) * col("vsc").cast(dec)).as("den"))
    val tr = upper.filter(col("i") === col("j")).agg(sum(col("cm")).as("trace_e12"))
    num.crossJoin(broadcast(den)).crossJoin(broadcast(tr))
      .select(col("trace_e12"),
        r6(col("num").cast("double") / col("den").cast("double")).as("rayleigh_e12_r"),
        r6((col("num").cast("double") / col("den").cast("double")) /
          col("trace_e12").cast("double")).as("explained_r"))
  }

  /** D29: PQ quantization-error card — D27's read for the OTHER
    * compression: per subspace, mean/max squared distance to the
    * chosen code (D8's dist2_r IS the per-subspace reconstruction
    * error, so this is one aggregate over that relation). Next to D27
    * it answers PQ-vs-SQ8 for this corpus: m lookups at codebook
    * granularity vs per-axis 8-bit — whichever card shows less error
    * per stored byte wins the ADC path. Decimal-routed mean,
    * order-free max, #subspaces rollup.
    */
  def embPqError(t: Tables, m: Int = 8, nCodes: Int = 8): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    embPqCodes(t, m, nCodes)
      .groupBy(col("sub_j"))
      .agg(count(lit(1)).as("n"),
        r6(sum(col("dist2_r").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)).cast("double")).as("mean_dist2_r"),
        r6(max(col("dist2_r"))).as("max_dist2_r"))
      .orderBy(col("sub_j"))
  }

  /** D48: raw-PQ vs residual-PQ reconstruction error at the SAME code
    * budget (m × nCodes, both codebooks Lloyd-trained) — the measured
    * justification for D46: residuals carry less energy, so the
    * trained residual codebook should land a lower mean quantization
    * error than the raw one (spec-pinned). One narrow encode pass per
    * variant into a 1-row aggregate each; no shuffle beyond the two
    * global rollups.
    */
  def embRpqError(t: Tables, m: Int = 8, nCodes: Int = 8,
      nCells: Int = 16): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def card(codes: DataFrame, variant: String) = codes
      .agg(count(lit(1)).as("n"),
        r6(sum(col("dist2_r").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)).cast("double")).as("mean_dist2_r"))
      .select(lit(variant).as("variant"), col("n"), col("mean_dist2_r"))
    val raw = codeRows(pqEncode(withNorm(t.embeddings), trainedCenters(t, nCodes), m))
    val coarse = trainedCenters(t, nCells)
    val res = codeRows(pqEncode(residualRel(t, coarse),
      residualPqCenters(t, coarse, nCodes), m))
    card(raw, "pq_raw").unionByName(card(res, "pq_residual"))
  }

  /** D28: IVF cell-balance card (C24's health read for the vector
    * index): per cell, vector count + corpus share, plus the global
    * imbalance factor max/mean on every row. Probing cost under IVF is
    * proportional to the PROBED cells' sizes, so a hot cell (imbalance
    * ≫ 1) silently turns nProbe=4 into a near-scan — this is the
    * re-train-the-quantizer trigger (D21's Lloyd rounds are the fix).
    * One narrow assignment pass into a #cells aggregate; the
    * imbalance/share ride the ≤#cells rollup via a broadcast 1-row
    * total.
    */
  def annIvfImbalance(t: Tables, nCenters: Int = 8): DataFrame = {
    val byCell = withCell(withNorm(t.embeddings), hashCenters(t, nCenters))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
    val tot = byCell.agg(sum(col("n_vectors")).as("n_total"),
      max(col("n_vectors")).as("n_max"), count(lit(1)).as("n_cells"))
    byCell.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vectors"),
        r6(col("n_vectors").cast("double") / col("n_total").cast("double"))
          .as("share_r"),
        r6(col("n_max").cast("double") * col("n_cells").cast("double") /
          col("n_total").cast("double")).as("imbalance_r"))
      .orderBy(col("cell"))
  }

  /** D22: cell label purity — per D7 cell, the majority label and its
    * share (does the coarse quantizer respect label structure — the
    * eval that decides whether IVF cells can double as shards or
    * stratification units). One narrow assignment pass into a
    * #cells×#labels aggregate; the argmax/total windows ride that tiny
    * relation only.
    */
  def embClusterPurity(t: Tables, nCenters: Int = 8): DataFrame = {
    val byLab = withCell(withNorm(t.embeddings), hashCenters(t, nCenters))
      .groupBy(col("cell"), col("label")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("cell")).orderBy(col("n").desc, col("label").asc)
    byLab
      .withColumn("rn", row_number().over(w))
      .withColumn("cell_n", sum(col("n")).over(Window.partitionBy(col("cell"))))
      .filter(col("rn") === 1)
      .select(col("cell"), col("label").as("majority_label"),
        col("cell_n").as("n_vectors"), col("n").as("n_majority"),
        r6(col("n").cast("double") / col("cell_n").cast("double")).as("purity_r"))
  }

  /** D8: product-quantization codes — each vector split into `m`
    * subvectors, each assigned the nearest entry of its sub-codebook
    * (subvector slices of the hash-selected center vectors — the
    * deterministic, oracle-checkable stand-in for per-subspace-trained
    * codebooks). PQ is the 100 TB ANN memory story: m log2(nCodes)
    * bits per vector instead of 4·dim bytes (64-dim float → 8 bytes,
    * 32×), with asymmetric distance computed from the codes.
    *
    * Scale shape: codebooks are literals; the whole computation is one
    * narrow pass ([[pqEncode]]'s packed row, posexploded ×m — no
    * shuffle, no join; PlanSpec pins zero exchanges). One output row
    * per (vector, subspace) with the r6'd residual.
    */
  def embPqCodes(t: Tables, m: Int = 8, nCodes: Int = 8): DataFrame =
    embPqCodesWith(t, hashCenters(t, nCodes), m)

  /** Per-subspace literal codebook for PqDists: element i = code i's
    * subvector (hashCenters codes are already 0..n−1 in order). */
  private[graft] def subCodebook(centers: Array[(Int, Seq[Double], Double)],
      j: Int, dsub: Int): Column =
    typedLit(centers.sortBy(_._1).toSeq.map { case (_, cv, _) =>
      cv.slice(j * dsub, (j + 1) * dsub)
    })

  private[graft] def embPqCodesWith(t: Tables,
      centers: Array[(Int, Seq[Double], Double)], m: Int): DataFrame =
    codeRows(pqEncode(withNorm(t.embeddings), centers, m))

  /** The one PQ encoder: each row of a prepared relation (`vec_id`, `v`
    * and the `carry` columns — IVF callers carry the coarse `cell`) as
    * ONE row (vec_id, carry…, codes, dists), `codes` the nearest code per
    * subspace in sub_j order, `dists` its r6'd squared distance (the
    * per-subspace reconstruction error D8/D29/D48 report). The packed
    * row is what the G26 index persists and what [[ivfAdcScores]]
    * scans; [[codeRows]] turns it into the row-per-subspace cards.
    *
    * One native PqDists per subspace (loop codegen, constant bytecode —
    * the unrolled argmin blew janino's 64 KB method limit); argmin with
    * the lowest-code tiebreak is the first-occurrence
    * `array_position(ds, array_min(ds))`. One narrow pass, no shuffle. A
    * null `v` encodes as codes and dists of nulls.
    *
    * The minima are materialised once, in their own projection, and the
    * codes read them back: computing `array_min` inside both outputs
    * re-runs the O(nCodes) scan per subspace (CollapseProject keeps the
    * split, `dists` being a non-cheap alias referenced twice).
    */
  private[graft] def pqEncode(e: DataFrame,
      codebook: Array[(Int, Seq[Double], Double)], m: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val dsub = codebook.head._2.length / m
    require(dsub * m == codebook.head._2.length, s"dim must divide into $m subspaces")
    val ds = (0 until m).map { j =>
      VectorExprs.pqDists(slice(col("v"), j * dsub + 1, dsub), subCodebook(codebook, j, dsub))
    }
    val keep = col("vec_id") +: carry.map(col)
    e.select(keep :+ array(ds: _*).as("ds"): _*)
      .select(keep ++ Seq(col("ds"), transform(col("ds"), d => array_min(d)).as("dists")): _*)
      .select(keep ++ Seq(
        zip_with(col("ds"), col("dists"), (d, mn) => array_position(d, mn) - 1L).as("codes"),
        col("dists")): _*)
  }

  /** [[pqEncode]]'s packed rows as one (vec_id, sub_j, code, dist2_r) row
    * per (vector, subspace). */
  private def codeRows(packed: DataFrame): DataFrame =
    packed.select(col("vec_id"),
        posexplode(arrays_zip(col("codes"), col("dists"))).as(Seq("sub_j", "c")))
      .select(col("vec_id"), col("sub_j").cast("long").as("sub_j"),
        col("c.codes").as("code"), col("c.dists").as("dist2_r"))

  /** The corpus side of every residual-PQ search: coarse cell, residual
    * and residual-PQ codes of `emb` in one narrow pass, as (vec_id, cell,
    * codes) — what the G26 index persists (partitioned by `cell`) and
    * what G30 appends. */
  private[graft] def rpqCodesOf(emb: DataFrame,
      coarse: Array[(Int, Seq[Double], Double)],
      pqr: Array[(Int, Seq[Double], Double)], m: Int): DataFrame =
    pqEncode(residualRelOf(emb, coarse), pqr, m, carry = Seq("cell"))
      .select(col("vec_id"), col("cell"), col("codes"))

  /** D9: PQ asymmetric-distance ANN (ADC) — approximate top-k where
    * candidate distances come from the D8 CODES, not the raw vectors:
    * each query precomputes its per-(subspace, code) distance table
    * against the literal codebooks, and a candidate's distance is the
    * sum of m table lookups. This is why PQ exists at 100 TB — the
    * scoring pass reads m bytes per vector instead of 4·dim, and the
    * raw embeddings never leave storage.
    *
    * Scale shape: the code relation streams through a broadcast join
    * against the (nQueries × m × nCodes)-row distance table; the
    * per-(query, vector) sum partial-aggregates in place (a vector's m
    * code rows are colocated by construction) before the only shuffle;
    * top-k is the shared exact [[adcTopK]]. Per-cell distances are
    * r6'd and decimal-summed — order-independent, oracle-portable.
    *
    * D9 is the one ADC path not on [[ivfAdcScores]]: it has no coarse
    * cell, so the packed scorer's `cell` join key would be a literal,
    * which folds into a nested-loop join (PlanSpec "pq adc" forbids
    * one). Its equi-join keys are (sub_j, code) instead, over the one
    * encoder's output exploded to a row per subspace.
    */
  def annPqAdc(t: Tables, nQueries: Int = 8, k: Int = 5,
      m: Int = 8, nCodes: Int = 8): DataFrame =
    annPqAdcWith(t, trainedCenters(t, nCodes), nQueries, k, m)

  /** D9 off an externally trained/loaded quantizer (e.g.
    * [[graft.sources.Sinks.readQuantizer]]) — the deploy shape:
    * "trained offline, broadcast as literals" means the center set is
    * a persisted artifact read once, not re-derived per query. The PQ
    * sub-codebooks are DERIVED from the center set (subvector slices),
    * so the artifact is the single source of truth for D7/D8/D9 and
    * the G12 cell layout alike.
    */
  def annPqAdcWith(t: Tables, centers: Array[(Int, Seq[Double], Double)],
      nQueries: Int = 8, k: Int = 5, m: Int = 8): DataFrame = {
    val dsub = centers.head._2.length / m
    val codes = embPqCodesWith(t, centers, m)
      .select(col("vec_id"), col("sub_j"), col("code"))
    val perJ = (0 until m).map { j =>
      val xv = slice(col("v"), j * dsub + 1, dsub)
      struct(lit(j.toLong).as("sub_j"),
        VectorExprs.pqDists(xv, subCodebook(centers, j, dsub)).as("cs"))
    }
    val adc = withNorm(t.embeddings).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), explode(array(perJ: _*)).as("s"))
      .select(col("q_id"), col("s.sub_j").as("qsub_j"), posexplode(col("s.cs")))
      .select(col("q_id"), col("qsub_j"),
        col("pos").cast("long").as("qcode"), col("col").as("d_r"))
    val scored = codes.join(broadcast(adc),
        col("sub_j") === col("qsub_j") && col("code") === col("qcode") &&
          col("q_id") =!= col("vec_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("d_r").cast(DecimalType(18, 6))).cast("double").as("adc_dist_r"))
    adcTopK(scored, k)
  }

  /** D10: IVF-ADC — the FAISS IVFPQ search shape, composing D4's cell
    * pruning with D9's code-based scoring: the corpus is coarse-
    * quantized into `nCells` cells AND PQ-encoded in one narrow pass;
    * a query probes only its `nProbe` nearest cells and scores the
    * candidates there from their CODES (m table lookups per vector).
    * This is the full 100 TB ANN story in one operator: the scan reads
    * nProbe/nCells of the data (real I/O pruning when the corpus is
    * laid out with writeEmbeddingsByCell — the G12 partition dirs),
    * and what it reads is m bytes per vector, not 4·dim.
    *
    * Scale shape: cell assignment + encode are ONE literal-centers
    * narrow pass (no shuffle); probed cells per query come from an
    * array_sort over the per-center distance structs (narrow — no
    * window, the center set is literal); [[ivfAdcScores]] meets the
    * code stream with ONE broadcast of the (query, probed cell,
    * distance table) relation, the query's raw vector being its lookup
    * side; the exact [[adcTopK]] ranks. Both quantizers are the
    * seeded-hash artifact family (G15-persistable); coarse and PQ
    * center sets share the hash order by construction.
    */
  def annIvfAdc(t: Tables, nQueries: Int = 8, k: Int = 5, m: Int = 8,
      nCodes: Int = 8, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val coarse = trainedCenters(t, nCells)
    val pq = trainedCenters(t, nCodes)
    val codes = pqEncode(withCell(withNorm(t.embeddings), coarse), pq, m,
      carry = Seq("cell"))
    val probes = probeCells(t, coarse, nQueries, nProbe).withColumnRenamed("v", "x")
    adcTopK(ivfAdcScores(codes, probes, pq, m), k)
  }

  /** D11: IVF-ADC with exact re-ranking — the FAISS refine step: D10's
    * code-based scores pick a candidate POOL of `rerankR` per query
    * (m-byte reads over nProbe cells), and only those candidates are
    * re-scored with the exact squared L2 from raw vectors, top-k by
    * the exact distance. Recovers most of exact recall while bounding
    * raw-vector reads at nQueries × rerankR rows — the standard
    * accuracy/IO dial on top of D10.
    *
    * Scale shape: the pool is tiny and BROADCAST into the embeddings
    * scan (the corpus streams past it; only pool rows survive to the
    * rescore), the query vectors broadcast likewise; final top-k is
    * the two-stage exact pattern on a pool-bounded relation.
    */
  def annIvfRerank(t: Tables, nQueries: Int = 8, k: Int = 5, m: Int = 8,
      nCodes: Int = 8, nCells: Int = 16, nProbe: Int = 4,
      rerankR: Int = 20): DataFrame =
    exactRerankOf(t,
      annIvfAdc(t, nQueries, rerankR, m, nCodes, nCells, nProbe)
        .select(col("q_id"), col("vec_id")), nQueries, k)

  /** D47: the refine step over the RESIDUAL-PQ pool — D11's exact
    * rescore composed with D46's encode, completing the production
    * IVFPQ serving stack (coarse probe → residual codes → exact
    * refine). Same IO bound: raw vectors are read only for the
    * nQueries × rerankR pool rows.
    */
  def annIvfRpqRerank(t: Tables, nQueries: Int = 8, k: Int = 5, m: Int = 8,
      nCodes: Int = 8, nCells: Int = 16, nProbe: Int = 4,
      rerankR: Int = 20): DataFrame =
    exactRerankOf(t,
      annIvfRpq(t, nQueries, rerankR, m, nCodes, nCells, nProbe)
        .select(col("q_id"), col("vec_id")), nQueries, k)

  /** D49: recall@k of the residual-PQ stack vs the exact squared-L2
    * top-k — BOTH stages on one card (`adc` = D46 code-only ranks,
    * `refined` = D47 after the exact rescore), so the card shows what
    * the codes lose and how much the refine step buys back — the
    * accuracy ledger next to the stack's IO ledger (probe fraction ×
    * m bytes/vector). Ground truth is the same L2 metric the stack
    * ranks by (a cosine ground truth would conflate metric mismatch
    * with quantization loss).
    *
    * Scale shape: ground truth is the D1 brute-force shape (broadcast
    * queries, one corpus pass) — the EVALUATION cost, not the serving
    * cost; both approximate legs reuse the D46/D47 plans; recalls are
    * tiny per-query rollups of k-row joins.
    */
  def annRpqRecall(t: Tables, nQueries: Int = 8, k: Int = 5, m: Int = 8,
      nCodes: Int = 8, nCells: Int = 16, nProbe: Int = 4,
      rerankR: Int = 20): DataFrame = {
    val e = withNorm(t.embeddings).select(col("vec_id"), col("v"), col("n2"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id2"), col("v").as("qv"), col("n2").as("qn2"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("dist2_r").asc, col("vec_id").asc)
    // graded twice (adc + refined rows) — checkpoint the ≤ nQueries·k
    // exact ids so the brute-force corpus pass runs once, not per row
    val exact = Dedup.stableCheckpoint(
      e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("q_id2"))
        .select(col("q_id2").as("q_id"), col("vec_id"),
          r6(col("qn2") - lit(2.0) * VectorExprs.dot(col("qv"), col("v")) + col("n2"))
            .as("dist2_r"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("q_id"), col("vec_id")))
    def recallOf(approx: DataFrame, method: String) = exact
      .join(approx.select(col("q_id").as("q2"), col("vec_id").as("v2")),
        col("q_id") === col("q2") && col("vec_id") === col("v2"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("k_exact"), count(col("v2")).as("n_hits"))
      .select(lit(method).as("method"), col("q_id"), col("n_hits"),
        r6(col("n_hits").cast("double") / col("k_exact").cast("double"))
          .as("recall_r"))
    // both legs (D46 at k, D47 over its rerankR pool) probe ONE trained
    // quantizer pair and one encode
    val coarse = trainedCenters(t, nCells)
    val pqr = residualPqCenters(t, coarse, nCodes)
    val codes = rpqCodesOf(t.embeddings, coarse, pqr, m)
    def rpq(kk: Int) = annIvfRpqWith(t, coarse, pqr, codes, nQueries, kk, m, nProbe)
    val adc = rpq(k)
    val refined = exactRerankOf(t, rpq(rerankR).select(col("q_id"), col("vec_id")),
      nQueries, k)
    recallOf(adc, "adc").unionByName(recallOf(refined, "refined"))
  }

  /** D50: nprobe TUNING curve for the residual-PQ stack — D37's sweep
    * (what a QUERY chooses at runtime) run over D46's ADC scoring
    * instead of exact cosine: per nprobe level, mean recall@k vs the
    * exact-L2 top-k and mean corpus fraction scanned. Together with
    * D49 (fixed-level recall ledger) and D48 (codebook error) this is
    * the full tuning story for the production index: the operator
    * answers "what does one more probe buy and what does it cost".
    *
    * Scale shape: candidates tagged ONCE with their cell's probe rank
    * at the widest level (each vector lives in one cell ⇒ one row per
    * (q, vec)); every sweep level is a filter + per-level top-k over
    * that single relation — adding a level adds no scan. Ground truth
    * is the D1 brute-force shape (evaluation cost, not serving cost).
    */
  def annRpqNprobeTuning(t: Tables, nQueries: Int = 8, k: Int = 5,
      m: Int = 8, nCodes: Int = 8, nCells: Int = 16,
      probes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    val spark = t.spark
    val maxP = probes.max
    val coarse = trainedCenters(t, nCells)
    val pqr = residualPqCenters(t, coarse, nCodes)
    // probe list at the widest level, 1-based rank in probe order
    val pc = withNorm(t.embeddings).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"),
        posexplode(nearestCells(coarse, maxP)).as(Seq("pi", "p")), col("v"))
      .select(col("q_id"), (col("pi") + 1).cast("long").as("crank"),
        col("p.cell").as("pcell"), col("v"))
    // one scored row per (q, vec), carrying its cell's probe rank
    val scored = ivfAdcScores(rpqCodesOf(t.embeddings, coarse, pqr, m),
      residualProbes(pc, coarse), pqr, m)
    val levels = spark.range(1)
      .select(explode(typedLit(probes.map(_.toLong))).as("nprobe"))
    val wTop = Window.partitionBy(col("q_id"), col("nprobe"))
      .orderBy(col("adc_dist_r").asc, col("vec_id").asc)
    val topk = scored.crossJoin(broadcast(levels))
      .filter(col("crank") <= col("nprobe"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("nprobe"), col("vec_id"))
    // exact-L2 ground truth (the D49 convention — same metric)
    val e = withNorm(t.embeddings).select(col("vec_id"), col("v"), col("n2"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id2"), col("v").as("qv"), col("n2").as("qn2"))
    val wEx = Window.partitionBy(col("q_id"))
      .orderBy(col("dist2_r").asc, col("vec_id").asc)
    // two consumers (kx + hits) — checkpoint the ≤ nQueries·k exact
    // ids so the brute-force corpus pass runs once
    val exact = Dedup.stableCheckpoint(
      e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("q_id2"))
        .select(col("q_id2").as("q_id"), col("vec_id"),
          r6(col("qn2") - lit(2.0) * VectorExprs.dot(col("qv"), col("v")) + col("n2"))
            .as("dist2_r"))
        .withColumn("rank", row_number().over(wEx))
        .filter(col("rank") <= k)
        .select(col("q_id").as("eq"), col("vec_id").as("ev")))
    val kx = exact.groupBy(col("eq")).agg(count(lit(1)).as("k_exact"))
    val hits = topk.join(exact,
        col("q_id") === col("eq") && col("vec_id") === col("ev"))
      .groupBy(col("q_id"), col("nprobe")).agg(count(lit(1)).as("n_hits"))
    val sizes = withCell(withNorm(t.embeddings), coarse)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_c"))
    val total = t.embeddings.agg(count(lit(1)).as("n_total"))
    val scan = pc.select(col("q_id"), col("crank"), col("pcell"))
      .join(broadcast(sizes), col("pcell") === sizes("cell"))
      .crossJoin(broadcast(levels))
      .filter(col("crank") <= col("nprobe"))
      .groupBy(col("q_id"), col("nprobe")).agg(sum(col("n_c")).as("n_scan"))
    val scaffold = pc.select(col("q_id")).distinct().crossJoin(broadcast(levels))
    val perQ = scaffold
      .join(hits, Seq("q_id", "nprobe"), "left")
      .join(scan, Seq("q_id", "nprobe"))
      .join(kx, col("q_id") === col("eq")).crossJoin(broadcast(total))
      .select(col("q_id"), col("nprobe"),
        r6(coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("k_exact").cast("double")).as("recall_r"),
        r6(col("n_scan").cast("double") / col("n_total").cast("double"))
          .as("scan_frac_r"))
    perQ.groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("recall_r").cast(DecimalType(18, 6))).as("sr"),
        sum(col("scan_frac_r").cast(DecimalType(18, 6))).as("ss"))
      .select(col("nprobe"), col("n_queries"),
        r6(col("sr").cast("double") / col("n_queries").cast("double"))
          .as("mean_recall_r"),
        r6(col("ss").cast("double") / col("n_queries").cast("double"))
          .as("mean_scan_frac_r"))
  }

  /** The FAISS refine tail shared by D11/D47: exact squared-L2
    * rescoring of a tiny broadcast candidate pool, top-k by the exact
    * distance. The corpus streams past the broadcast pool — only pool
    * rows survive to the rescore.
    */
  private def exactRerankOf(t: Tables, pool: DataFrame,
      nQueries: Int, k: Int): DataFrame = {
    val e = withNorm(t.embeddings).select(col("vec_id"), col("v"), col("n2"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id2"), col("v").as("qv"), col("n2").as("qn2"))
    val exact = e.join(broadcast(pool), "vec_id")
      .join(broadcast(q), col("q_id") === col("q_id2"))
      .select(col("q_id"), col("vec_id"),
        r6(col("qn2") - lit(2.0) * VectorExprs.dot(col("qv"), col("v")) + col("n2"))
          .as("dist2_r"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("dist2_r").asc, col("vec_id").asc)
    exact
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("dist2_r"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** D46: IVF with RESIDUAL PQ — the full FAISS IVFPQ encode: vectors
    * are PQ-coded as residuals against their assigned coarse center
    * (r = v − c_cell) rather than raw, with the PQ codebook
    * Lloyd-trained in residual space ([[residualPqCenters]]).
    * Residuals are near-zero-mean and carry far less energy than raw
    * vectors, so the same m×nCodes budget buys a finer grid — the
    * reason production IVFPQ encodes residuals. A query's distance
    * table is computed per PROBED CELL from its own residual
    * (q − c_cell, [[residualProbes]]), so the table keys on (q, cell)
    * and the probe-set restriction rides the same broadcast join.
    *
    * Scale shape: assignment + residual + encode are ONE narrow
    * literal-centers pass (no shuffle); the nQueries·nProbe probe rows
    * with their distance tables are the one broadcast of
    * [[ivfAdcScores]]; the exact [[adcTopK]] ranks. Both codebooks are
    * bounded persisted-artifact material (G15 shape).
    */
  def annIvfRpq(t: Tables, nQueries: Int = 8, k: Int = 5, m: Int = 8,
      nCodes: Int = 8, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val coarse = trainedCenters(t, nCells)
    val pqr = residualPqCenters(t, coarse, nCodes)
    annIvfRpqWith(t, coarse, pqr, rpqCodesOf(t.embeddings, coarse, pqr, m),
      nQueries, k, m, nProbe)
  }

  /** Per-query probe set (q_id, pcell, v): the nProbe nearest coarse
    * cells under the withCell (r6 dist2, cell) tie rule — shared by
    * the in-query D10/D46 and G26's pruned index scan. */
  private[graft] def probeCells(t: Tables,
      coarse: Array[(Int, Seq[Double], Double)],
      nQueries: Int, nProbe: Int): DataFrame =
    probeCellsOf(
      withNorm(t.embeddings).filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("v")),
      coarse, nProbe)

  /** [[probeCells]] over an ARBITRARY (q_id, v) query relation, as
    * (q_id, carry…, pcell, v) — every IVF probe in graft, batch and
    * online, goes through this one [[nearestCells]] reader, so stream
    * probes are bit-identical to batch probes. */
  private[graft] def probeCellsOf(q: DataFrame,
      coarse: Array[(Int, Seq[Double], Double)], nProbe: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val keep = col("q_id") +: carry.map(col)
    q.select(keep ++ Seq(explode(nearestCells(coarse, nProbe)).as("p"), col("v")): _*)
      .select(keep ++ Seq(col("p.cell").as("pcell"), col("v")): _*)
  }

  /** [[probeCellsOf]] as the (q_id, qv, qn2, pcell) probe relation the
    * exact-cosine IVF paths join against. */
  private def probesWithNorm(q: DataFrame,
      coarse: Array[(Int, Seq[Double], Double)], nProbe: Int): DataFrame =
    probeCellsOf(q, coarse, nProbe)
      .select(col("q_id"), col("v").as("qv"),
        VectorExprs.dot(col("v"), col("v")).as("qn2"), col("pcell"))

  /** D46 against supplied artifacts: coarse centers, residual codebook
    * and a packed (vec_id, cell, codes) relation; raw embeddings are only
    * read for the query vectors. [[annIvfRpq]]'s core (D49 shares one
    * encode between its two legs through it).
    */
  private[graft] def annIvfRpqWith(t: Tables,
      coarse: Array[(Int, Seq[Double], Double)],
      pqr: Array[(Int, Seq[Double], Double)], codes: DataFrame,
      nQueries: Int, k: Int, m: Int, nProbe: Int): DataFrame =
    adcTopK(ivfAdcScores(codes,
      residualProbes(probeCells(t, coarse, nQueries, nProbe), coarse), pqr, m), k)

  /** The shared exact top-k tail over a scored (q_id, vec_id,
    * adc_dist_r) relation: one `row_number() <= k` window over q_id,
    * ties to the lowest vec_id. The shuffle still carries ≤ k rows per
    * (query, partition): Spark's InferWindowGroupLimit plans a partial
    * WindowGroupLimit below the exchange (PlanSpec "rank-window top-k"
    * and "index search" pin it), so a hand-written per-partition
    * pre-window would only add a sort and a stage.
    */
  private[graft] def adcTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("adc_dist_r").asc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("vec_id"),
        col("adc_dist_r"))
      .orderBy(col("q_id"), col("rank"))

  /** The one IVF-ADC scorer. `codes` is a packed (vec_id, cell, codes)
    * relation ([[pqEncode]] / the G26 index's `codes`); `probes` is
    * (q_id, pcell, x, carry…): per query and probed cell, the vector
    * whose distances to `codebook`'s sub-codewords form the lookup
    * table — the raw query for D10, its residual against the probed
    * cell's center ([[residualProbes]]) for residual PQ. Returns
    * (q_id, vec_id, adc_dist_r, carry…) for every candidate in a probed
    * cell other than the query itself; rank it with [[adcTopK]].
    *
    * Each probe row carries its [m][nCodes] distance table `dtab`, and
    * the probe relation is the ONE broadcast the code stream meets, on
    * `cell`; a candidate's distance is the sum of m lookups
    * dtab[j][codes[j]], each r6'd distance cast to DECIMAL(18, 6) so the
    * sum is exact and order-free (the oracle's law). One row per
    * candidate — no per-subspace rows, no grouped sum, no shuffle
    * before the top-k.
    *
    * A vector whose codes are NULL or hold a NULL (a NULL embedding
    * encodes so) and a query whose `x` is NULL score nothing: a NULL
    * distance would otherwise sort first in the top-k. The guard sits
    * here, not at encode time, so codes already on disk and G30
    * deliveries are covered too.
    */
  private[graft] def ivfAdcScores(codes: DataFrame, probes: DataFrame,
      codebook: Array[(Int, Seq[Double], Double)], m: Int): DataFrame = {
    val dsub = codebook.head._2.length / m
    val carry = probes.columns.filterNot(Set("q_id", "pcell", "x")).toSeq.map(col)
    val dtab = array((0 until m).map { j =>
      VectorExprs.pqDists(slice(col("x"), j * dsub + 1, dsub), subCodebook(codebook, j, dsub))
    }: _*)
    val perProbe = probes.filter(col("x").isNotNull)
      .select(Seq(col("q_id"), col("pcell"), dtab.as("dtab")) ++ carry: _*)
    // codes holding a NULL get a NULL join key, which matches nothing.
    // The guard sits in the key, not in a filter: a filter on `codes`
    // would be pushed below an in-query encode and run it twice per row
    val cell = when(forall(col("codes"), _.isNotNull), col("cell"))
    codes.join(broadcast(perProbe), cell === col("pcell") && col("vec_id") =!= col("q_id"))
      .select(Seq(col("q_id"), col("vec_id"),
        aggregate(zip_with(col("dtab"), col("codes"), (ds, c) => element_at(ds, c.cast("int") + 1)),
          lit(0).cast(DecimalType(38, 6)), (acc, d) => acc + d.cast(DecimalType(18, 6)))
          .cast("double").as("adc_dist_r")) ++ carry: _*)
  }

  /** D10 against the PERSISTED artifacts — the deploy form: the corpus
    * lives in the G12 cell layout (`Sinks.writeEmbeddingsByCell`), the
    * quantizer in the G15 parquet artifact, and the search never
    * touches the original embeddings table. The query vectors come from
    * the layout (filter on vec_id) and go through [[probeCellsOf]] in
    * ONE bounded collect (nQueries × nProbe rows) — a full-scan read
    * inside the scoring plan would defeat the pruning; the scan then
    * carries `cell IN (probed)` so Spark prunes non-probed cell
    * DIRECTORIES at planning time (PartitionFilters, spec-pinned):
    * nProbe/nCells of the bytes are all that is read, which is the
    * entire point of the layout. The probed cells are encoded with the
    * loaded centers and scored by [[ivfAdcScores]] against the local
    * probe relation, as [[annIvfAdc]] does in-query.
    */
  def annIvfAdcFromLayout(spark: org.apache.spark.sql.SparkSession,
      layoutPath: String, quantizerPath: String,
      nQueries: Int = 8, k: Int = 5, m: Int = 8, nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val centers = graft.sources.Sinks.readQuantizer(spark, quantizerPath)
    val layout = spark.read.parquet(layoutPath)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        col("cell").cast("long").as("cell"))
    val pcRows = probeCellsOf(layout.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("v")), centers, nProbe)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2))).toSeq
    val probed = pcRows.map(_._2).distinct
    val codes = pqEncode(layout.filter(col("cell").isin(probed: _*)), centers, m,
      carry = Seq("cell"))
    adcTopK(ivfAdcScores(codes, pcRows.toDF("q_id", "pcell", "x"), centers, m), k)
  }

  /** Per-dimension (min, max) quantization bounds — the SQ8 "training"
    * artifact. One aggregate pass over the posexploded corpus, collected
    * bounded at `dim` rows (64 here; the same trained-once-then-literal
    * shape as hashCenters, G15-persistable the same way).
    */
  private[graft] def sq8Bounds(t: Tables): (Seq[Double], Seq[Double]) = {
    val rows = withNorm(t.embeddings)
      .select(posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("d")).collect()
    (rows.map(_.getDouble(1)).toSeq, rows.map(_.getDouble(2)).toSeq)
  }

  /** The per-dimension SQ8 code: min(255, ⌊(x − mn)/(mx − mn)·256⌋) —
    * 256 equal cells with only x == mx clamped down, so the midpoint
    * reconstruction (c + ½)/256 is never more than a half-step off
    * (a ·255 quantizer against a /256 reconstruction drifts up to two
    * steps at the top of the range). Degenerate dimension → 0.
    */
  private def sq8Code(x: Column, mn: Column, mx: Column): Column =
    when(mx === mn, lit(0L))
      .otherwise(least(lit(255L),
        floor((x - mn) / (mx - mn) * lit(256.0)).cast("long")))

  /** D12: scalar-quantization codes (SQ8) — each dimension linearly
    * quantized to 8 bits against per-dimension corpus (min, max)
    * bounds. The other half of the compression story next to PQ (D8):
    * SQ8 keeps per-DIMENSION resolution (dim bytes per vector, 8× vs
    * float64 / 4× vs float32) where PQ trades dimensions for codebook
    * entries (m bytes); FAISS ships both because re-rank pools and
    * IVF fine-scoring want SQ8's cheap exact-ish reconstruction
    * (x̂ = mn + (code + ½)·(mx − mn)/256 — the emitted recon_r).
    *
    * Scale shape: bounds are 2·dim literals; coding is ONE narrow
    * codegen'd posexplode pass — no shuffle, no join. The only non-map
    * work is the bounded bounds aggregate (dim rows to the driver).
    */
  def embSq8Codes(t: Tables): DataFrame =
    embSq8CodesWith(t, sq8Bounds(t))

  /** D12 off an externally trained/loaded bounds artifact (e.g.
    * [[graft.sources.Sinks.readSq8Bounds]]) — the deploy shape: bounds
    * are computed once over a reference corpus and reused for every
    * subsequent encode, so codes stay comparable across corpus
    * versions (re-deriving bounds per batch would silently re-scale
    * every code).
    */
  def embSq8CodesWith(t: Tables, bounds: (Seq[Double], Seq[Double])): DataFrame = {
    val (mns, mxs) = bounds
    withNorm(t.embeddings)
      .select(col("vec_id"), posexplode(col("v")).as(Seq("d", "x")))
      .withColumn("mn", element_at(typedLit(mns), col("d") + 1))
      .withColumn("mx", element_at(typedLit(mxs), col("d") + 1))
      .select(col("vec_id"), col("d").cast("long").as("d"),
        sq8Code(col("x"), col("mn"), col("mx")).as("code"),
        r6(col("mn") + (sq8Code(col("x"), col("mn"), col("mx")).cast("double") + lit(0.5))
          * (col("mx") - col("mn")) / lit(256.0)).as("recon_r"))
  }

  /** D27: SQ8 reconstruction-error card — the "can I afford 8-bit"
    * decision next to D12: per dimension, mean and max |x − x̂| of the
    * midpoint reconstruction. Read against D23's per-dim variance it
    * says which dimensions the quantizer hurts (error scales with the
    * dim's range/256, so one fat-tailed dimension can dominate ADC
    * noise while the other 63 are fine). Same narrow encode pass as
    * D12 into a dim-keyed aggregate; means decimal-routed, max is
    * order-free — engine-deterministic.
    */
  def embSq8Error(t: Tables): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val (mns, mxs) = sq8Bounds(t)
    withNorm(t.embeddings)
      .select(posexplode(col("v")).as(Seq("d", "x")))
      .withColumn("mn", element_at(typedLit(mns), col("d") + 1))
      .withColumn("mx", element_at(typedLit(mxs), col("d") + 1))
      .withColumn("recon",
        col("mn") + (sq8Code(col("x"), col("mn"), col("mx")).cast("double") + lit(0.5))
          * (col("mx") - col("mn")) / lit(256.0))
      .withColumn("err", abs(col("x") - col("recon")))
      .groupBy(col("d").cast("long").as("d"))
      .agg(count(lit(1)).as("n"),
        r6(sum(col("err").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)).cast("double")).as("mean_abs_err_r"),
        r6(max(col("err"))).as("max_abs_err_r"))
  }

  /** D12b: SQ8 asymmetric-distance ANN — top-k by squared L2 between
    * the full-precision query and the CODE-reconstructed candidates
    * (x̂_d = mn_d + (code_d + ½)·(mx_d − mn_d)/256). What the scoring
    * pass reads per candidate is dim bytes of codes, not 8·dim of
    * doubles — SQ8's win over raw brute force, with better per-axis
    * fidelity than PQ's m lookups when re-ranking tight pools.
    *
    * Scale shape: candidate codes are computed in the same narrow pass
    * (no shuffle — the deploy shape reads them from the D12 artifact
    * instead); the tiny query side broadcasts into a nested-loop join
    * and the distance is one codegen'd fold over the zipped arrays
    * (sequential order, so the oracle's list_reduce reproduces it
    * bit-for-bit); top-k is the shared exact [[adcTopK]].
    */
  def annSq8Adc(t: Tables, nQueries: Int = 8, k: Int = 5): DataFrame =
    annSq8AdcWith(t, sq8Bounds(t), nQueries, k)

  /** D12b off a loaded bounds artifact — see [[embSq8CodesWith]]. */
  def annSq8AdcWith(t: Tables, bounds: (Seq[Double], Seq[Double]),
      nQueries: Int = 8, k: Int = 5): DataFrame = {
    val (mns, mxs) = bounds
    val dim = mns.length
    val codes = transform(sequence(lit(0), lit(dim - 1)), d => {
      val mn = element_at(typedLit(mns), d + 1)
      val mx = element_at(typedLit(mxs), d + 1)
      sq8Code(element_at(col("v"), d + 1), mn, mx)
    })
    val e = withNorm(t.embeddings)
    val cands = e.select(col("vec_id"), codes.as("codes"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val recon = transform(col("codes"), (c, i) => {
      val mn = element_at(typedLit(mns), i + 1)
      val mx = element_at(typedLit(mxs), i + 1)
      mn + (c.cast("double") + lit(0.5)) * (mx - mn) / lit(256.0)
    })
    val dist = r6(aggregate(
      zip_with(col("qv"), recon, (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x))
    val scored = cands.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), dist.as("adc_dist_r"))
    adcTopK(scored, k)
  }

  /** D3: per-label vector-norm statistics (codegen'd array math). */
  def embNormStats(t: Tables): DataFrame =
    withNorm(t.embeddings)
      .select(col("label"), r6(sqrt(col("n2"))).as("norm_r"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        min(col("norm_r")).as("min_norm"),
        max(col("norm_r")).as("max_norm"),
        (sum(col("norm_r").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)).cast("double")).as("avg_norm"))
      .orderBy(col("label"))

  /** D14: k-NN graph — every vector's top-k in-bucket cosine neighbors
    * (the input relation of graph-based dedup, label propagation, and
    * HNSW-style index builds; D2 answers one query, this materializes
    * the whole neighborhood structure). Candidates come from the
    * sign-LSH bucket equi-join, never all pairs; the destination side
    * is posting-capped (lowest vec_id, D2b's skew knob) so a dead-sign
    * bucket bounds at bucketCap·|bucket| candidate rows instead of
    * |bucket|², while every vector still appears as a source. The
    * per-source rank window keys on vec_id — corpus cardinality,
    * groups ≤ bucketCap by construction.
    */
  def annKnnGraph(t: Tables, k: Int = 3, bits: Int = 8, bucketCap: Int = 128): DataFrame =
    knnEdges(t, k, bits, bucketCap)
      .select(col("src"), col("rank"), col("dst"), col("cos_r"))

  /** The shared D14 edge builder: (src, rank, dst, cos_r, src_label,
    * dst_label) top-k in-bucket edges, posting-capped dst side.
    */
  private def knnEdges(t: Tables, k: Int, bits: Int, bucketCap: Int): DataFrame = {
    val e = withNorm(t.embeddings).withColumn("bucket", signBucket(col("v"), bits))
    val capW = Window.partitionBy(col("bucket")).orderBy(col("vec_id").asc)
    val corpus = e
      .withColumn("pn", row_number().over(capW))
      .filter(col("pn") <= bucketCap)
      .select(col("vec_id").as("dst"), col("v").as("dv"), col("n2").as("dn2"),
        col("label").as("dst_label"), col("bucket").as("bucket2"))
    val w = Window.partitionBy(col("src")).orderBy(col("cos_r").desc, col("dst").asc)
    e.select(col("vec_id").as("src"), col("v").as("sv"), col("n2").as("sn2"),
        col("label").as("src_label"), col("bucket"))
      .join(corpus, col("bucket") === col("bucket2") && col("src") =!= col("dst"))
      .select(col("src"), col("src_label"), col("dst"), col("dst_label"),
        cosineR(col("sv"), col("dv"), col("sn2"), col("dn2")).as("cos_r"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** D17: ANN recall evaluation — per-query recall@k of the sign-LSH
    * index (D2) against the exact brute-force top-k (D1), as a QUERY
    * (the index-quality monitor a production ANN deployment runs after
    * every rebuild; SimilaritySpec asserts recall laws once, this
    * makes the measurement a first-class relation). Both sides are
    * nQueries·k rows — the join and rollup are trivially small; cost
    * is the two feeders.
    */
  def annRecallEval(t: Tables, nQueries: Int = 8, k: Int = 3): DataFrame = {
    val exact = annTopkBruteforce(t, nQueries, k).select(col("q_id"), col("vec_id"))
    val approx = annLshBucketed(t, nQueries, k)
      .select(col("q_id").as("q2"), col("vec_id").as("v2"))
    exact.join(approx, col("q_id") === col("q2") && col("vec_id") === col("v2"), "left")
      .groupBy(col("q_id"))
      .agg(count(lit(1)).as("k_exact"), count(col("v2")).as("n_hits"))
      .select(col("q_id"), col("n_hits"),
        r6(col("n_hits").cast("double") / col("k_exact").cast("double")).as("recall_r"))
  }

  /** D18: kNN-graph clusters — connected components of the MUTUAL
    * k-nearest-neighbor graph above a cosine floor (the classic
    * kNN-graph clustering: mutuality kills the hub problem where one
    * central vector chains unrelated neighborhoods together). D14's
    * edge relation filtered + intersected with its own reverse, then
    * the shared C7 CC machinery (`Dedup.clusterPairs` — one CC
    * implementation for every pair family: jaccard, phash, and now
    * knn edges); canonical = lowest vec_id per component.
    */
  def embKnnClusters(t: Tables, k: Int = 3, threshold: Double = 0.6,
      bits: Int = 8, bucketCap: Int = 128, maxIter: Int = 20): DataFrame = {
    val e = knnEdges(t, k, bits, bucketCap)
      .filter(col("cos_r") >= threshold)
      .select(col("src"), col("dst"))
    val mutual = Dedup.stableCheckpoint(
      e.intersect(e.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") < col("dst"))
        .select(col("src").as("doc_a"), col("dst").as("doc_b")))
    Dedup.clusterPairs(mutual,
        t.embeddings.select(col("vec_id").as("doc_id")),
        maxIter, "emb_knn_clusters")
      .select(col("doc_id").as("vec_id"), col("cluster"), col("is_canonical"))
  }

  /** D16: per-label centroid distance — every vector's euclidean
    * distance to its own label's centroid (cluster cohesion / outlier
    * signal: a far-from-centroid vector is mislabeled or an outlier;
    * the centroids are native aggregates with an oracle). Embeddings
    * snap to an exact integer micro-unit lattice first so the per-
    * (label, dim) centroid sums are exact integer arithmetic (a
    * decimal cast of raw doubles rounds engine-specifically); the only
    * explode-volume shuffle is the (label, dim)-keyed sum with
    * map-side combine, centroids come back as a broadcast #labels-row
    * array relation, and the distance is three native codegen'd
    * graft_dot folds (‖x‖² − 2x·c + ‖c‖², same sequential fold order
    * as the oracle's list_reduce).
    */
  def embCentroidDist(t: Tables): DataFrame = {
    val micro = t.embeddings.select(col("vec_id"), col("label"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))")
        .as("vm"))
    val centroids = micro
      .select(col("label"), posexplode(col("vm")).as(Seq("dim", "xm")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("xm")).as("sm"), count(lit(1)).as("cnt"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("dim"),
        (col("sm").cast("double") / col("cnt").cast("double") / lit(1e6)).as("c")))).as("cs"))
      .select(col("label").as("clabel"), expr("transform(cs, s -> s.c)").as("cv"))
    val dist2 =
      call_function("graft_dot", col("xd"), col("xd")) -
        lit(2.0) * call_function("graft_dot", col("xd"), col("cv")) +
        call_function("graft_dot", col("cv"), col("cv"))
    micro
      .withColumn("xd", expr("transform(vm, x -> CAST(x AS DOUBLE) / 1000000.0)"))
      .join(broadcast(centroids), col("label") === col("clabel"))
      .select(col("vec_id"), col("label"),
        // greatest(0, ·): dist² can land a hair below zero in float
        // for a vector that IS the centroid; both engines compute the
        // identical doubles, the clamp just keeps sqrt real
        r6(sqrt(greatest(lit(0.0), dist2))).as("dist_r"))
  }

  /** D15: k-NN label prediction — majority vote over D14's top-k
    * neighborhood (the label-propagation / weak-labeling read on the
    * graph: "does embedding locality predict the label", and a
    * quality check on the embedding space itself). Vote counting is a
    * (src, label) aggregate over the k·n edge relation; the argmax
    * window keys on src — corpus cardinality, ≤ #labels rows per
    * group. Deterministic tiebreak: most votes, then lowest label.
    */
  def annLabelKnn(t: Tables, k: Int = 5, bits: Int = 8, bucketCap: Int = 128): DataFrame = {
    val w = Window.partitionBy(col("src")).orderBy(col("votes").desc, col("dst_label").asc)
    knnEdges(t, k, bits, bucketCap)
      .groupBy(col("src"), col("src_label"), col("dst_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("src"), col("dst_label").as("pred_label"), col("votes"),
        col("src_label").as("actual_label"),
        (col("dst_label") === col("src_label")).cast("int").as("is_correct"))
  }

  /** D18: embedding outliers — vectors beyond their label's p95
    * centroid distance (the mislabeled/corrupt-embedding sweep run
    * before training on a labeled embedding set). Builds on D16's
    * exact distance relation; the per-label cutoff is a #labels-row
    * aggregate broadcast back — no per-label window, no second scan of
    * the embedding table. Cutoffs r4-rounded on both engines so an
    * interpolation ulp can't flip a boundary vector.
    */
  /** D19: PageRank over the k-NN graph — centrality on the embedding
    * neighborhood graph (hub documents / prototypical vectors surface
    * at the top; isolates decay toward the teleport floor). The
    * iterative-join shape IS the Spark pattern for graph algorithms at
    * scale: each of the `iters` rounds is one src-keyed equi-join of
    * the (persisted, src-partitioned) edge relation against the
    * current rank vector plus one dst-keyed aggregate — no
    * whole-graph state on any single node, unlike vertex-centric
    * frameworks. Arithmetic is an exact integer 1e-12 lattice with
    * floor division at every step (damping 0.85; dangling mass is
    * dropped by declared semantics, so ranks sum to < 1), which makes
    * the recursion bit-reproducible on both engines — no accumulated
    * float drift across iterations.
    */
  def annPagerank(t: Tables, iters: Int = 3, k: Int = 3, bits: Int = 8,
      bucketCap: Int = 128): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val edges0 = knnEdges(t, k, bits, bucketCap).select(col("src"), col("dst"))
      .repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    edges0.count() // materialize once before the iteration fan-out
    try {
      val outdeg = edges0.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      val edges = edges0.join(outdeg, "src")
      val nodes = t.embeddings.select(col("vec_id"))
      val nRow = nodes.agg(count(lit(1)).as("n"))
      var ranks = nodes.crossJoin(broadcast(nRow))
        .select(col("vec_id"), expr("CAST(1000000000000 AS BIGINT) div n").as("pr"))
      for (_ <- 1 to iters) {
        val inflow = edges.join(ranks, edges("src") === ranks("vec_id"))
          .select(col("dst"), expr("(85 * pr) div (100 * outdeg)").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
        ranks = nodes.crossJoin(broadcast(nRow))
          .join(inflow, nodes("vec_id") === inflow("dst"), "left")
          .select(nodes("vec_id"),
            (expr("(15 * (CAST(1000000000000 AS BIGINT) div n)) div 100") +
              coalesce(col("inflow"), lit(0L))).as("pr"))
      }
      Dedup.stableCheckpoint(
        ranks.select(col("vec_id"), col("pr").as("pr_e12")))
    } finally edges0.unpersist(true)
  }

  def embOutliers(t: Tables, pct: Double = 0.95): DataFrame = {
    val d = embCentroidDist(t)
    val cuts = d.groupBy(col("label").as("cl"))
      .agg(r4(expr(s"percentile(dist_r, $pct)")).as("cutoff_r"))
    d.join(broadcast(cuts), col("label") === col("cl"))
      .filter(col("dist_r") > col("cutoff_r"))
      .select(col("vec_id"), col("label"), col("dist_r"), col("cutoff_r"))
  }

  /** D33: kNN hubness — each vector's IN-degree in the directed kNN
    * graph (how many other vectors count it among their k nearest).
    * The classic high-dimensional pathology read (Radovanović et al.):
    * in-degree concentrates on a few hub vectors as dimensionality
    * grows, and hubs poison label propagation (D15), kNN clustering
    * (D24) and graph-ranked curation — the down-weight/re-embed list
    * is exactly this relation's tail. Mean in-degree is k by
    * construction; the MAX and the zero-in-degree (antihub) count are
    * the health numbers.
    *
    * Scale shape: ONE dst-keyed aggregate over the already-bounded
    * D14 edge relation (k·n rows), left-joined back to the corpus id
    * universe for the antihub zeros — no new corpus pass beyond D14's.
    */
  def annHubness(t: Tables, k: Int = 3, bits: Int = 8, bucketCap: Int = 128): DataFrame = {
    val indeg = knnEdges(t, k, bits, bucketCap)
      .groupBy(col("dst").as("vec_id"))
      .agg(count(lit(1)).as("in_degree"))
    t.embeddings.select(col("vec_id"))
      .join(indeg, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"))
  }

  /** D32: triangle count + local clustering coefficient over the
    * MUTUAL kNN graph — the graph-analytics read next to D24's
    * components and D19's PageRank: a node whose neighbors also
    * neighbor each other (clustering → 1) sits in a tight semantic
    * cluster; high degree with clustering → 0 is a hub chaining
    * unrelated regions (the vector worth re-embedding or down-
    * weighting before graph-based curation trusts its edges).
    *
    * Scale shape: the mutual edge relation is degree-bounded by
    * construction (≤ k per node), so the triangle closure — the
    * classic two-join edge closure e(a,b)⋈e(b,c)⋈e(a,c) — has join
    * fan-out ≤ k per edge and candidate volume ≤ k·|E|, never n²;
    * ordered triples (a<b<c on an src<dst edge list) count each
    * triangle exactly once. Per-node rollups ride the tiny edge
    * relation.
    */
  def annTriangles(t: Tables, k: Int = 5, threshold: Double = 0.0,
      bits: Int = 8, bucketCap: Int = 128): DataFrame = {
    val e = knnEdges(t, k, bits, bucketCap)
      .filter(col("cos_r") >= threshold)
      .select(col("src"), col("dst"))
    val m = Dedup.stableCheckpoint(
      e.intersect(e.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") < col("dst")))
    val tri = m.select(col("src").as("a"), col("dst").as("b"))
      .join(m.select(col("src").as("b2"), col("dst").as("c")), col("b") === col("b2"))
      .join(m.select(col("src").as("a3"), col("dst").as("c3")),
        col("a") === col("a3") && col("c") === col("c3"))
      .select(col("a"), col("b"), col("c"))
    val perNode = tri.select(col("a").as("vec_id"))
      .unionAll(tri.select(col("b").as("vec_id")))
      .unionAll(tri.select(col("c").as("vec_id")))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_triangles"))
    val deg = m.select(col("src").as("vec_id"))
      .unionAll(m.select(col("dst").as("vec_id")))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("degree"))
    deg.join(perNode, Seq("vec_id"), "left")
      .select(col("vec_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          r6(lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double")))
          .as("clustering_r"))
  }

  /** D31: prefix-energy curve — the "can I truncate the embeddings"
    * card (the Matryoshka/MRL read): for each prefix length d, the
    * corpus distribution of ‖v[:d]‖²/‖v‖² — the cosine-mass a
    * d-dimensional truncation retains per vector. A high mean with a
    * high min says a d-dim index (¼ the bytes, ¼ the ADC work) serves
    * most queries; a fat low tail names the vectors a truncated index
    * would mis-rank. Read next to D23's per-dimension variance (which
    * dims carry energy) and D27/D29 (the quantization alternatives to
    * truncation).
    *
    * Scale shape: ONE narrow codegen'd pass — each row emits
    * #prefixes structs (energy ratio = two in-row fixed-order folds,
    * deterministic per row), then a #prefixes-key aggregate; per-row
    * ratios are 6dp-rounded so the decimal-routed mean is
    * order-independent (the E38 convention), min is order-free.
    */
  def embEnergyCurve(t: Tables,
      prefixes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    val e = withNorm(t.embeddings)
    val cands = prefixes.map { d =>
      struct(lit(d.toLong).as("prefix_dim"),
        r6(VectorExprs.dot(slice(col("v"), 1, d), slice(col("v"), 1, d)) /
          col("n2")).as("energy_r"))
    }
    e.select(explode(array(cands: _*)).as("s"))
      .select(col("s.prefix_dim").as("prefix_dim"), col("s.energy_r").as("energy_r"))
      .groupBy(col("prefix_dim"))
      .agg(count(lit(1)).as("n_vectors"),
        r6(sum(col("energy_r").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1)).cast("double")).as("mean_energy_r"),
        min(col("energy_r")).as("min_energy_r"))
      .orderBy(col("prefix_dim"))
  }

  /** D36: maximum-inner-product top-k via the norm-augmentation
    * reduction (Shrivastava & Li, NIPS'14 / Neyshabur & Srebro,
    * ICML'15): with M = max corpus norm, augmenting data vectors to
    * [x, √(M²−‖x‖²)] and queries to [q, 0] makes every transformed
    * data norm exactly M, so transformed cosine = q·x / (‖q‖·M) —
    * a per-query monotone map of the raw inner product. Ranking by
    * the transformed cosine IS the MIPS ranking, and — the point of
    * the reduction — the whole cosine-ANN toolkit (D2 sign-LSH
    * buckets, D4 IVF, D35 binary sketches) now applies to inner-
    * product retrieval (recommendation scores, un-normalized
    * retrieval logits) unchanged.
    *
    * Scale shape: M is a ONE-ROW broadcast aggregate (max of a
    * per-row sqrt — order-free); scoring is the same broadcast-query
    * single corpus pass as D1 with two-stage top-k. The card carries
    * the raw dot next to the transformed cosine so the monotonicity
    * that licenses the reduction is visible in the output.
    */
  def annMipsTopk(t: Tables, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val e = withNorm(t.embeddings)
    val mx = e.agg(max(sqrt(col("n2"))).as("m_norm"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    val local = Window.partitionBy(col("q_id"), col("pid"))
      .orderBy(col("aug_cos_r").desc, col("vec_id").asc)
    val global = Window.partitionBy(col("q_id"))
      .orderBy(col("aug_cos_r").desc, col("vec_id").asc)
    e.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .crossJoin(broadcast(mx))
      .withColumn("dot", dot(col("qv"), col("v")))
      .withColumn("dot_r", r6(col("dot")))
      .withColumn("aug_cos_r", r6(col("dot") / (sqrt(col("qn2")) * col("m_norm"))))
      .withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(local))
      .filter(col("lrn") <= k)
      .withColumn("rank", row_number().over(global).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("dot_r"), col("aug_cos_r"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** D35: binary-sketch ANN — sign-binarize each embedding into 64
    * bits (two 32-bit words, so neither engine touches the BIGINT
    * sign bit), prefilter candidates by Hamming distance on the
    * sketch, then exact-cosine rerank the survivors to top-k. The
    * classical 32×-compression search path: the Hamming scan reads
    * 16 bytes/vector instead of 512, and only the ≤`hamMax` tail
    * (~3% at 24/64 on random data) ever touches the float vector.
    *
    * Scale shape: the packed words ride the same broadcast-query
    * single corpus pass as D1 (no shuffle of the corpus); `bit_count`
    * over XOR is a codegen'd integer op, so the prefilter is the
    * cheapest per-row test in the family; exact rerank cost is
    * bounded by the Hamming tail, and the two-stage top-k keeps the
    * final shuffle at O(k · partitions). At 100 TB the sketch column
    * is what you'd persist (16 B/vector) and scan; the float
    * vectors page in only for candidates.
    */
  def annHammingRerank(t: Tables, nQueries: Int = 8, k: Int = 5,
      hamMax: Int = 24): DataFrame = {
    val e = withNorm(t.embeddings)
      .withColumn("b_lo", signBucketAt(col("v"), 32, 0))
      .withColumn("b_hi", signBucketAt(col("v"), 32, 32))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"),
        col("b_lo").as("qb_lo"), col("b_hi").as("qb_hi"))
    val ham = (bit_count(col("b_lo").bitwiseXOR(col("qb_lo"))) +
      bit_count(col("b_hi").bitwiseXOR(col("qb_hi")))).cast("long")
    val local = Window.partitionBy(col("q_id"), col("pid"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    val global = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    e.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .withColumn("hamming", ham)
      .filter(col("hamming") <= hamMax)
      .withColumn("cos_r", cosineR(col("qv"), col("v"), col("qn2"), col("n2")))
      .withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(local))
      .filter(col("lrn") <= k)
      .withColumn("rank", row_number().over(global).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("hamming"), col("cos_r"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** D38: MMR-diversified top-k (maximal marginal relevance,
    * Carbonell-Goldstein): greedy re-ranking of the top-`poolM`
    * relevance pool — each step picks argmax of λ·cos(q,d) −
    * (1−λ)·max_{s∈S} cos(d,s) — so the returned k trade relevance
    * against redundancy (the retrieval-side cousin of C11 semdedup:
    * instead of deleting near-duplicates from the corpus, stop
    * returning them twice). First pick is pure relevance.
    *
    * Scale shape: the DISTRIBUTED work is D1's bounded top-poolM pool;
    * the greedy is inherently sequential per query but runs on a
    * poolM-row group (flatMapGroups), with the poolM² pairwise cosines
    * computed in-group — never a corpus-volume stage. At 100 TB this
    * is the standard two-phase retrieval: ANN narrows to a pool, MMR
    * re-ranks the pool.
    *
    * Determinism: all cosines r6'd (the same sequential dot fold as
    * the oracle's list_reduce); the objective is exact dyadic algebra
    * over r6'd values (λ = 0.5), ties break on vec_id; the oracle
    * unrolls the k greedy steps as chained CTEs (the A70/E47 unrolled
    * recursion pattern).
    */
  def annMmrDiversify(t: Tables, nQueries: Int = 8, k: Int = 5,
      poolM: Int = 20, lambda: Double = 0.5): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val pool = annTopkBruteforce(t, nQueries, poolM)
      .select(col("q_id"), col("vec_id"), col("cos_r"))
    val vecs = withNorm(t.embeddings)
      .select(col("vec_id").as("vid"), col("v"), col("n2"))
    val cand = pool.join(vecs, col("vec_id") === col("vid"))
      .select(col("q_id"), col("vec_id"), col("cos_r"), col("v"), col("n2"))
      .as[(Long, Long, Double, Seq[Double], Double)]
    val out = cand.groupByKey(_._1).flatMapGroups { (q, it) =>
      def r6d(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
      val rows = it.toArray.sortBy(r => (-r._3, r._2))
      val vs = rows.map(_._4.toArray)
      val n2s = rows.map(_._5)
      def pairCos(i: Int, j: Int): Double = {
        var s = 0.0
        var d = 0
        val a = vs(i); val b = vs(j)
        while (d < a.length) { s += a(d) * b(d); d += 1 }
        r6d(s / (math.sqrt(n2s(i)) * math.sqrt(n2s(j))))
      }
      val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
      val emitted = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Double, Double)]
      if (rows.nonEmpty) {
        selected += 0
        emitted += ((q, 1L, rows(0)._2, rows(0)._3, rows(0)._3))
        var rank = 2
        while (rank <= k && selected.length < rows.length) {
          var bestI = -1
          var bestScore = Double.NegativeInfinity
          rows.indices.foreach { i =>
            if (!selected.contains(i)) {
              var maxsim = Double.NegativeInfinity
              selected.foreach { j => maxsim = math.max(maxsim, pairCos(i, j)) }
              val score = lambda * rows(i)._3 - (1.0 - lambda) * maxsim
              if (score > bestScore ||
                  (score == bestScore && bestI >= 0 && rows(i)._2 < rows(bestI)._2)) {
                bestScore = score; bestI = i
              }
            }
          }
          selected += bestI
          emitted += ((q, rank.toLong, rows(bestI)._2, rows(bestI)._3, r6d(bestScore)))
          rank += 1
        }
      }
      emitted.iterator
    }.toDF("q_id", "rank", "vec_id", "cos_r", "mmr_r")
    out
  }

  /** D37: IVF nprobe-tuning card — recall@k AND scanned-corpus
    * fraction per nprobe level, the curve an operator reads to pick
    * nprobe before a 100 TB run (the IVF analog of C20's banding
    * curve: recall is what you buy, scan fraction is what you pay).
    *
    * One sweep, ONE candidate join: candidates are generated once at
    * the LARGEST level with each probed cell's rank attached, and a
    * level's candidate set is just `cell_rank <= nprobe` — so adding
    * sweep points costs a filter, not another scan (the same
    * prefix-reuse trick the banding card uses). Ground truth is D1's
    * exact top-k; both feeders are nQueries-bounded, every rollup
    * after the candidate join runs on (nQueries × levels)-cardinality
    * relations, and cell sizes / corpus total ride broadcast
    * aggregates. Per-query recalls and scan fractions are r6'd before
    * the DECIMAL mean so the card is engine-deterministic.
    */
  def annNprobeTuning(t: Tables, nQueries: Int = 8, k: Int = 3,
      nCells: Int = 16, probes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    val spark = t.spark
    val maxP = probes.max
    val coarse = hashCenters(t, nCells)
    val assigned = withCell(withNorm(t.embeddings), coarse)
      .select(col("vec_id"), col("v"), col("n2"), col("cell"))
    // (q_id, cell, crank): the query's probe list at the largest level,
    // 1-based rank in probe order — nQueries × maxP rows.
    val probesRel = withNorm(t.embeddings).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"),
        posexplode(nearestCells(coarse, maxP)).as(Seq("pi", "p")))
      .select(col("q_id"), col("qv"), col("qn2"),
        (col("pi") + 1).cast("long").as("crank"), col("p.cell").as("pcell"))
    val levels = spark.range(1)
      .select(explode(typedLit(probes.map(_.toLong))).as("nprobe"))
    // Scored candidates tagged with their cell's probe rank (each
    // vector lives in exactly one cell, so one row per (q, vec)).
    val cands = assigned.join(broadcast(probesRel),
        col("cell") === col("pcell") && col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("crank"), col("vec_id"),
        cosineR(col("qv"), col("v"), col("qn2"), col("n2")).as("cos_r"))
    val wTop = Window.partitionBy(col("q_id"), col("nprobe"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    val topk = cands.crossJoin(broadcast(levels))
      .filter(col("crank") <= col("nprobe"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("nprobe"), col("vec_id"))
    // two consumers (kx + hits) — checkpoint the ≤ nQueries·k exact
    // ids so the brute-force corpus pass runs once
    val exact = Dedup.stableCheckpoint(annTopkBruteforce(t, nQueries, k)
      .select(col("q_id").as("eq"), col("vec_id").as("ev")))
    val kx = exact.groupBy(col("eq")).agg(count(lit(1)).as("k_exact"))
    val hits = topk.join(exact,
        col("q_id") === col("eq") && col("vec_id") === col("ev"))
      .groupBy(col("q_id"), col("nprobe")).agg(count(lit(1)).as("n_hits"))
    val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_c"))
    val total = assigned.agg(count(lit(1)).as("n_total"))
    val scan = probesRel.select(col("q_id"), col("crank"), col("pcell"))
      .join(broadcast(sizes), col("pcell") === sizes("cell"))
      .crossJoin(broadcast(levels))
      .filter(col("crank") <= col("nprobe"))
      .groupBy(col("q_id"), col("nprobe")).agg(sum(col("n_c")).as("n_scan"))
    val scaffold = probesRel.select(col("q_id")).distinct().crossJoin(broadcast(levels))
    val perQ = scaffold
      .join(hits, Seq("q_id", "nprobe"), "left")
      .join(scan, Seq("q_id", "nprobe"))
      .join(kx, col("q_id") === col("eq")).crossJoin(broadcast(total))
      .select(col("q_id"), col("nprobe"),
        r6(coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("k_exact").cast("double")).as("recall_r"),
        r6(col("n_scan").cast("double") / col("n_total").cast("double"))
          .as("scan_frac_r"))
    perQ.groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("recall_r").cast(DecimalType(18, 6))).as("sr"),
        sum(col("scan_frac_r").cast(DecimalType(18, 6))).as("ss"))
      .select(col("nprobe"), col("n_queries"),
        r6(col("sr").cast("double") / col("n_queries").cast("double"))
          .as("mean_recall_r"),
        r6(col("ss").cast("double") / col("n_queries").cast("double"))
          .as("mean_scan_frac_r"))
  }

  /** D41: GRAPH-based ANN search — the greedy beam search that powers
    * HNSW/NSG, expressed over the D14 kNN graph: every query starts
    * at one fixed entry vertex (the minimum vec_id — HNSW's fixed
    * entry point), and each round expands the current beam's
    * out-edges, scores the new candidates against the query, and
    * keeps the best `beam` visited vertices (ties → lowest vec_id);
    * after `rounds` hops the per-query top-k of the beam is the
    * answer. The search cost is O(rounds · beam · kGraph) VECTOR
    * scores per query versus D1's full corpus scan — the whole point
    * of graph ANN at 100 TB.
    *
    * Scale shape: the frontier relation is ≤ nQueries·beam rows per
    * round; it BROADCASTS into the edge relation (equi-join on src)
    * and the candidate ids broadcast into the corpus vector relation
    * (equi-join on vec_id) — each round is two narrow broadcast
    * probes, never a corpus shuffle. Beam maintenance is a window
    * keyed on q_id (query-cardinality — corpus-scale key in
    * production). Rounds are unrolled lazily into ONE plan (a fixed
    * small constant, not data-dependent), and the oracle unrolls the
    * identical rounds as chained CTEs.
    *
    * Determinism: cosines r6'd (cosineR); beam and final ranks break
    * ties on vec_id; the UNION dedups on identical r6'd scores.
    */
  /** D42: graph REACHABILITY card — BFS hop-distance histogram from
    * D41's fixed entry vertex over the D14 kNN graph, plus the
    * unreached count (hop = −1). The entry-point health read an
    * operator takes BEFORE trusting D41's beam search: a big hop=−1
    * row means the graph is fragmented (dead LSH buckets, isolated
    * islands) and greedy search silently misses those regions —
    * the known failure mode of HNSW-style graphs, fixed by adding
    * entry points or raising graph degree.
    *
    * Scale shape: `maxHops` is a small FIXED constant (the card probes
    * the entry neighborhood, not the transitive closure — the full
    * closure is D24's job via pointer-jumping CC). Each round is an
    * equi-join of the current frontier against the degree-bounded
    * (≤k·n) edge relation + an anti-join against the visited set —
    * shuffles bounded by |frontier|·k, never corpus². The frontier is
    * referenced TWICE per round (expansion + visited union), so each
    * layer truncates lineage through `stableCheckpoint` (the CC/
    * PageRank round discipline, reliable-dir knob included) — lazy
    * unrolling here would copy the round-1 subtree 2^maxHops times;
    * the edge relation checkpoints ONCE and is probed by every round.
    *
    * Determinism: BFS layers are set-valued (no scores), counts exact.
    */
  def annGraphReach(t: Tables, maxHops: Int = 6, kGraph: Int = 3,
      bits: Int = 8, bucketCap: Int = 128, nTables: Int = 4): DataFrame = {
    // default = the connected multi-table union D41 searches on;
    // nTables = 1 keeps the single-table graph as the fragmentation
    // probe this card originally diagnosed (D42b)
    val edges = Dedup.stableCheckpoint(
      (if (nTables <= 1) knnEdges(t, kGraph, bits, bucketCap)
       else knnEdgesMulti(t, kGraph, bits, nTables, bucketCap))
        .select(col("src"), col("dst")))
    val ids = t.embeddings.select(col("vec_id"))
    val entry = ids.agg(min(col("vec_id")).as("vec_id"))
    var vis = entry.select(col("vec_id"), lit(0L).as("hop"))
    var frontier = entry.select(col("vec_id"))
    for (r <- 1 to maxHops) {
      val nxt = Dedup.stableCheckpoint(
        frontier.join(edges, col("vec_id") === col("src"))
          .select(col("dst").as("vec_id")).distinct()
          .join(vis.select(col("vec_id").as("seen")),
            col("vec_id") === col("seen"), "left_anti"))
      vis = vis.unionByName(nxt.select(col("vec_id"), lit(r.toLong).as("hop")))
      frontier = nxt
    }
    val reached = vis.groupBy(col("hop")).agg(count(lit(1)).as("n_vertices"))
    val unreached = ids.agg(count(lit(1)).as("n_total"))
      .crossJoin(broadcast(vis.agg(count(lit(1)).as("n_reached"))))
      .select(lit(-1L).as("hop"), (col("n_total") - col("n_reached")).as("n_vertices"))
    reached.unionByName(unreached)
  }

  /** D44: IVF nlist TUNING card — D37 sweeps nprobe (what a QUERY
    * pays); this sweeps the OTHER IVF knob, the cell count the INDEX
    * is built with: per candidate nlist, mean quantization error
    * (mean dist² to the assigned center — what more cells buy),
    * max cell share (the straggler/skew bound a partition-per-cell
    * layout inherits — what more cells cost when they go unused), and
    * empty-cell count. Read together with D28 (imbalance at the
    * chosen size) and D40 (drift after deployment) before a G12/G15
    * index build.
    *
    * Scale shape: each sweep point is D7's SHUFFLE-FREE literal-center
    * assignment (one narrow codegen'd pass; centers are a
    * driver-bounded artifact) into a #cells-row rollup — no joins, no
    * corpus shuffle anywhere; sweep cost is linear in #sizes with no
    * cross-size state. Decimal-routed error sums (two-level decimal
    * sums are exact, so the oracle's one-level sum is bit-identical).
    */
  def annNlistTuning(t: Tables, sizes: Seq[Int] = Seq(4, 8, 16)): DataFrame = {
    val e = withNorm(t.embeddings).select(col("vec_id"), col("v"), col("n2"))
    val per = sizes.map { nc =>
      val asg = withCell(e, hashCenters(t, nc))
      val cells = asg.groupBy(col("cell")).agg(count(lit(1)).as("n"),
        sum(col("dist2_r").cast(DecimalType(18, 6))).as("sd"))
      cells.agg(
          sum(col("n")).as("total"),
          max(col("n")).as("max_n"),
          count(lit(1)).as("n_used"),
          sum(col("sd")).as("sdist"))
        .select(lit(nc.toLong).as("n_cells"),
          r6(col("sdist").cast("double") / col("total").cast("double"))
            .as("mean_dist2_r"),
          r6(col("max_n").cast("double") / col("total").cast("double"))
            .as("max_share_r"),
          (lit(nc.toLong) - col("n_used")).as("n_empty_cells"))
    }
    per.reduce(_ unionByName _)
  }

  /** D41 default rides the CONNECTED `nTables`-table edge union
    * (knnEdgesMulti) — the repo's own D42 card measured the
    * single-table graph at 1992/2000 vertices unreachable from the
    * entry point at sf0.1 (in-bucket joins never cross buckets), and
    * a beam search over a 0.4%-reachable corpus is oracle-correct but
    * recall-useless. `nTables = 1` recovers the single-table graph
    * (D42's fragmentation probe).
    */
  def annGraphSearch(t: Tables, nQueries: Int = 8, beam: Int = 8,
      rounds: Int = 3, k: Int = 5, kGraph: Int = 3, bits: Int = 8,
      bucketCap: Int = 128, nTables: Int = 4): DataFrame = {
    val e = withNorm(t.embeddings)
    val edges =
      (if (nTables <= 1) knnEdges(t, kGraph, bits, bucketCap)
       else knnEdgesMulti(t, kGraph, bits, nTables, bucketCap))
        .select(col("src"), col("dst"))
    val beamW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    // truncate = false (r16, reverting r15): measured at BOTH scales,
    // the lazy 3-round unroll (2^3 subtree copies, deduped by exchange
    // reuse at execution) beats three eager per-round checkpoint jobs —
    // sf0.1 min 4.24 s lazy vs 4.94 s truncated, sf1 5.84 vs 8.12 s
    // (−28%). The D43/D52/D53 sweeps keep truncation: they pay the
    // unroll PER SWEEP POINT, which is where it actually compounds.
    beamSearch(e, edges, nQueries, beam, rounds, truncate = false)
      .withColumn("rank", row_number().over(beamW).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos_r"))
  }

  /** D52: LAYERED graph search — the HNSW insight adapted to what the
    * D42 card proved about this graph family: the flat D41 search
    * enters at one global min-id vertex, so every query pays the full
    * walk from an arbitrary corner of ONE component. Here a COARSE
    * layer — the deterministic 1/sampleMod vertex sample with its own
    * multi-table kNN graph — is searched first, and the query's WHOLE
    * final coarse beam seeds layer 0. The plural matters and was
    * probe-measured, not assumed: the bucketed kNN graphs are
    * fragmented, so the ≤beam1 coarse vertices land in up to beam1
    * DIFFERENT layer-0 components — top-1 seeding measured BELOW the
    * flat search (0.10 vs 0.15 recall@5 at sf0.1) because it strands
    * the walk in the coarse winner's component, while full-beam
    * seeding measured 0.25 at the shipped defaults (sampleMod=8,
    * beam1=8, rounds1=4) — a 67% recall improvement over flat D41 at
    * the same layer-0 beam. Same output shape as D41.
    *
    * Scale shape: the coarse layer is the same bucketed edge build on
    * N/sampleMod vertices (cost shrinks superlinearly — fewer
    * postings per bucket too) + a bounded beam search; layer 0 is
    * D41's plan unchanged with a per-query seed relation instead of a
    * cross-joined global entry (both are ≤nQueries·beam1-row
    * broadcasts). Both beams are truncated per round (each is
    * referenced twice per round; the D43 lesson).
    */
  def annGraphSearchLayered(t: Tables, nQueries: Int = 8, beam: Int = 8,
      rounds: Int = 3, k: Int = 5, kGraph: Int = 3, bits: Int = 8,
      bucketCap: Int = 128, nTables: Int = 4, sampleMod: Int = 8,
      beam1: Int = 8, rounds1: Int = 4): DataFrame = {
    val e = withNorm(t.embeddings)
    val es = e.filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0L)
    val edges1 = Dedup.stableCheckpoint(
      knnEdgesMultiOf(es, kGraph, bits, nTables, bucketCap)
        .select(col("src"), col("dst")))
    val edges0 = Dedup.stableCheckpoint(
      knnEdgesMulti(t, kGraph, bits, nTables, bucketCap)
        .select(col("src"), col("dst")))
    val ent1 = es.agg(min(col("vec_id")).as("vec_id"))
    val seeds1 = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id")).crossJoin(broadcast(ent1))
    val beamW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    // the WHOLE final coarse beam seeds layer 0, not just its best
    // vertex: the bucketed kNN graphs are fragmented (D42), and beam1
    // coarse vertices land in up to beam1 DIFFERENT layer-0
    // components — a single entry point strands the walk in one of
    // them (probed: top-1 seeding measured BELOW the flat search)
    val ent0 = beamSearchFrom(e, edges1, nQueries, seeds1, beam1, rounds1,
        truncate = true)
      .select(col("q_id"), col("vec_id"))
    beamSearchFrom(e, edges0, nQueries, ent0, beam, rounds, truncate = true)
      .withColumn("rank", row_number().over(beamW).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos_r"))
  }

  /** The D41 search core: greedy beam over `edges` from the fixed
    * min-vec_id entry vertex; returns the final visited beam
    * (q_id, vec_id, cos_r) — ≤ `beam` rows per query.
    */
  private def beamSearch(e: DataFrame, edges: DataFrame, nQueries: Int,
      beam: Int, rounds: Int, truncate: Boolean = false): DataFrame = {
    val entry = e.agg(min(col("vec_id")).as("vec_id"))
    val seeds = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id")).crossJoin(broadcast(entry))
    beamSearchFrom(e, edges, nQueries, seeds, beam, rounds, truncate)
  }

  /** [[beamSearch]] with caller-supplied per-query SEED vertices —
    * what the layered (HNSW-shaped) search needs: layer 1 hands each
    * query its own entry point instead of the one global min-id
    * vertex. `seeds` is a (q_id, vec_id) relation, ≥1 row per query.
    */
  private def beamSearchFrom(e: DataFrame, edges: DataFrame, nQueries: Int,
      seeds: DataFrame, beam: Int, rounds: Int,
      truncate: Boolean = false): DataFrame =
    beamSearchQRel(e,
      e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2")),
      edges, seeds, beam, rounds, truncate)

  /** [[beamSearchFrom]] with an ARBITRARY query relation (q_id, qv,
    * qn2) — graph-index APPEND (Sinks G39) searches the index for
    * each arriving vector's neighbors, and arriving ids are not
    * `< nQueries`.
    */
  private[graft] def beamSearchQRel(e: DataFrame, q: DataFrame,
      edges: DataFrame, seeds: DataFrame, beam: Int, rounds: Int,
      truncate: Boolean = false): DataFrame = {
    val corpus = e.select(col("vec_id"), col("v"), col("n2"))
    def scoreIds(ids: DataFrame): DataFrame =
      corpus.join(broadcast(ids), Seq("vec_id"))
        .join(broadcast(q), Seq("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosineR(col("qv"), col("v"), col("qn2"), col("n2")).as("cos_r"))
    val beamW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    var vis = scoreIds(seeds.select(col("q_id"), col("vec_id")))
    for (_ <- 1 to rounds) {
      // the (<= nQueries*beam)-row frontier BROADCASTS into the big
      // edge relation — at 100 TB edges are k*corpus rows and a
      // sort-merge here would shuffle them every round (PlanSpec pin)
      // no distinct on the expansion: duplicate candidates score to
      // bit-identical rows and the union's distinct collapses them —
      // one shuffle per round instead of two
      val expd = broadcast(vis.select(col("q_id"), col("vec_id")))
        .join(edges, col("vec_id") === col("src"))
        .select(col("q_id"), col("dst").as("vec_id"))
      val cand = vis.unionByName(scoreIds(expd)).distinct()
      vis = cand.withColumn("rn", row_number().over(beamW))
        .filter(col("rn") <= beam).drop("rn")
      // the beam is referenced twice next round (expansion + union), so
      // a lazy unroll copies this round's subtree 2^remaining times;
      // D43 sweeps beams x rounds and pays that exponent per sweep
      // point — it truncates each (<= nQueries*beam)-row beam instead.
      // D41 keeps the single lazy plan (3 rounds = 8 copies, cheap).
      if (truncate) vis = Dedup.stableCheckpoint(vis)
    }
    vis
  }

  /** [[beamSearch]] variant that ALSO returns the full set of
    * candidates the search SCORED — (q_id, vec_id, cos_r) distinct
    * over the entry vertex and every round's expansion. The scored set
    * is the graph method's true scan volume (each scored candidate
    * cost one raw-vector read), which is what makes D51's cross-method
    * recall comparison honest. Both the beam and the accumulator are
    * truncated per round (stableCheckpoint) — each is referenced twice
    * per round, and a lazy unroll would copy subtrees 2^rounds times
    * (the D43 lesson).
    */
  private[graft] def beamSearchVisited(e: DataFrame, edges: DataFrame,
      nQueries: Int, beam: Int, rounds: Int): (DataFrame, DataFrame) = {
    val entry = e.agg(min(col("vec_id")).as("vec_id"))
    val seeds = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id")).crossJoin(broadcast(entry))
    beamSearchVisitedFrom(e, edges, nQueries, seeds, beam, rounds)
  }

  /** [[beamSearchVisited]] with caller-supplied seeds — the layered
    * leg of D51 tracks its true scan volume through this. */
  private[graft] def beamSearchVisitedFrom(e: DataFrame, edges: DataFrame,
      nQueries: Int, seeds: DataFrame, beam: Int,
      rounds: Int): (DataFrame, DataFrame) = {
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    val corpus = e.select(col("vec_id"), col("v"), col("n2"))
    def scoreIds(ids: DataFrame): DataFrame =
      corpus.join(broadcast(ids), Seq("vec_id"))
        .join(broadcast(q), Seq("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosineR(col("qv"), col("v"), col("qn2"), col("n2")).as("cos_r"))
    val beamW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    var vis = Dedup.stableCheckpoint(
      scoreIds(seeds.select(col("q_id"), col("vec_id"))).distinct())
    // ONE eager checkpoint per round (r15 optimization): the round's
    // corpus-scoring pass rides the checkpointed UNION (old beam ∪
    // newly scored expansion), and the beam is a LAZY window over that
    // tiny materialized frame — re-evaluating it per consumer costs a
    // ≤(beam + expansion)-row sort, never a corpus re-scan. The old
    // shape checkpointed the scored frame AND the beam separately: two
    // eager jobs per round where one carries the same information.
    // Equivalence: vis_r = top-beam(vis_{r-1} ∪ sc_r) is unchanged, and
    // the visited union over the cand frames is the same row set (every
    // beam row is already a member of an earlier frame; distinct
    // collapses bit-identical score rows).
    val frames = Seq.newBuilder[DataFrame]
    frames += vis
    for (_ <- 1 to rounds) {
      val expd = broadcast(vis.select(col("q_id"), col("vec_id")))
        .join(edges, col("vec_id") === col("src"))
        .select(col("q_id"), col("dst").as("vec_id"))
      // ONE eager checkpoint EVERY round. The r16 snapshot tried
      // checkpointing every other round ("half the eager jobs") — a
      // back-to-back `graft.Probe time` A/B measured ann_method_recall ~1.6-2×
      // SLOWER with the lazy gap (min 18.6→29.5 s at sf0.1, control-
      // normalized ~2×): the skipped round's un-truncated subtree is
      // consumed twice by the next round (expansion + union), and the
      // corpus-side scoring join under it is NOT an exchange, so
      // nothing dedupes it at execution. Reverted to per-round.
      val cand = Dedup.stableCheckpoint(vis.unionByName(scoreIds(expd)).distinct())
      frames += cand
      vis = cand.withColumn("rn", row_number().over(beamW))
        .filter(col("rn") <= beam).drop("rn")
    }
    (vis, frames.result().reduce(_ unionByName _).distinct())
  }

  /** Multi-table kNN edge union — `nTables` independent sign-LSH
    * tables (disjoint dimension slices, D2b's construction), top
    * `kPerTable` in-bucket cosine neighbors per (src, table), union'd
    * and deduped. The SINGLE-table D14 graph provably never crosses
    * buckets (edges come from in-bucket joins), so its components are
    * bucket subsets — D42 measures the resulting fragmentation.
    * Independent tables chain buckets together: two vectors sharing
    * EITHER slice's sign pattern connect, which is how NSW-style
    * graphs buy global connectivity without all-pairs work.
    */
  private[graft] def knnEdgesMulti(t: Tables, kPerTable: Int, bits: Int,
      nTables: Int, bucketCap: Int): DataFrame =
    knnEdgesMultiOf(withNorm(t.embeddings), kPerTable, bits, nTables, bucketCap)

  /** [[knnEdgesMulti]] over an arbitrary normed relation — the layered
    * search builds its coarse layer's graph over a SAMPLED vertex set
    * through this. */
  private[graft] def knnEdgesMultiOf(e: DataFrame, kPerTable: Int, bits: Int,
      nTables: Int, bucketCap: Int): DataFrame =
    knnEdgesMultiCosOf(e, kPerTable, bits, nTables, bucketCap)
      .select(col("src"), col("dst"))

  /** [[knnEdgesMultiOf]] keeping the r6'd cosine on each edge — the
    * NN-descent seed needs scores (the refinement keeps the best kOut
    * per vertex, so seed edges must compare against newly scored
    * candidates). cos_r is functionally determined by (src, dst), so
    * the triple-distinct equals the pair-distinct.
    */
  private[graft] def knnEdgesMultiCosOf(e: DataFrame, kPerTable: Int, bits: Int,
      nTables: Int, bucketCap: Int): DataFrame = {
    val postings = e.select(col("vec_id"), col("v"), col("n2"),
      posexplode(array((0 until nTables).map(i =>
        signBucketAt(col("v"), bits, i * bits)): _*)).as(Seq("tbl", "bucket")))
    val capW = Window.partitionBy(col("tbl"), col("bucket")).orderBy(col("vec_id").asc)
    val corpus = postings
      .withColumn("pn", row_number().over(capW))
      .filter(col("pn") <= bucketCap)
      .select(col("vec_id").as("dst"), col("v").as("dv"), col("n2").as("dn2"),
        col("tbl").as("tbl2"), col("bucket").as("bucket2"))
    val w = Window.partitionBy(col("src"), col("tbl"))
      .orderBy(col("cos_r").desc, col("dst").asc)
    postings.select(col("vec_id").as("src"), col("v").as("sv"),
        col("n2").as("sn2"), col("tbl"), col("bucket"))
      .join(corpus, col("tbl") === col("tbl2") && col("bucket") === col("bucket2") &&
        col("src") =!= col("dst"))
      .select(col("src"), col("tbl"), col("dst"),
        cosineR(col("sv"), col("dv"), col("sn2"), col("dn2")).as("cos_r"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kPerTable)
      .select(col("src"), col("dst"), col("cos_r")).distinct()
  }

  /** NN-DESCENT edge refinement — the public recipe (Dong et al.'s
    * "a neighbor of a neighbor is likely a neighbor", the NN-descent/
    * NSG construction) applied to the bucketed seed graph, because the
    * repo's own D42/D51 cards measured WHY that seed graph fails:
    * capped LSH buckets fragment the corpus, so beam search over the
    * raw union recalls 0.20–0.25 vs IVF's 0.625 at matched scan
    * volume. Each round: symmetrize the current edges (reverse edges
    * carry the same r6'd cosine — the dot product commutes), cap each
    * vertex's neighbor list at kOut (best-by-cosine, the paper's
    * sample-ρk bound), join the capped lists on a shared pivot to
    * propose neighbor-of-neighbor pairs, score the proposals exactly,
    * and keep each vertex's best kOut of old ∪ new.
    *
    * Monotonicity law (SimilaritySpec): the kept edge list per vertex
    * weakly improves every round (the union contains the previous
    * round's edges and topK keeps the best), so refinement can never
    * hurt the graph it started from.
    *
    * Scale shape: the pivot join is bounded by kOut²·N candidate rows
    * per round (degree-capped BOTH sides), scoring is one equi-join
    * against the corpus per side, and each round's output is
    * checkpoint-truncated (≤ kOut·N rows — referenced twice next
    * round: symmetrize + union). No all-pairs anywhere; rounds are a
    * small fixed constant.
    */
  private[graft] def nnDescentEdges(e: DataFrame, seed: DataFrame,
      kOut: Int, rounds: Int): DataFrame =
    nnDescentLevels(e, seed, kOut, rounds).last

  /** Every refinement level 0..rounds (level 0 = the kOut-capped
    * seed) — the levels are checkpoint-materialized anyway, so the
    * D54 tuning card reads the whole curve for the price of the
    * deepest level.
    */
  private[graft] def nnDescentLevels(e: DataFrame, seed: DataFrame,
      kOut: Int, rounds: Int): Seq[DataFrame] = {
    val corpus = e.select(col("vec_id"), col("v"), col("n2"))
    val outW = Window.partitionBy(col("src"))
      .orderBy(col("cos_r").desc, col("dst").asc)
    def topK(edges: DataFrame): DataFrame =
      edges.withColumn("rn", row_number().over(outW))
        .filter(col("rn") <= kOut).drop("rn")
    val levels = Seq.newBuilder[DataFrame]
    var edges = Dedup.stableCheckpoint(topK(seed))
    levels += edges
    for (_ <- 1 to rounds) {
      val sym = edges
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"),
          col("cos_r")))
        .distinct()
      val capped = Dedup.stableCheckpoint(topK(sym))
      val cand = capped.select(col("src").as("pivot"), col("dst").as("a"))
        .join(capped.select(col("src").as("pivot2"), col("dst").as("b")),
          col("pivot") === col("pivot2") && col("a") =!= col("b"))
        .select(col("a").as("src"), col("b").as("dst"))
        .distinct()
      val scored = cand
        .join(corpus.select(col("vec_id").as("src"), col("v").as("sv"),
          col("n2").as("sn2")), "src")
        .join(corpus.select(col("vec_id").as("dst"), col("v").as("dv"),
          col("n2").as("dn2")), "dst")
        .select(col("src"), col("dst"),
          cosineR(col("sv"), col("dv"), col("sn2"), col("dn2")).as("cos_r"))
      // old and re-proposed edges score to bit-identical triples, so
      // the UNION's distinct collapses them before the rank window
      edges = Dedup.stableCheckpoint(
        topK(edges.unionByName(scored).distinct()))
      levels += edges
    }
    levels.result()
  }

  /** The descent chain (seed edges with cosines + levels 0..rounds)
    * over the full corpus (`sampleMod <= 1`) or the deterministic
    * 1/sampleMod vertex sample, built on every call: the seed and each
    * level are checkpoint-truncated, so a chain is a handful of small
    * materialized relations the caller reads as often as it likes. A
    * query that needs the chain twice holds on to the result; serving
    * reads the persisted G39 artifacts (`Sinks.writeGraphIndex`)
    * instead of building.
    */
  private[graft] def nndChainFor(t: Tables, sampleMod: Int, kPerTable: Int,
      bits: Int, nTables: Int, bucketCap: Int, kOut: Int,
      rounds: Int): (DataFrame, Seq[DataFrame]) = {
    val e0 = withNorm(t.embeddings)
    val e = if (sampleMod > 1)
      e0.filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0L) else e0
    val seed = Dedup.stableCheckpoint(
      knnEdgesMultiCosOf(e, kPerTable, bits, nTables, bucketCap))
    (seed, nnDescentLevels(e, seed, kOut, rounds))
  }

  /** Symmetrize a (src, dst[, …]) edge relation: union with its
    * reverse, deduped. A top-kOut kNN graph's OUT-edges point into
    * tight true-neighbor cliques (that is what NN-descent optimizes),
    * so a greedy walk can enter but not leave a region — the probe
    * measured symmetrization alone worth +0.025–0.2 recall at every
    * budget (the D53 probe set below). In-edges are the escape hatches; effective
    * degree stays ≤ 2·kOut.
    */
  private[graft] def symmetrizeEdges(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  /** D53: graph-ANN search over the NN-DESCENT-refined graph — the
    * deployable graph leg. Probe-set design (r12 probe runs, sf0.1,
    * recall@5 vs exact / mean distinct vertices scored per query):
    * raw bucketed graph 0.225/179; refined directed flat 0.200/114
    * (QUALITY without NAVIGABILITY — the tight kNN cliques trap the
    * walk); + symmetrization 0.225/153; + kOut=16, 3 descent rounds
    * 0.450/251 (flat); + D52's layered coarse seeding **0.825/303 —
    * above IVF's 0.70 at 60% of IVF's 504-candidate scan volume**.
    * Every ingredient is a public recipe: NN-descent refinement (Dong
    * et al.), undirected search edges (HNSW keeps bidirectional
    * links), coarse-entry seeding (HNSW's upper layers).
    *
    * Scale shape: descent rounds are kOut²·N-bounded candidate joins
    * (checkpoint-truncated, like CC rounds); the coarse layer repeats
    * the build on N/sampleMod vertices (superlinearly cheaper); both
    * searches are D41's broadcast-frontier rounds. Nothing all-pairs.
    */
  def annGraphSearchNnd(t: Tables, nQueries: Int = 8, beam: Int = 8,
      rounds: Int = 4, k: Int = 5, kGraph: Int = 3, bits: Int = 8,
      bucketCap: Int = 128, nTables: Int = 4, kOut: Int = 16,
      descRounds: Int = 3, sampleMod: Int = 8, kOutC: Int = 8,
      descRoundsC: Int = 2): DataFrame = {
    val e = withNorm(t.embeddings)
    val (edges, seeds0) = nndSearchParts(t, nQueries, beam, rounds, kGraph,
      bits, bucketCap, nTables, kOut, descRounds, sampleMod, kOutC, descRoundsC)
    val beamW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    beamSearchFrom(e, edges, nQueries, seeds0, beam, rounds, truncate = true)
      .withColumn("rank", row_number().over(beamW).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos_r"))
  }

  /** The D53 build: (symmetrized refined full-graph edges, per-query
    * layer-0 seed relation from the coarse search). Shared by the
    * search itself and D51's graph_nnd ledger leg (which additionally
    * tracks visited sets for honest scan volume).
    */
  private def nndSearchParts(t: Tables, nQueries: Int, beam: Int,
      rounds: Int, kGraph: Int, bits: Int, bucketCap: Int, nTables: Int,
      kOut: Int, descRounds: Int, sampleMod: Int, kOutC: Int,
      descRoundsC: Int): (DataFrame, DataFrame) = {
    val e = withNorm(t.embeddings)
    val edges = Dedup.stableCheckpoint(symmetrizeEdges(
      nndChainFor(t, 1, kGraph, bits, nTables, bucketCap,
        kOut, descRounds)._2.last))
    val es = e.filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0L)
    val coarse = Dedup.stableCheckpoint(symmetrizeEdges(
      nndChainFor(t, sampleMod, kGraph, bits, nTables, bucketCap,
        kOutC, descRoundsC)._2.last))
    val ent1 = es.agg(min(col("vec_id")).as("vec_id"))
    val seeds1 = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id")).crossJoin(broadcast(ent1))
    val seeds0 = beamSearchFrom(e, coarse, nQueries, seeds1, beam, rounds,
        truncate = true)
      .select(col("q_id"), col("vec_id"))
    (edges, seeds0)
  }

  /** D43: beam-width TUNING card for graph ANN — mean recall@k and
    * mean best-found cosine per beam width, against D1's exact top-k
    * (the C20/D37 sensitivity-curve pattern pointed at D41's one knob:
    * what recall does another unit of beam buy). Runs on the TWO-table
    * edge union (knnEdgesMulti) — the production graph shape, since
    * D42 measured the single-table graph's fragmentation and a tuning
    * curve over an unreachable corpus is flat noise.
    *
    * Scale shape: the edge relation builds ONCE (stableCheckpoint) and
    * every beam's search probes it — adding a sweep point costs one
    * more bounded beam search (≤ nQueries·beam frontier rows/round),
    * never another graph build; the exact leg is D1's single corpus
    * pass, shared by all beams. Self-hits are excluded on BOTH legs so
    * found ⊆ scored-corpus and best-found ≤ exact-best holds as a law.
    *
    * Determinism: cosines r6'd in the feeders; per-query recalls r6'd
    * before the DECIMAL mean (D37's convention).
    */
  def annBeamTuning(t: Tables, beams: Seq[Int] = Seq(2, 8, 32),
      rounds: Int = 4, k: Int = 5, nQueries: Int = 8, kPerTable: Int = 3,
      bits: Int = 8, nTables: Int = 4, bucketCap: Int = 128): DataFrame = {
    val e = withNorm(t.embeddings)
    val edges = Dedup.stableCheckpoint(
      knnEdgesMulti(t, kPerTable, bits, nTables, bucketCap))
    // the exact leg feeds every beam's recall join plus the best-cos
    // baseline — checkpoint its ≤ nQueries·k rows so the D1 corpus
    // pass runs ONCE, not once per sweep point
    val exact = Dedup.stableCheckpoint(annTopkBruteforce(t, nQueries, k))
    val exTop = exact.select(col("q_id").as("xq"), col("vec_id").as("xv"))
    val exBest = exact.filter(col("rank") === 1)
      .select(col("q_id").as("bq"), col("cos_r").as("x_best"))
    val beamW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    def dmean(c: Column) =
      r6(sum(c.cast(DecimalType(18, 6))).cast("double") /
        count(lit(1)).cast("double"))
    val perBeam = beams.map { b =>
      val found = beamSearch(e, edges, nQueries, b, rounds, truncate = true)
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("rn", row_number().over(beamW))
        .filter(col("rn") <= k)
      found
        .join(exTop, col("q_id") === col("xq") && col("vec_id") === col("xv"), "left")
        .groupBy(col("q_id"))
        .agg(r6(count(col("xv")).cast("double") / lit(k.toDouble)).as("recall_q"),
          max(col("cos_r")).as("best_q"))
        .join(broadcast(exBest), col("q_id") === col("bq"))
        .agg(dmean(col("recall_q")).as("mean_recall_r"),
          dmean(col("best_q")).as("mean_best_cos_r"),
          dmean(col("x_best")).as("exact_best_cos_r"))
        .select(lit(b.toLong).as("beam"), col("mean_recall_r"),
          col("mean_best_cos_r"), col("exact_best_cos_r"))
    }
    perBeam.reduce(_ unionByName _)
  }

  /** D51: the cross-METHOD recall ledger — graph beam search (at the
    * D43-tuned beam), IVF cell probing, and multi-table sign-LSH, each
    * scored against the same exact cosine top-k (D1) with its MEASURED
    * scan volume next to its recall: `mean_cands_r` is the mean number
    * of distinct candidates the method actually scored per query
    * (beam: every scored vertex; IVF: the probed cells' population;
    * LSH: the union of same-bucket postings), so "method A recalls
    * more" can never hide "method A scanned 10× more". The LSH leg
    * runs at 5-bit buckets (32/table) rather than D2b's 8 so all three
    * methods land in the same candidate-volume regime at the gate SF —
    * matched scan volume is what makes the recall column comparable.
    *
    * Scale shape: strictly the union of its three constituents' plans
    * (D41's broadcast-frontier rounds over the shared checkpointed
    * edge relation, D4's literal-centers assignment + broadcast probe,
    * D2b's capped posting join); the ledger itself adds only ≤nQueries-
    * row rollups. The exact leg is one corpus pass shared by all
    * methods.
    */
  def annMethodRecall(t: Tables, nQueries: Int = 8, k: Int = 5,
      beam: Int = 8, rounds: Int = 4, kGraph: Int = 3, nTables: Int = 4,
      bucketCap: Int = 128, nCells: Int = 16, nProbe: Int = 4,
      lshBits: Int = 5, lshTables: Int = 4, lshCap: Int = 64,
      kOut: Int = 16, descRounds: Int = 3,
      indexPath: Option[String] = None): DataFrame = {
    val e = withNorm(t.embeddings)
    // the exact leg grades all five method rows — checkpoint its ≤
    // nQueries·k rows so the D1 corpus pass runs ONCE, not per method
    val exact = Dedup.stableCheckpoint(annTopkBruteforce(t, nQueries, k)
      .select(col("q_id"), col("vec_id")))
    val qIds = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"))
    def dmean(c: Column) =
      r6(sum(c.cast(DecimalType(18, 6))).cast("double") /
        count(lit(1)).cast("double"))
    def methodRow(name: String, found: DataFrame, cands: DataFrame): DataFrame = {
      val rec = exact
        .join(found.select(col("q_id").as("fq"), col("vec_id").as("fv")),
          col("q_id") === col("fq") && col("vec_id") === col("fv"), "left")
        .groupBy(col("q_id"))
        .agg(r6(count(col("fv")).cast("double") /
          count(lit(1)).cast("double")).as("recall_q"))
      rec.join(qIds.join(cands, Seq("q_id"), "left")
          .select(col("q_id"), coalesce(col("n_cands"), lit(0L)).as("n_cands")),
          Seq("q_id"))
        .agg(dmean(col("n_cands").cast("double")).as("mean_cands_r"),
          dmean(col("recall_q")).as("mean_recall_r"))
        .select(lit(name).as("method"), col("mean_cands_r"), col("mean_recall_r"))
    }
    val beamW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    // ONE bucketed seed build feeds the raw graph leg AND the NND
    // refinement (the oracle's edgesc CTE shares it the same way) —
    // the multi-table candidate join is the family's dominant cost,
    // built once per call here and counted in this ledger's time; with
    // `indexPath` set the refined levels come from the artifact, so
    // the chains below stop at their seed level
    def descIf(r: Int) = if (indexPath.isDefined) 0 else r
    val (seedCos, levelsN) =
      nndChainFor(t, 1, kGraph, 8, nTables, bucketCap, kOut, descIf(descRounds))
    // graph beam: found = final-beam top-k, cands = every scored vertex
    val edges = seedCos.select(col("src"), col("dst"))
    val (vis, visited) = beamSearchVisited(e, edges, nQueries, beam, rounds)
    val foundG = vis.filter(col("vec_id") =!= col("q_id"))
      .withColumn("rn", row_number().over(beamW))
      .filter(col("rn") <= k).select(col("q_id"), col("vec_id"))
    val candsG = visited.filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_cands"))
    // NN-descent-refined layered graph (D53's full design: symmetrized
    // kOut=16/3-round refined edges, coarse-sample seeding): same beam
    // budget as the raw graph legs, so the ledger isolates what the
    // refinement + topology buy. The descent's own scored proposals
    // are INDEX-BUILD cost (like IVF's training pass), not per-query
    // scan volume — cands counts what the SEARCH scored (coarse +
    // layer-0 visited union, the graph_layered convention).
    // PRODUCTION-SHAPED READ (r13 verdict #8): with `indexPath` set,
    // the graph_nnd leg's two refined layers load from the persisted
    // G39 artifacts — `edges`/`coarse_edges` are exactly the chain's
    // final levels under writeGraphIndex's default recipe, and a
    // parquet round-trip is value-exact, so the gated rows are
    // BIT-EQUAL to the in-query build (the SinksSpec law). The
    // seed-level legs (graph_beam, graph_layered) grade the UNREFINED
    // topology, which a serving index deliberately does not store —
    // they still build the chain's seed.
    val edgesN = Dedup.stableCheckpoint(symmetrizeEdges(indexPath.fold(
      levelsN.last)(p => t.spark.read.parquet(s"$p/edges")
        .select(col("src"), col("dst"), col("cos_r")))))
    // the coarse-sample seed build is ALSO shared (with the layered
    // leg below — the oracle's sedgesc CTE)
    val es = e.filter(pmod(col("vec_id"), lit(8L)) === 0L)
    val (seedCosS, levelsS) =
      nndChainFor(t, 8, kGraph, 8, nTables, bucketCap, 8, descIf(2))
    val coarseN = Dedup.stableCheckpoint(symmetrizeEdges(indexPath.fold(
      levelsS.last)(p => t.spark.read.parquet(s"$p/coarse_edges")
        .select(col("src"), col("dst"), col("cos_r")))))
    val entN = es.agg(min(col("vec_id")).as("vec_id"))
    val seedsN1 = qIds.crossJoin(broadcast(entN))
    val (visN1, visitedN1) =
      beamSearchVisitedFrom(e, coarseN, nQueries, seedsN1, beam, rounds)
    val (visN, visitedN0) = beamSearchVisitedFrom(e, edgesN, nQueries,
      visN1.select(col("q_id"), col("vec_id")), beam, rounds)
    val foundN = visN.filter(col("vec_id") =!= col("q_id"))
      .withColumn("rn", row_number().over(beamW))
      .filter(col("rn") <= k).select(col("q_id"), col("vec_id"))
    val candsN = visitedN1.unionByName(visitedN0).distinct()
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_cands"))
    // layered graph (D52 at the card's round budget): the coarse
    // layer's scored vertices COUNT toward scan volume — its full
    // final beam seeds layer 0 over the same edge relation
    val edges1 = seedCosS.select(col("src"), col("dst"))
    val ent1 = es.agg(min(col("vec_id")).as("vec_id"))
    val seeds1 = qIds.crossJoin(broadcast(ent1))
    val (vis1, visited1) =
      beamSearchVisitedFrom(e, edges1, nQueries, seeds1, beam, rounds)
    val (visL, visited0) = beamSearchVisitedFrom(e, edges, nQueries,
      vis1.select(col("q_id"), col("vec_id")), beam, rounds)
    val foundLay = visL.filter(col("vec_id") =!= col("q_id"))
      .withColumn("rn", row_number().over(beamW))
      .filter(col("rn") <= k).select(col("q_id"), col("vec_id"))
    val candsLay = visited1.unionByName(visited0).distinct()
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_cands"))
    // IVF: found = D4's probed-cell top-k, cands = probed cells'
    // population. ONE probed-population pass serves BOTH (r16): the
    // leg previously ran annIvf's corpus assign+probe join AND a
    // second corpus assign+probe join for the count — the checkpointed
    // hits relation (≤ nQueries·nProbe·max-cell rows) is the same row
    // set both derive from. found-equivalence: the two-stage top-k is
    // exact for ANY partition assignment, and cos_r is the identical
    // expression, so the ranked ids match annIvf's bit-for-bit;
    // cands-equivalence: the hits rows ARE the probed population
    // (cell === pcell && q_id =!= vec_id), one row per (q, probed
    // vector, probed cell), and probed cells are distinct per query.
    val coarse = trainedCenters(t, nCells)
    val probesI = probesWithNorm(
      e.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("v")), coarse, nProbe)
    val ivfHits = Dedup.stableCheckpoint(
      withCell(e, coarse).select(col("vec_id"), col("v"), col("n2"), col("cell"))
        .join(broadcast(probesI),
          col("cell") === col("pcell") && col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id"),
          cosineR(col("qv"), col("v"), col("qn2"), col("n2")).as("cos_r")))
    val localI = Window.partitionBy(col("q_id"), col("pid"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    val foundI = ivfHits
      .withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(localI))
      .filter(col("lrn") <= k)
      .withColumn("rank", row_number().over(beamW))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"))
    val candsI = ivfHits
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_cands"))
    // multi-table LSH at lshBits-bit buckets: found = in-bucket top-k,
    // cands = distinct union of same-bucket postings
    val postings = e.select(col("vec_id"), col("v"), col("n2"),
      posexplode(array((0 until lshTables).map(i =>
        signBucketAt(col("v"), lshBits, i * lshBits)): _*)).as(Seq("tbl", "bucket")))
    val capW = Window.partitionBy(col("tbl"), col("bucket")).orderBy(col("vec_id").asc)
    val lcorp = postings
      .withColumn("pn", row_number().over(capW))
      .filter(col("pn") <= lshCap)
      .select(col("vec_id"), col("v"), col("n2"), col("tbl"), col("bucket"))
    val lq = postings.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"),
        col("tbl").as("qtbl"), col("bucket").as("qbucket"))
    // ONE checkpointed in-bucket hit relation serves found AND cands
    // (r16): the lazy lhits subtree re-ran the posting build (two
    // corpus passes: capped postings + query postings) once per
    // consumer; the hits are ≤ nQueries·lshTables·lshCap rows.
    // Duplicate (q, vec) rows from multi-table matches carry the
    // bit-identical cos_r (a pure function of the pair), so both
    // consumers' distincts are unchanged.
    val lhits = Dedup.stableCheckpoint(lcorp.join(broadcast(lq),
        col("tbl") === col("qtbl") && col("bucket") === col("qbucket") &&
          col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        cosineR(col("qv"), col("v"), col("qn2"), col("n2")).as("cos_r")))
    val foundL = lhits
      .distinct()
      .withColumn("rn", row_number().over(beamW))
      .filter(col("rn") <= k).select(col("q_id"), col("vec_id"))
    val candsL = lhits.select(col("q_id"), col("vec_id")).distinct()
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_cands"))
    methodRow("graph_beam", foundG, candsG)
      .unionByName(methodRow("graph_layered", foundLay, candsLay))
      .unionByName(methodRow("graph_nnd", foundN, candsN))
      .unionByName(methodRow("ivf", foundI, candsI))
      .unionByName(methodRow("lsh_multi", foundL, candsL))
  }

  /** D55: PREFIX-DIMENSION recall card (the Matryoshka/MRL question —
    * Kusupati et al.'s published observation that prefix-truncated
    * embeddings retain most retrieval quality): for each prefix length
    * p, retrieve the exact top-k by cosine over the FIRST p dimensions
    * only, then grade it twice — recall against the full-dimension
    * exact top-k, and the mean FULL-dimension cosine of what the
    * prefix actually retrieved (retrieval quality in the space users
    * care about, not the truncated one). The card answers the capacity
    * question every vector deployment faces: how many dimensions do
    * stored vectors need before recall stops paying for them — at
    * 10^11 vectors, halving dims halves the serving fleet.
    *
    * Scale shape: shares D1's one-pass brute-force plan INCLUDING its
    * two-stage top-k — every leg (exact and each prefix) ranks via a
    * per-partition local top-k first, so the q_id-partitioned global
    * window only ever sees ≤ k·#partitions rows per query, never the
    * corpus (the B61 discipline; a single-stage rank here would be
    * nQueries straggler-bound corpus sorts per leg, five legs per
    * card run). PlanSpec pins the shape per execution — the scored
    * relation is checkpointed, so the pin rides a listener.
    *
    * Determinism: cosines r6'd in the feeders, per-query recalls r6'd
    * before the DECIMAL mean (the D37/D51 convention). The two-stage
    * rank is exact for any partition assignment, so the gated output
    * is identical to the single-stage form by construction.
    */
  def annPrefixDimRecall(t: Tables, nQueries: Int = 8, k: Int = 5,
      prefixes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    val e = withNorm(t.embeddings)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    val corpus = e.select(col("vec_id"), col("v"), col("n2"))
    // two-stage exact top-k ids (the annTopkBruteforce shape): local
    // per-(q_id, input-partition) rank bounds what the global window sorts
    def topkIds(sc: DataFrame): DataFrame = {
      val local = Window.partitionBy(col("q_id"), col("pid"))
        .orderBy(col("cos_r").desc, col("vec_id").asc)
      val global = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_r").desc, col("vec_id").asc)
      sc.withColumn("pid", spark_partition_id())
        .withColumn("lrn", row_number().over(local))
        .filter(col("lrn") <= k)
        .withColumn("rn", row_number().over(global))
        .filter(col("rn") <= k)
        .select(col("q_id"), col("vec_id"))
    }
    // full-dim scored relation: ONE corpus pass, reused by the exact
    // leg and by every prefix's full-space grading join
    val scFull = Dedup.stableCheckpoint(
      corpus.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosineR(col("qv"), col("v"), col("qn2"), col("n2")).as("cos_r")))
    val exact = topkIds(scFull)
      .select(col("q_id").as("xq"), col("vec_id").as("xv"))
    def dmean(c: Column) =
      r6(sum(c.cast(DecimalType(18, 6))).cast("double") /
        count(lit(1)).cast("double"))
    val perPrefix = prefixes.map { p =>
      val qp = slice(col("qv"), 1, p)
      val vp = slice(col("v"), 1, p)
      val topP = topkIds(
        corpus.join(broadcast(q), col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            cosineR(qp, vp, VectorExprs.dot(qp, qp),
              VectorExprs.dot(vp, vp)).as("cos_r")))
      val rec = exact
        .join(topP.select(col("q_id").as("fq"), col("vec_id").as("fv")),
          col("xq") === col("fq") && col("xv") === col("fv"), "left")
        .groupBy(col("xq"))
        .agg(r6(count(col("fv")).cast("double") /
          count(lit(1)).cast("double")).as("recall_q"))
        .agg(dmean(col("recall_q")).as("mean_recall_r"))
      val fullCos = topP.join(scFull, Seq("q_id", "vec_id"))
        .agg(dmean(col("cos_r")).as("mean_full_cos_r"))
      rec.crossJoin(broadcast(fullCos))
        .select(lit(p.toLong).as("prefix_dims"), col("mean_recall_r"),
          col("mean_full_cos_r"))
    }
    perPrefix.reduce(_ unionByName _)
  }

  /** Prefix-p retrieval pool: exact top-`kPool` per query by cosine
    * over the FIRST p dimensions, two-stage (the D1 discipline — the
    * corpus-sized scored relation never meets a single-stage rank
    * window). Shared by D56's serving path, D56b's ledger, and the
    * G43 artifact-served form (Sinks.searchPrefixSliced — there `e`'s
    * `v` IS the stored p-dim prefix and the slice is the identity). */
  private[graft] def prefixPool(e: DataFrame, q: DataFrame, p: Int,
      kPool: Int): DataFrame = {
    val qp = slice(col("qv"), 1, p)
    val vp = slice(col("v"), 1, p)
    val local = Window.partitionBy(col("q_id"), col("pid"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    val global = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    e.select(col("vec_id"), col("v"))
      .join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineR(qp, vp, VectorExprs.dot(qp, qp),
          VectorExprs.dot(vp, vp)).as("cos_r"))
      .withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(local))
      .filter(col("lrn") <= kPool)
      .withColumn("rn", row_number().over(global))
      .filter(col("rn") <= kPool)
      .select(col("q_id"), col("vec_id"))
  }

  /** D56: MATRYOSHKA serving path — the operator that ACTS on D55's
    * curve (the r13 verdict's #6: the card measured what prefix dims
    * buy, but nothing consumed the answer). The standard MRL
    * deployment (Kusupati et al.): RETRIEVE a candidate pool with the
    * truncated prefix-p representation — at 10^11 vectors, p/d of the
    * scan bytes and index footprint — then RERANK the bounded pool
    * with full-dimension exact cosine (the D11/D47 refine-tail shape).
    * D55 `ann_prefix_dim_recall` is the p-picker: its recall-vs-p
    * curve says which prefix keeps the pool rich enough to contain
    * the true top-k; D56b's ledger verifies the end-to-end recall at
    * the chosen p.
    *
    * Scale shape: one narrow prefix-scored corpus pass (broadcast
    * queries; a prefix-sliced column layout reads p/d of the vector
    * bytes), two-stage exact top-kPool, then the ≤nQueries·kPool pool
    * joins BACK to the corpus by vec_id (the tiny pool broadcasts —
    * the corpus never shuffles) and the full-dim rank runs over the
    * bounded pool only.
    */
  def annPrefixRerank(t: Tables, nQueries: Int = 8, k: Int = 5,
      p: Int = 16, kPool: Int = 20): DataFrame = {
    val e = withNorm(t.embeddings)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    prefixPool(e, q, p, kPool)
      .join(e.select(col("vec_id"), col("v"), col("n2")), Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineR(col("qv"), col("v"), col("qn2"), col("n2")).as("cos_r"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos_r"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** D57: the Matryoshka INDEX variant — D56 with the retrieval stage
    * behind a real coarse quantizer instead of a brute-force prefix
    * scan (the standard MRL deployment at index level: the index
    * stores and navigates ONLY the first p dimensions — a p/d cut in
    * index footprint and training/probe cost — and the bounded pool
    * reranks in full dimension). The coarse quantizer Lloyd-trains IN
    * the prefix space (lloydTrainOn over the sliced relation —
    * [[trainedCenters]] trains on the full-dimension vectors), probes
    * pick nProbe nearest prefix-space cells per query, candidates
    * score prefix cosine within probed cells only, and the D56
    * full-dim rerank tail finishes.
    *
    * Scale shape: D4's literal-centers discipline in the prefix space
    * (assignment is one narrow pass, probes broadcast, candidates an
    * equi-join on cell) + the D56 rerank (pool broadcasts back onto
    * the corpus). Two-stage top-kPool on the probed-cell relation.
    */
  /** D57's retrieval stage over an arbitrary PREFIX-SPACE relation
    * `ep` (vec_id, v = the p-dim prefix, n2): Lloyd-train the coarse
    * quantizer in prefix space, probe nProbe nearest cells per query,
    * score prefix cosine within probed cells only, two-stage exact
    * top-kPool. Shared by the in-query D57 and the G43 artifact-served
    * form (Sinks.searchPrefixSlicedIvf) — the two-stage top-k is
    * partition-independent (every global winner wins its local
    * stage), so both forms pool identically whatever the file layout.
    */
  private[graft] def prefixIvfPool(ep: DataFrame, nQueries: Int,
      nCells: Int, nProbe: Int, kPool: Int): DataFrame = {
    val coarse = lloydTrainOn(ep, nCells, TrainRounds)._1
    val assigned = withCell(ep, coarse)
      .select(col("vec_id"), col("v"), col("n2"), col("cell"))
    val probes = probesWithNorm(ep.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v")), coarse, nProbe)
    val local = Window.partitionBy(col("q_id"), col("pid"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    val global = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    assigned.join(broadcast(probes),
        col("cell") === col("pcell") && col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        cosineR(col("qv"), col("v"), col("qn2"), col("n2")).as("cos_r"))
      .withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(local))
      .filter(col("lrn") <= kPool)
      .withColumn("rn", row_number().over(global))
      .filter(col("rn") <= kPool)
      .select(col("q_id"), col("vec_id"))
  }

  def annPrefixIvfRerank(t: Tables, nQueries: Int = 8, k: Int = 5,
      p: Int = 16, nCells: Int = 16, nProbe: Int = 4,
      kPool: Int = 20): DataFrame = {
    val e = withNorm(t.embeddings)
    val ep = e.select(col("vec_id"), slice(col("v"), 1, p).as("v"))
      .withColumn("n2", VectorExprs.dot(col("v"), col("v")))
    val pool = prefixIvfPool(ep, nQueries, nCells, nProbe, kPool)
    val global = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    pool
      .join(e.select(col("vec_id"), col("v"), col("n2")), Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineR(col("qv"), col("v"), col("qn2"), col("n2")).as("cos_r"))
      .withColumn("rank", row_number().over(global).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos_r"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** D56b: the Matryoshka serving path's D51-ledger card — end-to-end
    * recall@k and full-dim scored-candidate volume for the prefix-
    * retrieve + full-rerank stack at each p, next to the exact
    * full-dim baseline row. Reading the card with D55: D55 grades the
    * PREFIX's own top-k (what the truncated space can rank); this
    * grades the DEPLOYED stack, where the prefix only has to get the
    * true neighbors into a kPool-sized pool for the full-dim rerank
    * to finish — the standard MRL result is that modest p recovers
    * near-exact recall at pool sizes a rerank pays happily, and the
    * `mean_cands_r` column is that price (kPool vs the baseline's
    * corpus-sized N−1).
    */
  def annPrefixRerankLedger(t: Tables, nQueries: Int = 8, k: Int = 5,
      prefixes: Seq[Int] = Seq(16, 32), kPool: Int = 20): DataFrame = {
    val e = withNorm(t.embeddings)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    // graded once per prefix plus the exact_full row — checkpoint the
    // ≤ nQueries·k exact ids so the brute-force pass runs once
    val exact = Dedup.stableCheckpoint(annTopkBruteforce(t, nQueries, k)
      .select(col("q_id").as("xq"), col("vec_id").as("xv")))
    def dmean(c: Column) =
      r6(sum(c.cast(DecimalType(18, 6))).cast("double") /
        count(lit(1)).cast("double"))
    def ledgerRow(name: String, pDims: Long, found: DataFrame,
        cands: DataFrame): DataFrame = {
      val rec = exact
        .join(found.select(col("q_id").as("fq"), col("vec_id").as("fv")),
          col("xq") === col("fq") && col("xv") === col("fv"), "left")
        .groupBy(col("xq"))
        .agg(r6(count(col("fv")).cast("double") /
          count(lit(1)).cast("double")).as("recall_q"))
        .agg(dmean(col("recall_q")).as("mean_recall_r"))
      val cd = cands.agg(dmean(col("n_cands").cast("double")).as("mean_cands_r"))
      rec.crossJoin(broadcast(cd))
        .select(lit(name).as("method"), lit(pDims).as("prefix_dims"),
          col("mean_cands_r"), col("mean_recall_r"))
    }
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    val perP = prefixes.map { p =>
      val pool = prefixPool(e, q, p, kPool)
      val found = pool
        .join(e.select(col("vec_id"), col("v"), col("n2")), Seq("vec_id"))
        .join(broadcast(q), Seq("q_id"))
        .select(col("q_id"), col("vec_id"),
          cosineR(col("qv"), col("v"), col("qn2"), col("n2")).as("cos_r"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(col("q_id"), col("vec_id"))
      // full-dim scored candidates per query = the pool the rerank pays
      val cands = pool.groupBy(col("q_id")).agg(count(lit(1)).as("n_cands"))
      ledgerRow("prefix_rerank", p.toLong, found, cands)
    }
    // the baseline everyone is measured against: exact full-dim scores
    // all N−1 candidates per query for recall 1 by construction
    val dim = prefixes.max.toLong.max(64L)
    val fullCands = q.select(col("q_id"))
      .crossJoin(broadcast(e.agg((count(lit(1)) - 1).as("n_cands"))))
    val fullRow = ledgerRow("exact_full", dim,
      exact.select(col("xq").as("q_id"), col("xv").as("vec_id")), fullCands)
    perP.reduce(_ unionByName _).unionByName(fullRow)
  }

  /** D54: NN-descent ROUNDS tuning card — what each refinement round
    * buys (the C20/D37/D43 sensitivity-curve pattern pointed at D53's
    * one new knob): per level 0..descRounds, the mean kept-edge
    * cosine (graph QUALITY — the monotone quantity the refinement
    * optimizes), mean out-degree (capped at kOut; rises while the
    * seed is sparse), and the flat-search recall@k + scored-candidate
    * volume over the SYMMETRIZED level edges (search NAVIGABILITY —
    * what the quality actually converts into; flat entry isolates the
    * refinement knob from D53's layered-seeding knob).
    *
    * Scale shape: ONE descent chain at the deepest level — the
    * per-level edge relations are its own checkpointed intermediates
    * (nnDescentLevels), so the whole curve costs one build + a
    * bounded beam search per level; the exact leg is D1's single
    * corpus pass shared by all levels.
    */
  def annNndTuning(t: Tables, nQueries: Int = 8, k: Int = 5,
      kGraph: Int = 3, bits: Int = 8, nTables: Int = 4,
      bucketCap: Int = 128, kOut: Int = 16, descRounds: Int = 3,
      beam: Int = 8, rounds: Int = 4): DataFrame = {
    val e = withNorm(t.embeddings)
    val levels = nndChainFor(t, 1, kGraph, bits, nTables, bucketCap,
      kOut, descRounds)._2
    // the exact leg is consumed once per level — checkpoint its ≤
    // nQueries·k rows so the D1 corpus pass runs ONCE, not per level
    val exact = Dedup.stableCheckpoint(annTopkBruteforce(t, nQueries, k)
      .select(col("q_id").as("xq"), col("vec_id").as("xv")))
    val qIds = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"))
    val beamW = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    def dmean(c: Column) =
      r6(sum(c.cast(DecimalType(18, 6))).cast("double") /
        count(lit(1)).cast("double"))
    val perLevel = levels.zipWithIndex.map { case (lv, r) =>
      val eq = lv.agg(
        count(lit(1)).as("n_edges"),
        sum(col("cos_r").cast(DecimalType(18, 6))).as("sc"),
        countDistinct(col("src")).as("n_src"))
        .select(lit(r.toLong).as("desc_rounds"),
          r6(col("sc").cast("double") / col("n_edges").cast("double"))
            .as("mean_edge_cos_r"),
          r6(col("n_edges").cast("double") / col("n_src").cast("double"))
            .as("mean_degree_r"))
      // symmetrize ONCE per level: the search references the edge
      // relation every round, and each checkpointed round would
      // otherwise re-run the union+distinct shuffle over ~2·kOut·N rows
      val symLv = Dedup.stableCheckpoint(symmetrizeEdges(lv))
      val (vis, visited) = beamSearchVisited(e, symLv, nQueries, beam, rounds)
      val found = vis.filter(col("vec_id") =!= col("q_id"))
        .withColumn("rn", row_number().over(beamW))
        .filter(col("rn") <= k).select(col("q_id"), col("vec_id"))
      val cands = visited.filter(col("vec_id") =!= col("q_id"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_cands"))
      val rec = exact
        .join(found.select(col("q_id").as("fq"), col("vec_id").as("fv")),
          col("xq") === col("fq") && col("xv") === col("fv"), "left")
        .groupBy(col("xq"))
        .agg(r6(count(col("fv")).cast("double") /
          count(lit(1)).cast("double")).as("recall_q"))
      val searchRow = rec
        .join(qIds.join(cands, Seq("q_id"), "left")
          .select(col("q_id"), coalesce(col("n_cands"), lit(0L)).as("n_cands")),
          col("xq") === col("q_id"))
        .agg(dmean(col("n_cands").cast("double")).as("mean_cands_r"),
          dmean(col("recall_q")).as("mean_recall_r"))
      eq.crossJoin(broadcast(searchRow))
    }
    perLevel.reduce(_ unionByName _)
  }
}
