package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{GramHashes, Md5Prefix60, RollingHashMin}

/** Every native expression must actually COMPILE under whole-stage /
  * expression codegen — not silently fall back to the interpreter.
  *
  * Spark's default factory mode is FALLBACK: a Janino compile error is
  * a WARN, the projection runs interpreted, and every query stays
  * *correct* while quietly losing the codegen speed the expressions
  * exist for (this exact failure shipped once: the companion's static
  * entry point was named `eval`, colliding with `Expression.eval`, so
  * Scala suppressed the static forwarder and the generated call never
  * resolved). CODEGEN_ONLY turns that fallback into a hard error, so
  * this spec FAILS — instead of WARNs — if any generated code breaks.
  */
class CodegenSpec extends SparkSpec {

  private lazy val codegenOnly = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }

  test("all graft_* native expressions compile and evaluate under CODEGEN_ONLY") {
    // input must come from a real scan: a literal would be folded by
    // ConvertToLocalRelation at optimize time (interpreted projection)
    // and never reach the generated code this spec exists to exercise
    val t = graft.sources.Tables(codegenOnly, sfDir)
    val row = t.documents.orderBy(col("doc_id")).limit(1).select(
      col("text"),
      call_function("graft_gram3_hashes", col("text")).as("g3"),
      call_function("graft_gram5_hashes", col("text")).as("g5"),
      call_function("graft_simhash_grams", split(lower(col("text")), " ")).as("sg"),
      call_function("graft_simhash60", call_function("graft_gram3_hashes", col("text"))).as("sh"),
      call_function("graft_md5_60", col("text")).as("m"),
      call_function("graft_rolling_min", col("text")).as("rm"),
      call_function("graft_bigram_strings", col("text")).as("bgs"),
      call_function("graft_bigram_strings_distinct", col("text")).as("bgd"),
      call_function("graft_intersect_count",
        call_function("graft_gram3_hashes", col("text")),
        call_function("graft_gram5_hashes", col("text"))).as("ic"),
      size(array_intersect(
        call_function("graft_gram3_hashes", col("text")),
        call_function("graft_gram5_hashes", col("text")))).as("ic_ref"),
      call_function("graft_dhash60", col("text").cast("binary")).as("dh"),
      call_function("graft_grad_energy", col("text").cast("binary")).as("ge"),
      expr("""aggregate(sequence(1, length(text) - 1), 0L,
        |  (acc, i) -> acc + abs(CAST(ascii(substr(text, i + 1, 1)) AS BIGINT) -
        |    CAST(ascii(substr(text, i, 1)) AS BIGINT)))""".stripMargin).as("ge_ref"),
      call_function("graft_minhash_sig",
        call_function("graft_gram3_hashes", col("text"))).as("mhs")
    ).collect()(0)

    val text = UTF8String.fromString(row.getAs[String]("text"))
    assert(row.getAs[scala.collection.Seq[Long]]("g3") ==
      GramHashes.compute(text, 3, distinct = true).toLongArray.toSeq)
    assert(row.getAs[scala.collection.Seq[Long]]("g5") ==
      GramHashes.compute(text, 5, distinct = false).toLongArray.toSeq)
    assert(row.getAs[Long]("m") == Md5Prefix60.hash(text))
    assert(row.getAs[Long]("rm") == RollingHashMin.hash(text, 16))
    val tkRef = row.getAs[String]("text").toLowerCase.split(" ", -1).toSeq
    val bgRef = if (tkRef.size < 2) Seq.empty else tkRef.sliding(2).map(_.mkString(" ")).toSeq
    assert(row.getAs[scala.collection.Seq[String]]("bgs") == bgRef)
    assert(row.getAs[scala.collection.Seq[String]]("bgd") == bgRef.distinct)
    assert(row.getAs[Int]("ic") == row.getAs[Int]("ic_ref"),
      "IntersectCount must equal size(array_intersect)")
    assert(row.getAs[Long]("dh") == graft.functions.DHash60.compute(
      row.getAs[String]("text").getBytes("UTF-8"), 8))
    assert(row.getAs[Long]("ge") == graft.functions.GradEnergy.compute(
      row.getAs[String]("text").getBytes("UTF-8")))
    assert(row.getAs[Long]("ge") == row.getAs[Long]("ge_ref"),
      "GradEnergy must equal the composed sequence/aggregate fold")
    assert(row.getAs[scala.collection.Seq[Long]]("mhs") ==
      graft.functions.MinHashSig.compute(
        GramHashes.compute(text, 3, distinct = true)).toLongArray.toSeq)

    val e = graft.sources.Tables(codegenOnly, sfDir).embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val d = e.orderBy(col("vec_id")).limit(1)
      .select(col("v"), graft.functions.VectorExprs.dot(col("v"), col("v")).as("d"))
      .collect()(0)
    val v = d.getAs[scala.collection.Seq[Double]]("v")
    assert(d.getAs[Double]("d") == v.zip(v).foldLeft(0.0) { case (a, (x, y)) => a + x * y })
  }

  test("null-element contract: graft_dot skips null pairs, graft_simhash60 skips null hashes") {
    val s = codegenOnly
    // values derive from a non-foldable column (range id) so the
    // expressions run through generated code, not constant folding
    val row = s.range(1).select(
      call_function("graft_dot",
        array((col("id") + 1L).cast("double"), lit(null).cast("double"), lit(3.0)),
        array(lit(2.0), lit(5.0), (col("id") + 4L).cast("double"))).as("d"),
      call_function("graft_simhash60",
        array(col("id") + 5L, lit(null).cast("long"), col("id") + 9L)).as("sh"),
      call_function("graft_simhash60", array(col("id") + 5L, col("id") + 9L)).as("sh_ref"),
      call_function("graft_intersect_count",
        array(col("id") + 1L, lit(null).cast("long"), lit(7L)),
        array(lit(null).cast("long"), col("id") + 1L, lit(8L))).as("ic_null"),
      size(array_intersect(
        array(col("id") + 1L, lit(null).cast("long"), lit(7L)),
        array(lit(null).cast("long"), col("id") + 1L, lit(8L)))).as("ic_null_ref")
    ).collect()(0)
    assert(row.getAs[Double]("d") == 1.0 * 2 + 3.0 * 4, "null pair contributes 0")
    assert(row.getAs[Long]("sh") == row.getAs[Long]("sh_ref"), "null hash skipped")
    assert(row.getAs[Int]("ic_null") == 2 &&
      row.getAs[Int]("ic_null") == row.getAs[Int]("ic_null_ref"),
      "null elements follow array_intersect semantics (null==null counts once)")
  }

  test("PQ encode + ADC run under CODEGEN_ONLY (janino 64 KB regression)") {
    val t = graft.sources.Tables(codegenOnly, sfDir)
    // the unrolled literal-argmin formulation of D8/D9 generated
    // O(m·nCodes·dsub) Java in the Generate stage's consume and blew
    // janino's 64 KB method limit — Spark then dropped the whole stage
    // to interpreted eval with only a WARN. With fallback banned these
    // would THROW; the native PqDists loop form must compile.
    assert(graft.operators.Similarity.embPqCodes(t).count() > 0)
    assert(graft.operators.Similarity.annPqAdc(t).count() > 0)
  }

  test("coarse assignment + probes over 256 centers compile under CODEGEN_ONLY (janino 64 KB regression)") {
    val t = graft.sources.Tables(codegenOnly, sfDir)
    val sim = graft.operators.Similarity
    // the unrolled per-center struct form generated ~3k chars of Java
    // per center and hit "Code grows beyond 64 KB" at 256; the native
    // PqDists kernel is constant in nCells
    val centers = sim.hashCenters(t, 256)
    val e = sim.withNorm(t.embeddings)
    val cells = sim.withCell(e, centers).select(col("cell"), col("dist2_r")).collect()
    assert(cells.nonEmpty && cells.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 256))
    val probes = sim.probeCellsOf(e.select(col("vec_id").as("q_id"), col("v")), centers, 4)
    assert(probes.count() == 4 * cells.length)
  }

  test("gram-based dedup pipeline runs end-to-end under CODEGEN_ONLY") {
    val t = graft.sources.Tables(codegenOnly, sfDir)
    // exercises GramHashes + SimHashGrams + SimHash60 inside real
    // multi-stage plans (shuffles, windows, joins) with fallback banned
    assert(graft.operators.Dedup.docSimhash(t).count() > 0)
    assert(graft.operators.Dedup.docNgramJaccard(t).collect() != null)
  }
}
