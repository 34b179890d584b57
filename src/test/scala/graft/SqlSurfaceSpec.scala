package graft

import graft.sources.GraftCatalog

/** The SQL surface: views + native functions reachable from
  * spark.sql, equal to the programmatic operators.
  */
class SqlSurfaceSpec extends SparkSpec {

  test("registered views + graft_* functions work from plain SQL") {
    GraftCatalog.registerViews(spark, sfDir)
    val viaSql = spark.sql(
      """SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS s
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin).collect()
    assert(viaSql.length == 3)
    val hashed = spark.sql(
      "SELECT graft_md5_60('abc') AS h, graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head
    assert(hashed.getLong(0) == 648541476951500027L) // = ('0x'||substr(md5('abc'),1,15))::BIGINT
    assert(hashed.getDouble(1) == 11.0)
    val grams = spark.sql(
      "SELECT size(graft_gram3_hashes('a b c d')) AS n").collect().head
    assert(grams.getInt(0) == 2)
    val sim = spark.sql(
      """SELECT graft_simhash60(graft_gram3_hashes('a b c d')) AS s1,
        |       graft_simhash_grams(array('a b c', 'b c d')) AS s2""".stripMargin)
      .collect().head
    assert(sim.getLong(0) == sim.getLong(1), "fused and gram-string forms agree")
    val bg = spark.sql(
      "SELECT graft_bigram_strings('A b b') AS bg, graft_bigram_strings_distinct('b B b') AS bgd")
      .collect().head
    assert(bg.getSeq[String](0) == Seq("a b", "b b"))
    assert(bg.getSeq[String](1) == Seq("b b"))
  }

  test("graft_pq_dists rejects malformed codebooks at analysis / fold time") {
    import org.apache.spark.sql.AnalysisException
    GraftCatalog.registerViews(spark, sfDir)
    // non-foldable codebook: caught by the analyzer, not a mid-job
    // executor RuntimeException
    val nonFoldable = intercept[AnalysisException] {
      spark.sql(
        """SELECT graft_pq_dists(array(1.0d), array(array(CAST(vec_id AS DOUBLE))))
          |FROM embeddings""".stripMargin).collect()
    }
    assert(nonFoldable.getMessage.contains("foldable"), nonFoldable.getMessage)
    // wrong type: analysis failure with the expected signature named
    val wrongType = intercept[AnalysisException] {
      spark.sql("SELECT graft_pq_dists(array(1.0d), array(1.0d))").collect()
    }
    assert(wrongType.getMessage.contains("array<array<double>>"), wrongType.getMessage)
    // ragged codebook: loud failure, never an undefined-slot read
    val ragged = intercept[Exception] {
      spark.sql(
        """SELECT graft_pq_dists(array(1.0d, 2.0d),
          |  array(array(1.0d, 2.0d), array(3.0d)))""".stripMargin).collect()
    }
    assert(ragged.getMessage.contains("ragged")
      || Option(ragged.getCause).exists(_.getMessage.contains("ragged")), ragged.getMessage)
  }

  test("a foreign function under a graft name is refused by Tables(), naming the function") {
    // a fresh session: its own function registry, so the foreign
    // graft_dot never reaches the shared session's
    val s = spark.newSession()
    s.udf.register("graft_dot", (a: Seq[Double], b: Seq[Double]) => 0.0)
    val e = intercept[IllegalStateException](graft.sources.Tables(s, sfDir))
    assert(e.getMessage.contains("graft_dot"), e.getMessage)
  }

  test("a GraftExtensions-configured session passes the registration check") {
    import org.apache.spark.sql.SparkSession
    // the deploy builder; its spark.sql.extensions only takes effect on
    // a new SparkContext, so the shared one gets the extension directly
    val s = GraftSession.clusterBuilder(4).withExtensions(new GraftExtensions).create()
    try {
      // registered by the extension, before any Tables() call
      val described = s.sql("DESCRIBE FUNCTION graft_dot").collect().mkString
      assert(described.contains(classOf[graft.functions.DotProduct].getName), described)
      graft.sources.Tables(s, sfDir)
      val d = s.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head().getDouble(0)
      assert(d == 11.0)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
