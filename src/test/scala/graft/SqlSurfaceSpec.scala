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

  test("an explicit user constraintPropagation setting survives Tables()") {
    val key = "spark.sql.constraintPropagation.enabled"
    val s = spark.newSession()
    s.conf.set(key, "true")
    graft.sources.Tables(s, sfDir)
    assert(s.conf.get(key) == "true", "Tables() overrode the user's explicit setting")
    // a session without a value of its own still gets graft's default
    val fresh = spark.newSession()
    graft.sources.Tables(fresh, sfDir)
    assert(fresh.conf.get(key) == "false")
  }

  test("an explicit user excludedRules setting survives Tables()") {
    val key = "spark.sql.optimizer.excludedRules"
    val mine = "org.apache.spark.sql.catalyst.optimizer.CombineUnions"
    val s = spark.newSession()
    s.conf.set(key, mine)
    graft.sources.Tables(s, sfDir)
    assert(s.conf.get(key) == mine, "Tables() rewrote the user's explicit setting")
    // a session without a value of its own still gets graft's exclusion
    val fresh = spark.newSession()
    graft.sources.Tables(fresh, sfDir)
    assert(fresh.conf.get(key) == "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
  }

  test("a GraftExtensions-configured session passes the registration check") {
    import org.apache.spark.sql.SparkSession
    // the deploy builder, on the shared SparkContext: its extension
    // needs no new context to take effect
    val s = GraftSession.clusterBuilder(4).create()
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

  test("a fresh session with no Tables() has graft's functions, streams and as-of strategy") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    // everything graft adds comes with the session, whatever is called first
    val s = spark.newSession()
    graft.functions.VectorExprs.functions.foreach { case (name, cls, _) =>
      val described = s.sql(s"DESCRIBE FUNCTION $name").collect().mkString
      assert(described.contains(cls), s"$name: $described")
    }
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val docs = MemoryStream[graft.model.IngestDoc]
    graft.streaming.DocStreamJob.streamDocNearDupWithin(docs.toDS().toDF())
      .queryExecution.assertAnalyzed()
    val left = Seq((1L, 100L)).toDF("id", "t").select(col("id"), timestamp_micros(col("t")).as("t"))
    val right = Seq((1L, 90L, "a")).toDF("id2", "t2", "v")
      .select(col("id2"), timestamp_micros(col("t2")).as("t2"), col("v"))
    val asof = graft.plans.GraftPlans.asofJoin(left, right, "id", "id2", "t", "t2")
    assert(asof.queryExecution.sparkPlan.collect { case e: graft.plans.AsOfJoinExec => e }.nonEmpty,
      asof.queryExecution.sparkPlan.toString)
  }

  test("a launch-conf value wins over graft's SQL default for the same key") {
    val key = "spark.sql.constraintPropagation.enabled"
    val launch = new org.apache.spark.SparkConf(false).set(key, "true")
    val applied = GraftSession.unsetIn(launch, GraftSession.sqlDefaults)
    assert(applied == GraftSession.sqlDefaults.filterNot(_._1 == key), applied.toString)
    assert(GraftSession.unsetIn(new org.apache.spark.SparkConf(false), GraftSession.sqlDefaults)
      == GraftSession.sqlDefaults)
  }

  test("a session without graft's functions is refused by Tables(), naming the fix") {
    // the registry check is read-only: a missing function is an error,
    // never registered on the fly
    val s = spark.newSession()
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("graft_md5_60")
    assert(s.sessionState.functionRegistry.dropFunction(id))
    val e = intercept[IllegalStateException](graft.sources.Tables(s, sfDir))
    assert(e.getMessage.contains("graft_md5_60") && e.getMessage.contains("GraftSession"),
      e.getMessage)
    assert(!s.sessionState.functionRegistry.functionExists(id))
  }
}
