package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Sinks

class SinksSpec extends SparkSpec {

  test("partitioned write produces dt= directories and pruning-friendly reads") {
    val dir = Files.createTempDirectory("events_part").toFile
    Sinks.writeEventsPartitioned(tables.events, dir.getAbsolutePath)
    val dts = dir.listFiles().filter(_.getName.startsWith("dt=")).map(_.getName)
    assert(dts.length > 1, s"expected multiple date partitions, got ${dts.toSeq}")
    val oneDay = spark.read.parquet(dir.getAbsolutePath)
      .filter(col("dt") === dts.head.stripPrefix("dt="))
    val expected = tables.events
      .filter(date_format(col("ts"), "yyyy-MM-dd") === dts.head.stripPrefix("dt=")).count()
    assert(oneDay.count() == expected)
    // partition filter must prune at scan — read
    // FileSourceScanExec.partitionFilters programmatically (plan-string
    // matching truncates and misses AQE-wrapped scans)
    val pf = scanPartitionFilters(oneDay)
    assert(pf.exists(_.contains("dt")), s"no dt partition filter in $pf")
  }

  test("docs partitioned by (source, lang): per-source/lang reads prune at planning time") {
    val dir = Files.createTempDirectory("docs_part").toFile
    Sinks.writeDocsPartitioned(tables.documents, dir.getAbsolutePath)
    val sources = dir.listFiles().filter(_.getName.startsWith("source=")).map(_.getName)
    assert(sources.length > 1, s"expected multiple source partitions, got ${sources.toSeq}")
    val src = sources.head.stripPrefix("source=")
    val one = spark.read.parquet(dir.getAbsolutePath).filter(col("source") === src)
    assert(one.count() == tables.documents.filter(col("source") === src).count())
    val pf1 = scanPartitionFilters(one)
    assert(pf1.exists(f => f.contains("source") && f.contains(s"'$src'")),
      s"no source=$src partition filter in $pf1")
    // two-level prune: (source, lang) reads only that leaf directory
    val lang = tables.documents.filter(col("source") === src)
      .select(col("lang")).limit(1).collect().head.getString(0)
    val leaf = spark.read.parquet(dir.getAbsolutePath)
      .filter(col("source") === src && col("lang") === lang)
    assert(leaf.count() ==
      tables.documents.filter(col("source") === src && col("lang") === lang).count())
    // both levels must appear as planning-time partition filters —
    // read FileSourceScanExec.partitionFilters programmatically
    // (inputFiles reflects the pre-pruning file index, and substring
    // matches over the whole plan string are fragile when one
    // partition value is a suffix of another or appears in a data
    // filter)
    val pf = scanPartitionFilters(leaf)
    assert(pf.exists(f => f.contains("source") && f.contains(s"'$src'")),
      s"no source=$src partition filter in $pf")
    assert(pf.exists(f => f.contains("lang") && f.contains(s"'$lang'")),
      s"no lang=$lang partition filter in $pf")
  }

  /** Every parquet scan's partitionFilters, as SQL strings (recursing
    * through AQE wrappers — QueryStageExec subtrees hang off .plan).
    */
  private def scanPartitionFilters(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec        => walk(s.plan)
      case o                        => o +: o.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec => f.partitionFilters.map(_.sql)
    }.flatten
  }

  test("query audit listener records scan and shuffle volume per action") {
    val audit = new graft.sources.GraftQueryAudit
    spark.listenerManager.register(audit)
    try {
      val before = audit.size
      // an aggregate with a real scan + a real shuffle
      tables.events.groupBy(col("event_type")).count().collect()
      val deadline = System.currentTimeMillis() + 10000
      while (audit.size == before && System.currentTimeMillis() < deadline)
        Thread.sleep(50) // listener fires async
      assert(audit.size > before, "audit entry not recorded")
      val snap = audit.snapshot(spark).collect()
      val e = snap.last
      assert(e.getLong(2) > 0L, s"scan rows not captured: $e")      // scan_rows
      assert(e.getLong(3) > 0L, s"shuffle rows not captured: $e")   // shuffle_write_rows
      assert(audit.failures == 0L)
    } finally spark.listenerManager.unregister(audit)
  }

  test("doc operators off the partitioned layout == off the flat table (docsOverride)") {
    val dir = Files.createTempDirectory("docs_part_rt").toFile
    Sinks.writeDocsPartitioned(tables.documents, dir.getAbsolutePath)
    val viaLayout = graft.sources.Tables(spark, sfDir,
      docsOverride = Some(Sinks.readDocsPartitioned(spark, dir.getAbsolutePath)))
    // a corpus-shaped operator (aggregates over source/lang/text) must
    // not notice the storage layout swap
    val a = graft.operators.TextOps.corpusStats(tables).collect().map(_.toSeq).toSet
    val b = graft.operators.TextOps.corpusStats(viaLayout).collect().map(_.toSeq).toSet
    assert(a == b, s"layout changed results: only-flat=${(a -- b).take(2)} only-part=${(b -- a).take(2)}")
    // and a doc-id-keyed operator too (exercises text + ids, not just rollups)
    val d1 = graft.operators.Dedup.docExactDedup(viaLayout).orderBy("content_hash").collect().map(_.toSeq)
    val d2 = graft.operators.Dedup.docExactDedup(tables).orderBy("content_hash").collect().map(_.toSeq)
    assert(d1.sameElements(d2))
  }

  test("cell-partitioned embeddings: probe reads prune non-probed cells at planning time") {
    val dir = Files.createTempDirectory("emb_cells").toFile
    Sinks.writeEmbeddingsByCell(tables, dir.getAbsolutePath, nCells = 4)
    val cells = dir.listFiles().filter(_.getName.startsWith("cell=")).map(_.getName)
    assert(cells.length > 1, s"expected multiple cell partitions, got ${cells.toSeq}")
    // a 2-cell probe must (a) return exactly the vectors assigned to
    // those cells and (b) prune the other cell directories at the scan
    val probe = spark.read.parquet(dir.getAbsolutePath)
      .filter(col("cell").isin(0, 1))
    // the layout rides the Lloyd-TRAINED quantizer (r10) — recompute
    // the expected assignment with the same trained set, not D7's seed
    val assigned = graft.operators.Similarity
      .withCell(graft.operators.Similarity.withNorm(tables.embeddings),
        graft.operators.Similarity.trainedCenters(tables, 4))
      .filter(col("cell") < 2).count()
    assert(probe.count() == assigned, "probe must return exactly the 2 cells' vectors")
    val pfCell = scanPartitionFilters(probe)
    assert(pfCell.exists(_.contains("cell")),
      s"no cell partition filter at planning time: $pfCell")
    // every vector lands in exactly one cell dir
    assert(spark.read.parquet(dir.getAbsolutePath).count() == tables.embeddings.count())
  }

  test("quantizer artifact: round-trips exactly; ADC and cell layout run off the LOADED centers") {
    import graft.operators.Similarity
    val qdir = Files.createTempDirectory("quantizer").toFile
    Sinks.writeQuantizer(tables, qdir.getAbsolutePath, nCenters = 8)
    val loaded = Sinks.readQuantizer(spark, qdir.getAbsolutePath)
    // G15 persists the Lloyd-TRAINED centers (r10), not the raw seed
    val derived = Similarity.trainedCenters(tables, 8)
    assert(loaded.toSeq == derived.toSeq, "persisted centers must round-trip bit-exactly")
    assert(loaded.toSeq != Similarity.hashCenters(tables, 8).toSeq,
      "trained centers must actually move off the seed")
    // D9 off the loaded artifact == D9 re-deriving per query
    val fromArtifact = Similarity.annPqAdcWith(tables, loaded).collect().map(_.toSeq)
    val rederived = Similarity.annPqAdc(tables).collect().map(_.toSeq)
    assert(fromArtifact.toSeq == rederived.toSeq, "ADC off the saved codebook diverged")
    // G12 cell layout off the artifact: same assignment as assigning
    // with the loaded centers directly (one source of truth; D7's
    // seed-center card is a different — pedagogical — quantizer)
    val dir = Files.createTempDirectory("emb_cells_q").toFile
    Sinks.writeEmbeddingsByCell(tables, dir.getAbsolutePath, qdir.getAbsolutePath)
    val laidOut = spark.read.parquet(dir.getAbsolutePath)
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val assigned = Similarity
      .withCell(Similarity.withNorm(tables.embeddings), loaded)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(laidOut == assigned, "cell layout off the artifact diverged from its own centers' assignment")
  }

  test("sq8 bounds artifact: bit-exact round trip; codes and search off the artifact equal the in-query path") {
    import graft.operators.Similarity
    val bdir = Files.createTempDirectory("sq8_bounds").toFile
    Sinks.writeSq8Bounds(tables, bdir.getAbsolutePath)
    val loaded = Sinks.readSq8Bounds(spark, bdir.getAbsolutePath)
    val derived = Similarity.sq8Bounds(tables)
    assert(loaded == derived, "persisted bounds must round-trip bit-exactly")
    val codesFromArtifact = Similarity.embSq8CodesWith(tables, loaded).orderBy("vec_id", "d")
      .collect().map(_.toSeq)
    val codesRederived = Similarity.embSq8Codes(tables).orderBy("vec_id", "d")
      .collect().map(_.toSeq)
    assert(codesFromArtifact.toSeq == codesRederived.toSeq,
      "SQ8 codes off the saved bounds diverged")
    val fromArtifact = Similarity.annSq8AdcWith(tables, loaded).collect().map(_.toSeq)
    val rederived = Similarity.annSq8Adc(tables).collect().map(_.toSeq)
    assert(fromArtifact.toSeq == rederived.toSeq, "SQ8 ADC off the saved bounds diverged")
  }

  test("ivf-adc off the persisted layout: equals the in-query path; scan prunes non-probed cells") {
    import graft.operators.Similarity
    val qdir = Files.createTempDirectory("quantizer_ivf").toFile
    val ldir = Files.createTempDirectory("emb_layout_ivf").toFile
    Sinks.writeQuantizer(tables, qdir.getAbsolutePath, nCenters = 8)
    Sinks.writeEmbeddingsByCell(tables, ldir.getAbsolutePath, qdir.getAbsolutePath)
    val fromLayout = Similarity.annIvfAdcFromLayout(
      spark, ldir.getAbsolutePath, qdir.getAbsolutePath)
    // the deploy path must reproduce the in-query operator bit for bit
    // (same centers: coarse == PQ == the 8-center artifact)
    val inQuery = Similarity.annIvfAdc(tables, nCells = 8, nCodes = 8)
      .collect().map(_.toSeq)
    assert(fromLayout.collect().map(_.toSeq).toSeq == inQuery.toSeq,
      "layout-backed IVF-ADC diverged from the in-query operator")
    // and the point of the layout: the code scan reads only probed
    // cell directories — planning-time partition pruning
    val pfIvf = scanPartitionFilters(fromLayout)
    assert(pfIvf.exists(_.contains("cell")),
      s"no cell partition filter at planning time: $pfIvf")
  }

  test("bucketed table join on the bucket key avoids the shuffle") {
    // the catalog is per-JVM (in-memory) but the warehouse dir persists:
    // clear any orphaned location from a previous test run
    spark.sql("DROP TABLE IF EXISTS events_bucketed")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File("spark-warehouse/events_bucketed"))
    Sinks.writeEventsBucketed(tables.events, "events_bucketed", buckets = 4)
    val b = spark.table("events_bucketed")
    val agg = b.groupBy("user_id").agg(count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed groupBy should not shuffle:\n${plan.take(800)}")
    assert(agg.count() == tables.events.select("user_id").distinct().count())
  }

  test("compaction rewrites many small files into the target count") {
    val scattered = Files.createTempDirectory("scatter").toFile.getAbsolutePath
    val compacted = Files.createTempDirectory("compact").toFile.getAbsolutePath + "/out"
    tables.events.repartition(37).write.mode("overwrite").parquet(scattered)
    assert(new java.io.File(scattered).listFiles().count(_.getName.endsWith(".parquet")) == 37)
    Sinks.compact(spark, scattered, compacted, targetFiles = 4)
    assert(new java.io.File(compacted).listFiles().count(_.getName.endsWith(".parquet")) == 4)
    assert(spark.read.parquet(compacted).count() == tables.events.count())
  }

  test("clustered write produces range-partitioned, internally sorted files") {
    val dir = Files.createTempDirectory("clustered").toFile.getAbsolutePath + "/out"
    Sinks.writeClustered(tables.events, dir, files = 4, "user_id", "ts")
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4)
    // each file covers a disjoint user_id range → global ranges don't overlap
    val ranges = files.map { f =>
      val d = spark.read.parquet(f.getAbsolutePath)
        .agg(min(col("user_id")), max(col("user_id"))).collect().head
      (d.getLong(0), d.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlapping ranges: ${ranges.toSeq}")
      case _ =>
    }
    assert(spark.read.parquet(dir).count() == tables.events.count())
  }

  test("z-ordered write bounds BOTH dimensions per file (2-D skipping; lexicographic only bounds one)") {
    val zdir = Files.createTempDirectory("zorder").toFile.getAbsolutePath + "/z"
    val ldir = Files.createTempDirectory("zorder").toFile.getAbsolutePath + "/lex"
    val ev = tables.events.select(col("event_id"), col("user_id"), col("ts"))
    Sinks.writeZOrdered(ev, zdir, files = 4, "user_id", "event_id")
    Sinks.writeClustered(ev, ldir, files = 4, "user_id", "event_id")
    def fracs(dir: String, c: String): Seq[Double] = {
      val global = spark.read.parquet(dir)
        .agg(min(col(c)).cast("double"), max(col(c)).cast("double")).collect().head
      val span = global.getDouble(1) - global.getDouble(0)
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min(col(c)).cast("double"), max(col(c)).cast("double")).collect().head
        (r.getDouble(1) - r.getDouble(0)) / span
      }
    }
    // no rows lost, schema unchanged (helper columns dropped)
    val back = spark.read.parquet(zdir)
    assert(back.count() == ev.count())
    assert(back.columns.sorted.toSeq == ev.columns.sorted.toSeq)
    // z-order: every file covers a bounded region — both dimensions
    // materially narrower than the global range in every file (a file
    // straddling a z-curve quadrant boundary can span up to ~3/4 of
    // one dim, never the whole of either)
    val (zu, ze) = (fracs(zdir, "user_id"), fracs(zdir, "event_id"))
    assert(zu.forall(_ <= 0.8) && ze.forall(_ <= 0.8),
      s"z-order should bound both dims per file: user_id=$zu event_id=$ze")
    // lexicographic: the leading key is bounded but the trailing key's
    // per-file range saturates (events are spread across users)
    val le = fracs(ldir, "event_id")
    assert(le.exists(_ >= 0.9),
      s"lexicographic trailing key should saturate somewhere: $le")
  }

  test("z-ordered as-of right side: identical asof result off the clustered files (§5b pairing)") {
    // the §5b pairing: the as-of join's right side laid out z-ordered
    // by (key, time), so a key- or time-predicated scan of it prunes on
    // BOTH dimensions; the custom AsOfJoin must read that layout back
    // and produce exactly the direct in-memory result. o_orderdate is a
    // DATE (not castable to double), so the z-value rides an epoch-day
    // helper column, dropped after read.
    val dir = Files.createTempDirectory("zorder_asof").toFile.getAbsolutePath + "/orders"
    val ord = tables.orders
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    Sinks.writeZOrdered(
      ord.withColumn("o_days", datediff(col("o_orderdate"), to_date(lit("1970-01-01")))),
      dir, files = 4, "o_custkey", "o_days")
    val zright = spark.read.parquet(dir).drop("o_days")
    val ev = tables.events.select(col("event_id"), col("user_id"), col("ts"))
    def run(right: org.apache.spark.sql.DataFrame): Map[Long, Any] =
      graft.plans.GraftPlans.asofJoin(ev, right, "user_id", "o_custkey", "ts", "o_orderdate")
        .select(col("event_id"), col("o_orderkey"))
        .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val viaZ = run(zright)
    assert(viaZ == run(ord), "as-of over the z-ordered files must match the direct result")
    assert(viaZ.nonEmpty && viaZ.values.exists(_ != null), "some events must enrich")
  }

  test("json lines roundtrip") {
    val dir = Files.createTempDirectory("events_json").toFile.getAbsolutePath
    val out = tables.events.select(col("event_id"), col("event_type"))
    Sinks.writeJsonLines(out, dir)
    assert(spark.read.json(dir).count() == tables.events.count())
  }

  test("jsonl ingest: schema enforced not inferred; corrupt lines quarantined with raw text, clean rows exact") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("jsonl_in").toFile.getAbsolutePath
    val good = (1 to 20).map(i => s"""{"doc_id":$i,"text":"doc number $i"}""")
    val bad = Seq("""{"doc_id":21,"text":"unterminated""", "not json at all", """[1,2,3]""")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-0.jsonl"),
      scala.util.Random.shuffle(good ++ bad).mkString("\n").getBytes)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // enforced reader: declared columns + corrupt column, never inferred extras
    val raw = Sinks.readJsonLines(spark, dir, schema)
    assert(raw.schema.fieldNames.toSeq == Seq("doc_id", "text", "_corrupt_record"))
    val (clean, quarantine) = Sinks.readJsonLinesAudited(spark, dir, schema)
    assert(clean.schema.fieldNames.toSeq == Seq("doc_id", "text"))
    val cleanRows = clean.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(cleanRows == (1 to 20).map(i => (i.toLong, s"doc number $i")).toSet)
    val quarantined = quarantine.collect().map(_.getString(0)).toSet
    // the json-array line parses as neither struct nor garbage for the
    // given schema -> from_json yields null -> quarantined alongside
    // the truly malformed lines
    assert(quarantined == bad.toSet, s"quarantine mismatch: $quarantined")
  }

  test("gzip jsonl ingest: corrupt members quarantined whole, corrupt lines raw, clean rows exact") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("jsonlgz_in").toFile.getAbsolutePath
    def gz(lines: Seq[String]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(lines.mkString("\n").getBytes("UTF-8")); g.close()
      bos.toByteArray
    }
    val goodA = (1 to 10).map(i => s"""{"doc_id":$i,"text":"doc $i"}""")
    // one malformed JSON line inside an otherwise healthy member
    val goodB = (11 to 20).map(i => s"""{"doc_id":$i,"text":"doc $i"}""") :+ "not json"
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.jsonl.gz"), gz(goodA))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.jsonl.gz"), gz(goodB))
    // planted corrupt members: a truncated upload and a bit-rotted shard
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "trunc.jsonl.gz"),
      gz((21 to 30).map(i => s"""{"doc_id":$i}""")).dropRight(20))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "rot.jsonl.gz"),
      Array.fill[Byte](64)(0x5a))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val ingest = Sinks.readJsonLinesGzIngest(spark, dir, schema)
    val (clean, badLines, badFiles) = ingest.tuple
    assert(clean.schema.fieldNames.toSeq == Seq("src_file", "doc_id", "text"))
    val cleanRows = clean.collect().map(r => (r.getLong(1), r.getString(2))).toSet
    assert(cleanRows == (1 to 20).map(i => (i.toLong, s"doc $i")).toSet,
      "every line of every healthy member must land clean — including the file with a bad line")
    assert(badLines.collect().map(_.getString(1)).toSeq == Seq("not json"))
    val bf = badFiles.collect().map(r => (r.getString(0).split('/').last, r.getString(1))).toMap
    assert(bf.keySet == Set("trunc.jsonl.gz", "rot.jsonl.gz"),
      s"corrupt members must quarantine whole: $bf")
    // truncated member: NO partial lines leaked into clean (all-or-nothing)
    assert(!cleanRows.exists(_._2 == null) && cleanRows.forall(_._1 <= 20))
    // the decoded relation cached for the three-output fan-out must be
    // RELEASABLE: a long-lived ingest session holds the handle, not a
    // cache it can never drop (the r12 ADVICE leak)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore).nonEmpty,
      "the audited ingest must have cached the shared decode")
    ingest.unpersist()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore).isEmpty,
      "unpersist() must release the decoded cache blocks")
  }

  test("zstd jsonl ingest: corrupt frames quarantined whole, corrupt lines raw, clean rows exact") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("jsonlzst_in").toFile.getAbsolutePath
    def zst(lines: Seq[String]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new com.github.luben.zstd.ZstdOutputStream(bos)
      z.write(lines.mkString("\n").getBytes("UTF-8")); z.close()
      bos.toByteArray
    }
    val goodA = (1 to 10).map(i => s"""{"doc_id":$i,"text":"doc $i"}""")
    val goodB = (11 to 20).map(i => s"""{"doc_id":$i,"text":"doc $i"}""") :+ "not json"
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.jsonl.zst"), zst(goodA))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.jsonl.zst"), zst(goodB))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "trunc.jsonl.zst"),
      zst((21 to 30).map(i => s"""{"doc_id":$i}""")).dropRight(8))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "rot.jsonl.zst"),
      Array.fill[Byte](64)(0x5a))
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val (clean, badLines, badFiles) = Sinks.readJsonLinesZstIngest(spark, dir, schema).tuple
    val cleanRows = clean.collect().map(r => (r.getLong(1), r.getString(2))).toSet
    assert(cleanRows == (1 to 20).map(i => (i.toLong, s"doc $i")).toSet)
    assert(badLines.collect().map(_.getString(1)).toSeq == Seq("not json"))
    val bf = badFiles.collect().map(r => (r.getString(0).split('/').last, r.getString(1))).toMap
    assert(bf.keySet == Set("trunc.jsonl.zst", "rot.jsonl.zst"),
      s"corrupt frames must quarantine whole: $bf")
  }

  test("warc.gz: docs round-trip through record-per-member archives; rotten records quarantine per record; truncated members per file") {
    val t = graft.operators.TextOps.plantUtf8Docs(tables)
    val dir = Files.createTempDirectory("warc_rt").toString
    Sinks.writeWarcGz(t.documents, dir, shards = 3)
    val (clean, badRec, badFiles) = Sinks.readWarcGzIngest(spark, dir).tuple
    assert(badRec.count() == 0 && badFiles.count() == 0,
      "a freshly written archive must have zero quarantines")
    val got = clean.collect()
      .map(r => r.getString(2) -> ((r.getString(1), r.getString(3),
        r.getLong(4), r.getString(6)))).toMap
    val want = t.documents.select(col("doc_id"), col("text")).collect()
      .map { r =>
        val id = r.getLong(0); val txt = Option(r.getString(1)).getOrElse("")
        s"urn:graft:doc:$id" -> (("response", s"https://example.org/doc/$id",
          txt.getBytes("UTF-8").length.toLong, txt))
      }.toMap
    assert(got == want,
      "every doc must round-trip with byte-counted Content-Length (multi-byte plants included)")
    // planted corruption: one healthy file; one file with a rotten
    // RECORD between two healthy ones (record-level quarantine, the
    // resync law); one file with a truncated gzip member (file-level)
    val dir2 = Files.createTempDirectory("warc_rot").toString
    import graft.sources.Warc
    def rec(id: Long, text: String) =
      Warc.responseRecord(s"urn:x:$id", s"https://x/$id", text)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir2, "ok.warc.gz"),
      Warc.gzipMember(rec(1, "alpha")) ++ Warc.gzipMember(rec(2, "beta")))
    val rotten = "WARC/1.0\r\nNoColonHeaderLine\r\n\r\njunk\r\n\r\n".getBytes("UTF-8")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir2, "midrot.warc.gz"),
      Warc.gzipMember(rec(3, "gamma")) ++ Warc.gzipMember(rotten) ++
        Warc.gzipMember(rec(4, "delta")))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir2, "trunc.warc.gz"),
      Warc.gzipMember(rec(5, "epsilon")) ++
        Warc.gzipMember(rec(6, "zeta")).dropRight(6))
    val (c2, br2, bf2) = Sinks.readWarcGzIngest(spark, dir2).tuple
    val ids = c2.collect().map(_.getString(2)).toSet
    assert(ids == Set("urn:x:1", "urn:x:2", "urn:x:3", "urn:x:4"),
      s"healthy records around a rotten one must survive; got $ids")
    val br = br2.collect().map(r => (r.getString(0).split('/').last, r.getString(1)))
    assert(br.length == 1 && br.head._1 == "midrot.warc.gz" &&
      br.head._2.contains("NoColonHeaderLine"),
      s"the rotten record must quarantine raw from its own file: ${br.toSeq}")
    val bf = bf2.collect().map(_.getString(0).split('/').last).toSet
    assert(bf == Set("trunc.warc.gz"),
      s"a truncated member must quarantine its whole file: $bf")
    // a payload that CONTAINS the version line must not be shredded
    val tricky = rec(7, "body with WARC/1.0\r\n inside it")
    val dir3 = Files.createTempDirectory("warc_tricky").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir3, "t.warc.gz"),
      Warc.gzipMember(tricky) ++ Warc.gzipMember(rec(8, "tail")))
    val (c3, br3, bf3) = Sinks.readWarcGzIngest(spark, dir3).tuple
    assert(br3.count() == 0 && bf3.count() == 0)
    val p7 = c3.filter(col("record_id") === "urn:x:7").collect()
    assert(p7.length == 1 && p7.head.getString(6) == "body with WARC/1.0\r\n inside it",
      "the Content-Length jump must carry a payload containing the magic")
  }

  test("avro ingest: corrupt containers and schema drift quarantine whole files; unfittable values quarantine rows") {
    import org.apache.spark.sql.types._
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val dir = Files.createTempDirectory("avro_in").toFile
    def avroSchema(json: String) = new org.apache.avro.Schema.Parser().parse(json)
    val schGood = avroSchema("""{"type":"record","name":"Doc","fields":[
      {"name":"doc_id","type":"long"},{"name":"text","type":"string"},
      {"name":"score","type":"string"}]}""")
    val schDrift = avroSchema("""{"type":"record","name":"Doc","fields":[
      {"name":"doc_id","type":"long"}]}""")
    def write(name: String, sch: org.apache.avro.Schema,
        recs: Seq[Map[String, Any]]): java.io.File = {
      val f = new java.io.File(dir, name)
      val w = new org.apache.avro.file.DataFileWriter(
        new GenericDatumWriter[GenericRecord](sch))
      w.create(sch, f)
      recs.foreach { m =>
        val r = new GenericData.Record(sch)
        m.foreach { case (k, v) => r.put(k, v) }
        w.append(r)
      }
      w.close(); f
    }
    write("a.avro", schGood, (1 to 10).map(i =>
      Map("doc_id" -> i.toLong, "text" -> s"doc $i", "score" -> s"$i.5")))
    // one record whose score string cannot cast to the declared double
    write("b.avro", schGood, Seq(
      Map("doc_id" -> 11L, "text" -> "doc 11", "score" -> "11.5"),
      Map("doc_id" -> 12L, "text" -> "doc 12", "score" -> "oops")))
    // schema drift: writer schema missing declared columns → whole file
    write("drift.avro", schDrift, Seq(Map("doc_id" -> 99L)))
    // corrupt container: truncate a valid file mid-block
    val cBytes = java.nio.file.Files.readAllBytes(
      write("c_src.avro", schGood, (20 to 40).map(i =>
        Map("doc_id" -> i.toLong, "text" -> s"doc $i", "score" -> "1.0")).toSeq).toPath)
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir.getPath, "c_src.avro"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir.getPath, "trunc.avro"),
      cBytes.dropRight(25))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("score", DoubleType)))
    val (clean, badRows, badFiles) = Sinks.readAvroIngest(spark, dir.getPath, schema).tuple
    assert(clean.schema.fieldNames.toSeq == Seq("src_file", "doc_id", "text", "score"))
    val cleanRows = clean.collect()
      .map(r => (r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    assert(cleanRows == ((1 to 10).map(i => (i.toLong, s"doc $i", i + 0.5)) :+
      ((11L, "doc 11", 11.5))).toSet,
      s"clean rows wrong: $cleanRows")
    val br = badRows.collect().map(_.getString(1))
    assert(br.length == 1 && br.head.contains("oops"), s"row quarantine wrong: ${br.toSeq}")
    val bf = badFiles.collect()
      .map(r => (r.getString(0).split('/').last, r.getString(1))).toMap
    assert(bf.keySet == Set("drift.avro", "trunc.avro"), s"file quarantine wrong: $bf")
    assert(bf("drift.avro").contains("schema_mismatch"))
    // all-or-nothing: no record from the truncated container leaked
    assert(cleanRows.forall(_._1 <= 12L))
  }

  test("csv ingest: schema enforced; malformed rows quarantined raw, clean rows exact") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("csv_in").toFile.getAbsolutePath
    val good = (1 to 20).map(i => s"""$i,doc number $i,en""")
    // a non-numeric id and a row that is one big unquoted mess
    val bad = Seq("""notanumber,text here,en""", """"unterminated quote,oops""")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-0.csv"),
      scala.util.Random.shuffle(good ++ bad).mkString("\n").getBytes)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    val (clean, quarantine) = Sinks.readCsvAudited(spark, dir, schema)
    assert(clean.schema.fieldNames.toSeq == Seq("doc_id", "text", "lang"))
    val cleanRows = clean.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(cleanRows == (1 to 20).map(i => (i.toLong, s"doc number $i", "en")).toSet)
    val quarantined = quarantine.collect().map(_.getString(0)).toSet
    assert(quarantined == bad.toSet, s"quarantine mismatch: $quarantined")
  }

  test("manifest: per-file rows/bytes/partition ledger; totals reconcile; readers ignore it") {
    val dir = Files.createTempDirectory("manifest").toFile.getAbsolutePath
    Sinks.writeEventsPartitioned(tables.events, dir)
    val m = Sinks.writeManifest(spark, dir).collect()
    assert(m.nonEmpty)
    // every row: a real parquet file with positive size, dt= partition extracted
    m.foreach { r =>
      assert(r.getString(0).endsWith(".parquet"))
      assert(r.getString(1).startsWith("dt="), s"partition not extracted: ${r.getString(1)}")
      assert(r.getLong(2) > 0L && r.getLong(3) > 0L)
    }
    // manifest row total == dataset row total; file set == directory listing
    assert(m.map(_.getLong(3)).sum == tables.events.count())
    // the persisted copy reads back identically, and a plain reader of
    // the data dir must NOT pick the manifest up (underscore-prefixed)
    val back = Sinks.readManifest(spark, dir).collect().map(_.getString(0)).toSet
    assert(back == m.map(_.getString(0)).toSet)
    assert(spark.read.parquet(dir).columns.toSeq.contains("event_id"),
      "data read must see the events schema, not the manifest's")
    assert(spark.read.parquet(dir).count() == tables.events.count(),
      "manifest rows must not leak into data reads")
  }

  test("kmv sketch artifact: write/read round trip; merged half-corpus sketches == whole-corpus sketch") {
    val k = 64
    val kmv = udaf(graft.functions.KmvSketch(k),
      org.apache.spark.sql.Encoders.scalaLong)
    val ev = tables.events.select(col("event_type"), col("event_id"),
      graft.functions.Hashing.md5_60(
        concat(lit("kmv:"), col("user_id").cast("string"))).as("hv"))
    def sketch(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("event_type")).agg(kmv(col("hv")).as("kept"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    val whole = asMap(sketch(ev))
    val d1 = Files.createTempDirectory("kmv1").toString
    val d2 = Files.createTempDirectory("kmv2").toString
    Sinks.writeKmvSketches(sketch(ev.filter(pmod(col("event_id"), lit(2)) === 0)), d1)
    Sinks.writeKmvSketches(sketch(ev.filter(pmod(col("event_id"), lit(2)) === 1)), d2)
    val merged = asMap(Sinks.mergeKmvSketches(
      Sinks.readKmvSketches(spark, d1), Sinks.readKmvSketches(spark, d2), k))
    assert(merged == whole,
      s"merged shard sketches must equal the whole-corpus sketch; " +
        s"diff keys: ${(whole.keySet ++ merged.keySet).filter(kk => whole.get(kk) != merged.get(kk)).take(2)}")
  }

  test("ivfpq index artifact: search off the persisted index == in-query D46; probe prunes code partitions at planning time") {
    val dir = Files.createTempDirectory("ivfpq_idx").toString
    // explicit nCells=16 so the equality law can compare against the
    // in-query D46 at its defaults (the sink's own default is the
    // corpus-adaptive autoNCells the r11 probe measured)
    Sinks.writeIvfPqIndex(tables, dir, nCells = 16)
    // cell-partitioned code layout on disk
    val cellDirs = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName)
    assert(cellDirs.length > 1, s"expected cell partitions, got ${cellDirs.toSeq}")
    val served = Sinks.searchIvfPqIndex(tables, dir)
    val inQuery = graft.operators.Similarity.annIvfRpq(tables)
    assert(served.collect().map(_.toSeq).toSeq ==
      inQuery.collect().map(_.toSeq).toSeq,
      "index-served results must equal the in-query D46 row-for-row")
    // planning-time pruning: the codes scan carries a cell partition
    // filter (the probe union), not a full-index read
    val pf = scanPartitionFilters(served)
    assert(pf.exists(_.contains("cell")),
      s"codes scan must prune on cell; partitionFilters: $pf")
  }

  test("D51 ledger served from the G39 artifact: graph_nnd layers read the persisted index, gated rows bit-equal to the memoized in-query path") {
    val dir = Files.createTempDirectory("gidx_ledger").toString
    // the default writeGraphIndex recipe IS the ledger's chain recipe
    // (kGraph 3, 8-bit 4-table banding, cap 128, kOut 16 / 3 rounds,
    // coarse 1/8 sample at kOut 8 / 2 rounds) — the stored edges are
    // the chain's final levels, parquet round-trip value-exact
    Sinks.writeGraphIndex(tables, dir)
    val sim = graft.operators.Similarity
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(rows(sim.annMethodRecall(tables, indexPath = Some(dir)).orderBy("method")) ==
      rows(sim.annMethodRecall(tables).orderBy("method")),
      "artifact-served ledger must equal the memoized path bit-for-bit")
  }

  test("coarse-layer drift card: fresh index has reach parity with its own re-sample; takedowns surface as negative share drift; compaction re-aligns stored and live membership") {
    import spark.implicits._
    val dir = Files.createTempDirectory("gidx_drift").toString
    // bits=2 densifies the banding so every sampled vertex joins the
    // coarse layer (at the spec corpus's 63-vertex sample, 8-bit
    // buckets leave some vertices — including the serving ENTRY —
    // candidate-less and edge-less; the card correctly reports reach 0
    // for that layer, which is the rot it exists to expose, but the
    // LAW here wants the healthy baseline)
    Sinks.writeGraphIndex(tables, dir, bits = 2)
    def card(path: String) =
      Sinks.coarseDriftCard(spark, path, bits = 2).collect()(0)
    val c0 = card(dir)
    // healthy fresh index: full sampled membership, zero share drift,
    // full entry-reach, and the fresh baseline re-derives the SAME
    // recipe on the same live set — exact parity
    assert(c0.getAs[Long]("n_coarse_stored") == c0.getAs[Long]("n_coarse_live"))
    // full membership ⇒ share == |sampled|/|corpus| ≈ 1/sampleMod (the
    // ±1-id granularity of the modulo rule is the only slack)
    assert(math.abs(c0.getAs[Double]("share_drift_r")) < 0.01,
      s"fresh drift must be granularity-only: $c0")
    assert(c0.getAs[Double]("reach_r") == 1.0 &&
      c0.getAs[Double]("reach_fresh_r") == 1.0 &&
      c0.getAs[Double]("reach_gap_r") == 0.0, s"fresh reach parity: $c0")
    // takedown wave hitting the coarse layer: every 16th id tombstones
    // half the sampled population — live share falls behind what a
    // re-sample of the live corpus would give
    val doomed = tables.embeddings.select(col("vec_id"))
      .filter(pmod(col("vec_id"), lit(16)) === 0)
    Sinks.deleteFromGraphIndex(spark, dir, doomed)
    val c1 = card(dir)
    assert(c1.getAs[Double]("share_drift_r") < 0.0,
      s"takedowns must surface as negative share drift: $c1")
    assert(c1.getAs[Long]("n_coarse_live") < c1.getAs[Long]("n_coarse_stored"),
      "tombstoned members stay stored (routing still traverses them)")
    // stored layer unchanged by tombstones — as-is reach holds steady
    assert(c1.getAs[Double]("reach_r") == 1.0)
    assert(c1.getAs[Double]("reach_fresh_r") > 0.0)
    // compaction purges: stored membership re-aligns with live
    val compacted = Files.createTempDirectory("gidx_drift_gc").toString
    Sinks.compactGraphIndex(spark, dir, compacted)
    val c2 = card(compacted)
    assert(c2.getAs[Long]("n_coarse_stored") == c2.getAs[Long]("n_coarse_live"),
      s"post-compact, stored coarse members must all be live: $c2")
    assert(c2.getAs[Long]("n_coarse_stored") < c0.getAs[Long]("n_coarse_stored"))
  }

  test("versioned index root: searches resolve the _current pointer; swap moves every reader atomically; missing versions refuse") {
    import spark.implicits._
    val root = Files.createTempDirectory("ivfpq_versioned").toString
    Sinks.writeIvfPqIndex(tables, Sinks.versionPath(root, 1), nCells = 16)
    Sinks.swapIndexVersion(spark, root, 1)
    assert(Sinks.currentIndexVersion(spark, root).contains(1L))
    def rows(path: String) = Sinks.searchIvfPqIndex(tables, path).collect()
      .map(_.toSeq).toSeq
    // the root serves its live version's artifact row-for-row
    assert(rows(root) == rows(Sinks.versionPath(root, 1)),
      "root search must equal the pointed-at version's artifact")
    // lifecycle ops resolve too: a delete lands in the LIVE version
    val doomed = rows(root).map(_(2).asInstanceOf[Long]).distinct
      .filter(_ >= 8).take(2)
    assert(doomed.nonEmpty)
    Sinks.deleteFromIvfPqIndex(spark, root, doomed.toDF("vec_id"))
    assert(new java.io.File(
      s"${Sinks.versionPath(root, 1)}/tombstones").isDirectory,
      "a delete through the root must land in the live version dir")
    assert(!rows(root).exists(r => doomed.contains(r(2))),
      "tombstoned vectors must stop serving through the root")
    // a fresh v2 (the compacted-artifact stand-in: no tombstones)
    // changes NOTHING until the pointer flips...
    Sinks.writeIvfPqIndex(tables, Sinks.versionPath(root, 2), nCells = 16)
    assert(!rows(root).exists(r => doomed.contains(r(2))),
      "building a new version must not affect serving before the swap")
    // ...and everything after: root search == v2's artifact row-for-row
    Sinks.swapIndexVersion(spark, root, 2)
    assert(Sinks.currentIndexVersion(spark, root).contains(2L))
    assert(rows(root) == rows(Sinks.versionPath(root, 2)),
      "post-swap root search must equal the new version's artifact")
    assert(rows(root).exists(r => doomed.contains(r(2))),
      "the rebuilt version carries no tombstones — the swap visibly moved serving")
    // a pointer to a version that was never built must refuse
    intercept[IllegalArgumentException](Sinks.swapIndexVersion(spark, root, 9))
    // an unversioned store resolves to itself (full back-compat)
    val flat = Files.createTempDirectory("ivfpq_flat").toString
    assert(Sinks.resolveIndexRoot(spark, flat) == flat)
  }

  test("versioned roots extend to the chunk store and dedup clusters: reads, deletes and compactions all resolve the pointer") {
    import spark.implicits._
    // chunk store: delete lands in the live version; compact+swap
    // serves the purged artifact through the same root
    val t = graft.operators.TextOps.plantUtf8Docs(tables)
    val root = Files.createTempDirectory("chunkstore_versioned").toString
    Sinks.writeChunkStore(t, Sinks.versionPath(root, 1))
    Sinks.swapIndexVersion(spark, root, 1)
    def served(path: String) = Sinks.readChunkStore(spark, path).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(served(root) == served(Sinks.versionPath(root, 1)),
      "chunk-store root must serve the pointed-at version")
    val victim = served(root).keys.min
    Sinks.deleteFromChunkStore(spark, root, Seq(victim).toDF("doc_id"))
    assert(new java.io.File(
      s"${Sinks.versionPath(root, 1)}/doc_tombstones").isDirectory,
      "a delete through the root must land in the live version")
    assert(!served(root).contains(victim))
    Sinks.compactChunkStore(spark, root, Sinks.versionPath(root, 2))
    Sinks.swapIndexVersion(spark, root, 2)
    assert(served(root) == served(Sinks.versionPath(root, 2)) &&
      !served(root).contains(victim),
      "post-swap the root serves the compacted store")
    // dedup clusters: same arc
    val croot = Files.createTempDirectory("clusters_versioned").toString
    Sinks.writeDedupClusters(tables, Sinks.versionPath(croot, 1))
    Sinks.swapIndexVersion(spark, croot, 1)
    def labels(path: String) = Sinks.readDedupClusters(spark, path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(croot) == labels(Sinks.versionPath(croot, 1)))
    val cvictim = labels(croot).keys.min
    Sinks.deleteFromDedupClusters(spark, croot, Seq(cvictim).toDF("doc_id"))
    assert(!labels(croot).contains(cvictim))
    Sinks.compactDedupClusters(spark, croot, Sinks.versionPath(croot, 2))
    Sinks.swapIndexVersion(spark, croot, 2)
    assert(labels(croot) == labels(Sinks.versionPath(croot, 2)) &&
      !labels(croot).contains(cvictim),
      "post-swap the root serves the re-clustered survivors")
  }

  test("chunk store append: daily deliveries dedup against the base store; every doc still round-trips; storage == one-shot store") {
    val tAll = graft.operators.TextOps.plantUtf8Docs(tables)
    def half(parity: Int) = graft.sources.Tables(spark, sfDir, docsOverride = Some(
      tAll.documents.filter(pmod(col("doc_id"), lit(2)) === parity)))
    val grown = Files.createTempDirectory("chunkstore_grow").toString
    val oneShot = Files.createTempDirectory("chunkstore_one").toString
    Sinks.writeChunkStore(half(0), grown)
    Sinks.appendToChunkStore(half(1), grown)
    Sinks.writeChunkStore(tAll, oneShot)
    // every document of the union (incl. multi-byte planted) round-trips
    val rebuilt = Sinks.readChunkStore(spark, grown).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val originals = tAll.documents.select(col("doc_id"), col("text"))
      .filter(length(col("text")) > 0)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rebuilt == originals, "grown store must reconstruct every doc byte-exactly")
    // storage discipline survives the append: the grown store holds
    // exactly the one-shot store's distinct chunks, each ONCE
    def hashes(dir: String) = spark.read.parquet(s"$dir/chunks")
      .select(col("chunk_hash")).collect().map(_.getString(0)).toSeq
    val g = hashes(grown)
    assert(g.distinct.sorted == hashes(oneShot).distinct.sorted,
      "grown store's chunk set must equal the one-shot store's")
    assert(g.length == g.distinct.length,
      "append must never store a chunk the base already holds")
  }

  test("chunk store append is idempotent under re-delivery, never resurrects deleted docs on replay, restores explicitly, and version-sniffs unmarked stores") {
    val t = graft.operators.TextOps.plantUtf8Docs(tables)
    val store = Files.createTempDirectory("chunkstore_redeliver").toString
    Sinks.writeChunkStore(t, store)
    val before = Sinks.readChunkStore(spark, store).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // re-deliver the ENTIRE corpus: manifest must not gain duplicate
    // rows and every doc must still round-trip single-chunked
    Sinks.appendToChunkStore(t, store)
    val manifest = spark.read.parquet(s"$store/manifest")
      .select(col("doc_id"), col("chunk_idx")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(manifest.length == manifest.distinct.length,
      "re-delivered docs must not duplicate manifest rows")
    assert(Sinks.readChunkStore(spark, store).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == before,
      "re-delivery must leave reconstruction unchanged")
    // tombstone + REPLAY of a batch containing the victim: the doc is
    // still in the manifest (tombstone only suppresses serving), so
    // the idempotence anti-join drops it — and its tombstone must
    // SURVIVE, or at-least-once re-delivery silently undoes takedowns
    import spark.implicits._
    val victim = t.documents.select(col("doc_id"))
      .filter(length(col("text")) > 0).limit(1).collect().head.getLong(0)
    Sinks.deleteFromChunkStore(spark, store, Seq(victim).toDF("doc_id"))
    assert(!Sinks.readChunkStore(spark, store).collect()
      .map(_.getLong(0)).contains(victim), "tombstone must suppress the doc")
    Sinks.appendToChunkStore(t, store) // replay: delivery includes the victim
    assert(!Sinks.readChunkStore(spark, store).collect()
      .map(_.getLong(0)).contains(victim),
      "replaying a historical batch must NOT resurrect a deleted doc")
    // explicit restore is the un-delete: the doc serves again, store
    // contents return to the original corpus
    Sinks.restoreToChunkStore(spark, store, Seq(victim).toDF("doc_id"))
    val served = Sinks.readChunkStore(spark, store).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(served.contains(victim),
      "an explicitly restored doc must serve again")
    assert(served == before, "store contents must equal the original corpus")
    // a doc deleted AND compacted away, then genuinely re-ingested,
    // must serve: its manifest rows are gone, so the append is a real
    // append and the stale tombstone clears with it
    val gcStore = Files.createTempDirectory("chunkstore_gc_reingest").toString
    Sinks.deleteFromChunkStore(spark, store, Seq(victim).toDF("doc_id"))
    Sinks.compactChunkStore(spark, store, gcStore)
    Sinks.deleteFromChunkStore(spark, gcStore, Seq(victim).toDF("doc_id"))
    Sinks.appendToChunkStore(t, gcStore) // re-ingest after GC
    assert(Sinks.readChunkStore(spark, gcStore).collect()
      .map(_.getLong(0)).contains(victim),
      "a compacted-away doc genuinely re-appended must serve again")
    // format-version guard: a marker-less store with the v2 BINARY
    // layout serves reads WITHOUT side effects (read-only stores
    // exist) and is adopted — marker stamped — only by a write/append
    // path; an actual pre-v2 layout (string payloads) still fails
    // loudly on read and append
    val legacy = Files.createTempDirectory("chunkstore_legacy").toString
    Sinks.writeChunkStore(t, legacy)
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete(); ()
    }
    rmrf(new java.io.File(s"$legacy/_format"))
    assert(Sinks.readChunkStore(spark, legacy).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == before,
      "a marker-less v2-layout store must be readable, not rejected")
    assert(!new java.io.File(s"$legacy/_format").exists(),
      "a read must NOT stamp the marker — reads stay side-effect free")
    Sinks.appendToChunkStore(t, legacy) // idempotent no-op delivery...
    assert(new java.io.File(s"$legacy/_format").isDirectory,
      "...but as a WRITE path it adopts: the missing marker is stamped")
    val preV2 = Files.createTempDirectory("chunkstore_prev2").toString
    spark.read.parquet(s"$legacy/chunks")
      .withColumn("chunk_bytes", col("chunk_bytes").cast("string"))
      .write.parquet(s"$preV2/chunks")
    spark.read.parquet(s"$legacy/manifest").write.parquet(s"$preV2/manifest")
    intercept[IllegalArgumentException](Sinks.readChunkStore(spark, preV2))
    intercept[IllegalArgumentException](Sinks.appendToChunkStore(t, preV2))
  }

  test("chunk store delete+compact: tombstoned docs never reconstruct; GC == one-shot store of the survivors") {
    val t = graft.operators.TextOps.plantUtf8Docs(tables)
    val store = Files.createTempDirectory("chunkstore_del").toString
    val compacted = Files.createTempDirectory("chunkstore_gc").toString
    val oneShot = Files.createTempDirectory("chunkstore_ref").toString
    Sinks.writeChunkStore(t, store)
    import spark.implicits._
    val doomed = t.documents.select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(3)) === 0).collect().map(_.getLong(0)).toSeq
    Sinks.deleteFromChunkStore(spark, store, doomed.toDF("doc_id"))
    def docsOf(dir: String) = Sinks.readChunkStore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val afterDelete = docsOf(store)
    assert(doomed.forall(id => !afterDelete.contains(id)),
      "a tombstoned doc must never reconstruct")
    // GC: compacted store ≡ one-shot store of the survivors, and chunks
    // unique to deleted docs are actually reclaimed
    Sinks.compactChunkStore(spark, store, compacted)
    val survivors = graft.sources.Tables(spark, sfDir, docsOverride = Some(
      t.documents.filter(pmod(col("doc_id"), lit(3)) =!= 0)))
    Sinks.writeChunkStore(survivors, oneShot)
    assert(docsOf(compacted) == docsOf(oneShot),
      "compacted store must reconstruct exactly the survivor corpus")
    def chunkSet(dir: String) = spark.read.parquet(s"$dir/chunks")
      .select(col("chunk_hash")).collect().map(_.getString(0)).toSet
    assert(chunkSet(compacted) == chunkSet(oneShot),
      "GC must keep exactly the chunks live docs reference")
    assert(chunkSet(compacted).size < chunkSet(store).size,
      "GC must actually reclaim chunks unique to deleted docs")
  }

  test("graph index: fresh search == in-query D53; NSW append finds planted duplicates; re-delivery idempotent; tombstones never serve") {
    val dir = Files.createTempDirectory("graphidx").toString
    Sinks.writeGraphIndex(tables, dir)
    val served = Sinks.searchGraphIndex(spark, dir).collect().map(_.toSeq)
    val inQuery = graft.operators.Similarity.annGraphSearchNnd(tables).orderBy("q_id", "rank")
      .collect().map(_.toSeq)
    assert(served.toSeq == inQuery.toSeq,
      "fresh-index search must equal the in-query D53 row-for-row")
    // NSW insertion-quality pin: append exact DUPLICATES of the query
    // vectors under new ids — each query must then find its duplicate
    // at cosine 1.0 (rank 1 or tied behind self), the strongest
    // deterministic "did the insert wire itself into the graph" law
    val offset = 1000000L
    val dups = tables.embeddings.filter(col("vec_id") < 8)
      .select((col("vec_id") + offset).as("vec_id"), col("embedding"))
    Sinks.appendToGraphIndex(spark, dir, dups)
    val after = Sinks.searchGraphIndex(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    (0L until 8L).foreach { qid =>
      val hit = after.filter(r => r._1 == qid && r._2 == qid + offset)
      assert(hit.nonEmpty && hit.head._3 == 1.0,
        s"query $qid must find its appended duplicate at cosine 1.0; " +
          s"got ${after.filter(_._1 == qid).toSeq}")
    }
    // idempotence: re-deliver the same batch — nothing duplicates
    val vecsBefore = spark.read.parquet(s"$dir/vectors").count()
    val edgesBefore = spark.read.parquet(s"$dir/edges").count()
    Sinks.appendToGraphIndex(spark, dir, dups)
    assert(spark.read.parquet(s"$dir/vectors").count() == vecsBefore,
      "re-delivered vectors must not duplicate")
    assert(spark.read.parquet(s"$dir/edges").count() == edgesBefore,
      "re-delivered vectors must not add edges")
    // delete: tombstoned ids never serve (here: the duplicates)
    import spark.implicits._
    Sinks.deleteFromGraphIndex(spark, dir,
      (0L until 8L).map(_ + offset).toDF("vec_id"))
    val postDelete = Sinks.searchGraphIndex(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(!postDelete.exists(_._2 >= offset),
      "a tombstoned vector must never be served")
    assert(postDelete.map(_._1).distinct.length == 8, "every query still answers")
    // G39 compaction (r13): purge tombstoned vertices and their edges,
    // fold the append waves into the base with the read-time
    // symmetrization MATERIALIZED — the served graph is preserved, so
    // post-compact search == pre-compact live search row-for-row (the
    // compactChunkStore/compactDedupClusters law shape)
    val preCompact = Sinks.searchGraphIndex(spark, dir).collect()
      .map(_.toSeq).toSeq
    val compacted = Files.createTempDirectory("graphidx_gc").toString
    Sinks.compactGraphIndex(spark, dir, compacted)
    val postCompact = Sinks.searchGraphIndex(spark, compacted).collect()
      .map(_.toSeq).toSeq
    assert(postCompact == preCompact,
      "post-compact search must equal the pre-compact live search row-for-row")
    // the artifact actually shrinks by the tombstoned share
    assert(spark.read.parquet(s"$compacted/vectors").count() ==
      spark.read.parquet(s"$dir/vectors").count() - 8,
      "compaction must drop exactly the tombstoned vectors")
    val cEdges = spark.read.parquet(s"$compacted/edges")
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(!cEdges.exists(e => e._1 >= offset || e._2 >= offset),
      "purged vertices must leave the edge relation entirely")
    // materialized symmetrization: the compacted layer is closed under
    // reversal, so the read-time symmetrize is a no-op on it
    val eset = cEdges.toSet
    assert(eset.forall(e => eset.contains((e._2, e._1))),
      "compacted edges must be symmetric (reverse edge present)")
    assert(new java.io.File(s"$compacted/tombstones").exists() == false,
      "a compacted index carries no tombstones")
  }

  test("dedup-cluster artifact: append == one-shot (merges included); re-delivery idempotent; delete serves nothing; compact == one-shot of survivors") {
    import graft.sources.Tables
    def clustersOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def half(parity: Int) = Tables(spark, sfDir, docsOverride = Some(
      tables.documents.filter(pmod(col("doc_id"), lit(2)) === parity)))
    val grown = Files.createTempDirectory("dclust_grow").toString
    val oneShot = Files.createTempDirectory("dclust_one").toString
    Sinks.writeDedupClusters(half(0), grown)
    Sinks.appendToDedupClusters(half(1), grown)
    Sinks.writeDedupClusters(tables, oneShot)
    val grownMap = clustersOf(Sinks.readDedupClusters(spark, grown))
    val oneMap = clustersOf(Sinks.readDedupClusters(spark, oneShot))
    assert(grownMap == oneMap,
      "base+append labels must equal the one-shot clustering exactly")
    // the law is only interesting if appends actually MERGE something:
    // some cross-parity pair must share a cluster
    val cross = oneMap.groupBy(_._2).values.exists(grp =>
      grp.keys.exists(_ % 2 == 0) && grp.keys.exists(_ % 2 == 1))
    assert(cross, "corpus must contain at least one cross-half cluster for the merge law to bite")
    // idempotence: re-deliver everything — nothing changes
    Sinks.appendToDedupClusters(tables, grown)
    assert(clustersOf(Sinks.readDedupClusters(spark, grown)) == oneMap,
      "re-delivery must be a no-op")
    val idxRows = spark.read.parquet(s"$grown/band_index")
      .select(col("db"), col("band")).collect().map(r => (r.getLong(0), r.get(1).toString))
    assert(idxRows.length == idxRows.distinct.length,
      "re-delivery must not duplicate band-index rows")
    // delete + compact
    import spark.implicits._
    val doomed = oneMap.keys.toSeq.sorted.take(oneMap.size / 5)
    Sinks.deleteFromDedupClusters(spark, grown, doomed.toDF("doc_id"))
    val served = clustersOf(Sinks.readDedupClusters(spark, grown))
    assert(doomed.forall(id => !served.contains(id)),
      "a tombstoned doc must never serve")
    val compacted = Files.createTempDirectory("dclust_gc").toString
    Sinks.compactDedupClusters(spark, grown, compacted)
    val survivors = Tables(spark, sfDir, docsOverride = Some(
      tables.documents.filter(!col("doc_id").isin(doomed: _*))))
    val survOne = Files.createTempDirectory("dclust_surv").toString
    Sinks.writeDedupClusters(survivors, survOne)
    assert(clustersOf(Sinks.readDedupClusters(spark, compacted)) ==
      clustersOf(Sinks.readDedupClusters(spark, survOne)),
      "compaction must equal a one-shot clustering of the survivors (bridge splits healed)")
  }

  test("ivfpq index append: saved-quantizer encode of arrivals == one-shot index; search over the grown index == in-query D46") {
    val dirA = Files.createTempDirectory("ivfpq_base").toString
    val dirB = Files.createTempDirectory("ivfpq_grow").toString
    Sinks.writeIvfPqIndex(tables, dirA, nCells = 16)
    // the grown index shares the PERSISTED quantizer artifacts (the
    // G30 contract: no retrain on append)
    def copyDir(from: String, to: String): Unit = {
      val src = java.nio.file.Paths.get(from)
      java.nio.file.Files.walk(src).forEach { p =>
        val dst = java.nio.file.Paths.get(to, src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
        else java.nio.file.Files.copy(p, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      }
    }
    copyDir(s"$dirA/coarse", s"$dirB/coarse")
    copyDir(s"$dirA/codebook", s"$dirB/codebook")
    val emb = tables.embeddings
    Sinks.appendToIvfPqIndex(spark, dirB, emb.filter(pmod(col("vec_id"), lit(2)) === 0))
    Sinks.appendToIvfPqIndex(spark, dirB, emb.filter(pmod(col("vec_id"), lit(2)) === 1))
    def codesOf(dir: String) = spark.read.parquet(s"$dir/codes")
      .select(col("vec_id"), col("cell").cast("long"), col("codes")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
    assert(codesOf(dirB) == codesOf(dirA),
      "two parity appends with the saved quantizers must reproduce the one-shot code relation exactly")
    val served = Sinks.searchIvfPqIndex(tables, dirB).collect().map(_.toSeq)
    val inQuery = graft.operators.Similarity.annIvfRpq(tables).collect().map(_.toSeq)
    assert(served.toSeq == inQuery.toSeq,
      "search over the grown index must equal the in-query D46 row-for-row")
  }

  test("ivfpq index: a NULL-embedding vector is never served, and the search equals the in-query D46 row-for-row") {
    import spark.implicits._
    val planted = tables.copy(embOverride = Some(tables.embeddings.unionByName(
      Seq((999999L, Option.empty[Seq[Float]], 0)).toDF("vec_id", "embedding", "label"))))
    val dir = Files.createTempDirectory("ivfpq_null").toString
    Sinks.writeIvfPqIndex(planted, dir, nCells = 16)
    // the NULL vector is indexed (codes of NULLs) in a cell a query probes
    val nullCell = spark.read.parquet(s"$dir/codes").filter(col("vec_id") === 999999L)
      .select(col("cell").cast("long")).collect().map(_.getLong(0))
    assert(nullCell.length == 1)
    val probed = graft.operators.Similarity
      .probeCells(planted, Sinks.readQuantizer(spark, s"$dir/coarse"), 8, 4)
      .select(col("pcell")).collect().map(_.getLong(0)).toSet
    assert(probed.contains(nullCell.head), s"cell ${nullCell.head} must be probed: $probed")
    val served = Sinks.searchIvfPqIndex(planted, dir).collect().map(_.toSeq).toSeq
    assert(served.nonEmpty && !served.exists(r => r(2) == 999999L || r(3) == null),
      s"a NULL embedding must never serve:\n${served.take(5).mkString("\n")}")
    val inQuery = graft.operators.Similarity.annIvfRpq(planted).collect().map(_.toSeq).toSeq
    assert(served == inQuery, "index search must equal the in-query D46 row-for-row")
  }

  test("ivfpq index delete: tombstoned vectors never serve; results equal a never-indexed-them scorer run") {
    val dir = Files.createTempDirectory("ivfpq_del").toString
    Sinks.writeIvfPqIndex(tables, dir, nCells = 16)
    // tombstone exactly the vectors the index WOULD have served (the
    // strongest case: every removal was a live result)
    val servedBefore = Sinks.searchIvfPqIndex(tables, dir).collect()
    val doomed = servedBefore.map(_.getLong(2)).distinct.take(5)
    import spark.implicits._
    Sinks.deleteFromIvfPqIndex(spark, dir, doomed.toSeq.toDF("vec_id"))
    val after = Sinks.searchIvfPqIndex(tables, dir).collect()
    assert(!after.exists(r => doomed.contains(r.getLong(2))),
      "a tombstoned vector must never be served")
    // equality with a scorer that never saw the deleted codes at all
    val sim = graft.operators.Similarity
    val coarse = Sinks.readQuantizer(spark, s"$dir/coarse")
    val pqr = Sinks.readQuantizer(spark, s"$dir/codebook")
    val filtered = spark.read.parquet(s"$dir/codes")
      .select(col("vec_id"), col("cell").cast("long").as("cell"), col("codes"))
      .filter(!col("vec_id").isin(doomed.toSeq: _*))
    val expected = sim.annIvfRpqWith(tables, coarse, pqr, filtered,
      nQueries = 8, k = 5, m = 8, nProbe = 4).collect()
    assert(after.map(_.toSeq).toSeq == expected.map(_.toSeq).toSeq,
      "tombstoned search must equal scoring an index that never contained the deleted vectors")
  }

  test("ivfpq probed-dir read: a probed cell without a dir serves nothing, all-missing probes serve empty, an append into an emptied cell serves at once") {
    val dir = Files.createTempDirectory("ivfpq_holes").toString
    Sinks.writeIvfPqIndex(tables, dir, nCells = 16)
    val quantizers = (Sinks.readQuantizer(spark, s"$dir/coarse"),
      Sinks.readQuantizer(spark, s"$dir/codebook"))
    val pcRows = graft.operators.Similarity.probeCells(tables, quantizers._1, 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2))).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    def serve(pc: Seq[(Long, Long, Seq[Double])]) =
      rows(Sinks.searchIvfPqIndexLocal(spark, dir, pc, 5, 8, quantizers))
    val full = rows(Sinks.searchIvfPqIndex(tables, dir))
    // empty the cell of the first served vector: the index then has a
    // probed cell with no `cell=` dir, as a cell no vector landed in
    val cellOf = spark.read.parquet(s"$dir/codes").select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val hole = cellOf(full.head(2).asInstanceOf[Long])
    val holeIds = cellOf.collect { case (v, c) if c == hole => v }.toSeq
    val holeDir = new java.io.File(s"$dir/codes/cell=$hole")
    org.apache.commons.io.FileUtils.deleteDirectory(holeDir)
    // 1. a probe into the missing dir serves the rows of a probe set without it
    val withHole = rows(Sinks.searchIvfPqIndex(tables, dir))
    assert(withHole != full && !withHole.exists(r => holeIds.contains(r(2))),
      "the emptied cell's vectors must no longer serve")
    assert(withHole == serve(pcRows) && withHole == serve(pcRows.filter(_._2 != hole)),
      "probing a cell with no dir must serve what the probe set without it serves")
    // 2. every probed cell missing: an empty result, not PATH_NOT_FOUND
    assert(serve(pcRows.filter(_._2 == hole)).isEmpty)
    // 3. re-appending the cell's vectors recreates its dir; the next
    // search lists it (no stale listing) and serves them again
    Sinks.appendToIvfPqIndex(spark, dir,
      tables.embeddings.filter(col("vec_id").isin(holeIds: _*)))
    assert(holeDir.isDirectory)
    assert(rows(Sinks.searchIvfPqIndex(tables, dir)) == full,
      "after the append the search must equal the original index's")
  }

  test("ivfpq index search job budget: at autoNCells (> the parallel-listing threshold) a call runs <= 9 jobs, none a file listing; the codes scan's roots are the probed cell dirs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val dir = Files.createTempDirectory("ivfpq_budget").toString
    Sinks.writeIvfPqIndex(tables, dir) // autoNCells: 500 vectors -> 92 cells
    val cells = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName.stripPrefix("cell=").toLong).toSet
    val threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    assert(cells.size > threshold,
      s"${cells.size} cell dirs must exceed the listing threshold $threshold")
    // (the served DataFrame, the descriptions of the jobs one call ran)
    def searchJobs(): (org.apache.spark.sql.DataFrame, Seq[String]) = {
      val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          jobs.add(Option(js.properties).flatMap(p =>
            Option(p.getProperty("spark.job.description"))).getOrElse(""))
          ()
        }
      }
      val sc = spark.sparkContext
      org.apache.spark.graft.ListenerDrain.drain(sc)
      sc.addSparkListener(listener)
      val df = try {
        val df = Sinks.searchIvfPqIndex(tables, dir)
        assert(df.collect().nonEmpty)
        org.apache.spark.graft.ListenerDrain.drain(sc)
        df
      } finally sc.removeSparkListener(listener)
      (df, jobs.toArray.toSeq.map(_.toString))
    }
    val (served, descs) = searchJobs()
    assert(descs.size <= 9, s"${descs.size} jobs per search call:\n${descs.mkString("\n")}")
    assert(!descs.exists(_.startsWith("Listing leaf files")), descs.mkString("\n"))
    // listing-time pruning: the codes relation is rooted at exactly the
    // probed cell dirs that exist
    val coarse = Sinks.readQuantizer(spark, s"$dir/coarse")
    val probed = graft.operators.Similarity.probeCells(tables, coarse, 8, 4)
      .select(col("pcell")).distinct().collect().map(_.getLong(0)).toSet
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec        => walk(s.plan)
      case o                        => o +: o.children.flatMap(walk)
    }
    val roots = walk(served.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toUri.getPath)
    }.flatten.toSet
    assert(roots.nonEmpty && roots.size < cells.size)
    assert(roots == probed.intersect(cells).map(c => s"$dir/codes/cell=$c"),
      s"codes scan roots $roots != probed cell dirs ${probed.toSeq.sorted}")
    // tombstones cost exactly their broadcast: no schema-inference job
    import spark.implicits._
    Sinks.deleteFromIvfPqIndex(spark, dir, Seq(1L, 2L, 3L).toDF("vec_id"))
    val (_, tombDescs) = searchJobs()
    assert(tombDescs.size <= descs.size + 1,
      s"${tombDescs.size} jobs with tombstones vs ${descs.size} without:\n${tombDescs.mkString("\n")}")
  }

  test("ivfpq index build: every cell dir holds exactly one parquet file") {
    val dir = Files.createTempDirectory("ivfpq_files").toString
    Sinks.writeIvfPqIndex(tables, dir, nCells = 16)
    val cellDirs = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.getName.startsWith("cell="))
    assert(cellDirs.length > 1)
    cellDirs.foreach { d =>
      val files = d.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      assert(files.length == 1, s"${d.getName}: ${files.toSeq}")
    }
    assert(spark.read.parquet(s"$dir/codes").count() == tables.embeddings.count())
  }

  test("sample shard artifact: merged half-corpus samples == whole-corpus sample at pair and quantile level") {
    val k = 64
    val bkp = udaf(graft.functions.BottomKPairs(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble))
    val ev = tables.events.select(col("event_type"), col("event_id"),
      graft.functions.Hashing.md5_60(
        concat(lit("qsample:"), col("event_id").cast("string"))).as("hv"),
      col("value").as("x"))
    def shard(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("event_type")).agg(bkp(col("hv"), col("x")).as("raw"))
        .select(col("event_type"), transform(col("raw"),
          s => struct(s.getField("_1").as("h"), s.getField("_2").as("v")))
          .as("pairs"))
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getLong(0), p.getDouble(1))).toSeq).toMap
    val whole = pairsOf(shard(ev))
    val d1 = Files.createTempDirectory("qs1").toString
    val d2 = Files.createTempDirectory("qs2").toString
    Sinks.writeSampleShards(shard(ev.filter(pmod(col("event_id"), lit(2)) === 0)), d1)
    Sinks.writeSampleShards(shard(ev.filter(pmod(col("event_id"), lit(2)) === 1)), d2)
    val merged = Sinks.mergeSampleShards(
      Sinks.readSampleShards(spark, d1), Sinks.readSampleShards(spark, d2), k)
    assert(pairsOf(merged) == whole,
      "merged shard samples must equal the whole-corpus sample pair-for-pair")
    // quantile card off the merged artifact == card off the direct sample
    val qm = Sinks.sampleQuantiles(merged).collect().map(_.toSeq).sortBy(_.head.toString)
    val qd = Sinks.sampleQuantiles(shard(ev)).collect().map(_.toSeq).sortBy(_.head.toString)
    assert(qm.toSeq == qd.toSeq, "quantiles off merged shards diverged from direct")
  }

  test("top-k shard artifact: merged half-corpus top-ks == whole-corpus top-k (semilattice, exact)") {
    val k = 3
    val tk = udaf(graft.functions.TopKRows(k),
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong))
    val ev = tables.events.select(col("event_type"), col("event_id"), col("value"))
    def shard(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("event_type")).agg(tk(col("value"), col("event_id")).as("raw"))
        .select(col("event_type"), transform(col("raw"),
          s => struct(s.getField("_1").as("v"), s.getField("_2").as("id")))
          .as("pairs"))
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getDouble(0), p.getLong(1))).toSeq).toMap
    val whole = pairsOf(shard(ev))
    val d1 = Files.createTempDirectory("tk1").toString
    val d2 = Files.createTempDirectory("tk2").toString
    Sinks.writeTopKShards(shard(ev.filter(pmod(col("event_id"), lit(2)) === 0)), d1)
    Sinks.writeTopKShards(shard(ev.filter(pmod(col("event_id"), lit(2)) === 1)), d2)
    val merged = pairsOf(Sinks.mergeTopKShards(
      Sinks.readTopKShards(spark, d1), Sinks.readTopKShards(spark, d2), k))
    assert(merged == whole,
      "top-k of merged shards must equal the whole-corpus top-k exactly — selection is a semilattice")
  }

  test("chunk store: dedup storage round-trips every document byte-exactly") {
    val dir = Files.createTempDirectory("chunkstore").toString
    // planted multi-byte docs included: a CDC cut can split a multi-byte
    // character, so this round-trip only holds if chunk payloads are
    // bytes and reassembly concatenates before decoding
    val tCdc = graft.operators.TextOps.plantUtf8Docs(tables)
    Sinks.writeChunkStore(tCdc, dir)
    val rebuilt = Sinks.readChunkStore(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val originals = tCdc.documents
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) > 0)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(originals.exists { case (_, t) =>
      t.getBytes("UTF-8").length != t.length },
      "planted corpus must contain multi-byte docs for this law to bite")
    assert(rebuilt.keySet == originals.keySet, "every non-empty doc must reconstruct")
    val bad = originals.collect { case (id, t) if rebuilt(id) != t => id }
    assert(bad.isEmpty, s"reconstruction mismatch for docs ${bad.take(3)}")
    // the store must actually dedup: unique chunks < total manifest refs
    val nChunks = spark.read.parquet(s"$dir/chunks").count()
    val nRefs = spark.read.parquet(s"$dir/manifest").count()
    assert(nChunks < nRefs, s"store must share duplicate chunks ($nChunks vs $nRefs)")
  }

  test("graph index provisioning guard: an edge-less serving entry refuses at build time when required; coarser banding builds clean") {
    val dir = Files.createTempDirectory("gidx_guard").toString
    // the spec corpus's 63-vertex sample at default 8-bit banding
    // leaves the serving entry isolated (the G42 honesty note) — the
    // guard surfaces it at BUILD time, when the operator can still
    // re-provision, instead of shipping reach-0 serving
    val ex = intercept[IllegalStateException](
      Sinks.writeGraphIndex(tables, dir, requireNavigableEntry = true))
    assert(ex.getMessage.contains("no out-edges"))
    // the default build is warn-only (existing callers unchanged) and
    // the degree is queryable after the fact
    Sinks.writeGraphIndex(tables, dir)
    assert(Sinks.coarseEntryOutDegree(spark, dir) == 0L)
    // coarser banding connects the layer: the strict build passes
    val dir2 = Files.createTempDirectory("gidx_guard2").toString
    Sinks.writeGraphIndex(tables, dir2, bits = 2,
      requireNavigableEntry = true)
    assert(Sinks.coarseEntryOutDegree(spark, dir2) > 0L)
  }

  test("prefix-sliced embeddings: concat round-trips the withNorm vector bit-exactly; served D56/D57 equal the in-query paths; retrieval never opens the tail column group; versioned roots resolve") {
    val dir = Files.createTempDirectory("prefix_sliced").toString
    val p = 16
    Sinks.writeEmbeddingsPrefixSliced(tables, dir, p)
    val sim = graft.operators.Similarity
    // meta contract
    assert(Sinks.readPrefixSlicedMeta(spark, dir) == ((16, 64)))
    intercept[IllegalArgumentException](
      Sinks.writeEmbeddingsPrefixSliced(tables, dir + "_bad", 64))
    // round trip: concat(v_prefix, v_tail) and its recomputed n2 must
    // be BIT-equal to the in-query withNorm cast — the property every
    // bit-equality law below rests on (doubles: any re-association
    // would flip low bits)
    val rebuilt = Sinks.prefixSlicedFullRel(spark, dir, lit(true))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Double](1), r.getDouble(2)))).toMap
    val orig = sim.withNorm(tables.embeddings)
      .select(col("vec_id"), col("v"), col("n2"))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Double](1), r.getDouble(2)))).toMap
    assert(rebuilt == orig, "sliced concat must round-trip withNorm bit-exactly")
    // served ≡ in-query, both forms — while a listener audits every
    // scan the serving paths run (the pool collect is its own action,
    // so a final-plan pin would miss the corpus-sized retrieval scan)
    case class Scan(cols: Seq[String], pushed: String)
    val scans = new java.util.concurrent.ConcurrentLinkedQueue[Scan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      import org.apache.spark.sql.execution._
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
      private def walk(n: SparkPlan): Seq[SparkPlan] = n match {
        case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
        case s: QueryStageExec => s +: walk(s.plan)
        case r: ReusedExchangeExec => r +: walk(r.child)
        case o => o +: (o.children ++ o.subqueries).flatMap(walk)
      }
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        walk(qe.executedPlan).foreach {
          case s: FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.contains(s"$dir/sliced")) =>
            scans.add(Scan(s.requiredSchema.fieldNames.toSeq,
              s.metadata.getOrElse("PushedFilters", "")))
            ()
          case _ => ()
        }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (servedRows, servedIvfRows) = try {
      val a = Sinks.searchPrefixSliced(spark, dir).collect().map(_.toSeq).toSeq
      val b = Sinks.searchPrefixSlicedIvf(spark, dir).collect().map(_.toSeq).toSeq
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      (a, b)
    } finally spark.listenerManager.unregister(listener)
    assert(servedRows ==
      sim.annPrefixRerank(tables).collect().map(_.toSeq).toSeq,
      "artifact-served D56 must equal the in-query path bit-for-bit")
    assert(servedIvfRows ==
      sim.annPrefixIvfRerank(tables).collect().map(_.toSeq).toSeq,
      "artifact-served D57 must equal the in-query path bit-for-bit")
    import scala.jdk.CollectionConverters._
    val all = scans.asScala.toSeq
    assert(all.nonEmpty, "listener captured no artifact scans")
    // the byte law: corpus-sized retrieval scans project ONLY the
    // prefix column group; the tail group is opened exclusively under
    // a planned vec_id pushdown (the bounded pool/query fetch)
    val prefScans = all.filterNot(_.cols.contains("v_tail"))
    val tailScans = all.filter(_.cols.contains("v_tail"))
    assert(prefScans.nonEmpty && tailScans.nonEmpty)
    val badPref = prefScans.filterNot(_.cols.toSet.subsetOf(Set("vec_id", "v_prefix")))
    assert(badPref.isEmpty,
      s"retrieval scans must project only (vec_id, v_prefix): $badPref")
    val unpushed = tailScans.filterNot(_.pushed.contains("vec_id"))
    assert(unpushed.isEmpty,
      s"every tail-opening scan must carry a pushed vec_id predicate: $unpushed")
    // G41: the same artifact behind a versioned root serves identically
    val root = Files.createTempDirectory("prefix_sliced_root").toString
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(s"$root/versions/1"))
    Sinks.swapIndexVersion(spark, root, 1)
    assert(Sinks.searchPrefixSliced(spark, root).collect().map(_.toSeq).toSeq
      == servedRows, "versioned-root serve must equal the direct serve")
  }
}
