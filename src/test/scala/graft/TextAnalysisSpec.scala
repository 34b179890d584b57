package graft

import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** Invariants for the round-5 text additions: repetition signals
  * (E12), collocations (E13), and the composed curation pipeline
  * (E14). Oracle parity is the driver gate; these pin the laws a
  * hash-compare can't express (bounds, orderings, cross-operator
  * agreement) plus a by-hand recomputation of one document.
  */
class TextAnalysisSpec extends SparkSpec {

  test("mergeable corpus stats: split-merge == direct on adversarial random corpora") {
    import spark.implicits._
    // random token counts with heavy ties and tiny sources — the
    // regimes where histogram-derived interpolated percentiles can
    // drift from the multiset form if the cum-count indexing is off
    // by one (single-doc sources, all-equal sources, exact-boundary n)
    val rnd = new scala.util.Random(7)
    val docs = (0 until 300).map { i =>
      val src = s"s${rnd.nextInt(7)}"
      val n = rnd.nextInt(6) match {
        case 0 => 1
        case 1 => 4 // heavy tie mass
        case _ => 1 + rnd.nextInt(30)
      }
      (i.toLong, Seq.fill(n)("w").mkString(" "), s"l${rnd.nextInt(3)}", src, n.toLong)
    } :+ ((300L, "w", "solo", "only_one_doc", 1L))
    val df = docs.toDF("doc_id", "text", "lang", "source", "n_chars")
    val t = tables.copy(docsOverride = Some(df))
    val direct = graft.operators.TextOps.corpusStats(t).collect().map(_.toSeq)
    val a = graft.operators.TextOps.corpusStatsMoments(df.filter($"doc_id" % 3 === 0))
    val b = graft.operators.TextOps.corpusStatsMoments(df.filter($"doc_id" % 3 =!= 0))
    val merged = graft.operators.TextOps.corpusStatsFromMoments(a.unionByName(b))
      .collect().map(_.toSeq)
    assert(merged.sameElements(direct),
      s"merge≠direct: ${merged.zip(direct).filter(p => p._1 != p._2).take(3).toSeq}")
  }

  test("repetition: counts consistent, fracs in [0,1], doc 0 recomputed by hand") {
    val rows = TextOps.textRepetition(tables).collect()
    assert(rows.length == tables.documents.count())
    rows.foreach { r =>
      val (nTok, nDis, top) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (nBig, nDisBig) = (r.getLong(4), r.getLong(5))
      assert(nDis <= nTok && top >= 1 && top <= nTok)
      assert(nBig == math.max(nTok - 1, 0L) && nDisBig <= nBig)
      Seq(6, 7, 8).foreach { i =>
        val f = r.getDouble(i)
        assert(f >= 0.0 && f <= 1.0, s"frac $i out of range: $f")
      }
    }
    val text = tables.documents.filter(col("doc_id") === 0)
      .select("text").head.getString(0)
    val tk = text.toLowerCase.split(" ", -1).toSeq
    val bg = if (tk.size < 2) Seq.empty else tk.sliding(2).map(_.mkString(" ")).toSeq
    val r0 = rows.find(_.getLong(0) == 0L).get
    assert(r0.getLong(1) == tk.size)
    assert(r0.getLong(2) == tk.distinct.size)
    assert(r0.getLong(3) == tk.groupBy(identity).map(_._2.size).max)
    assert(r0.getLong(4) == bg.size && r0.getLong(5) == bg.distinct.size)
  }

  test("native WordGrams == composed transform formulation on the corpus (both distinct flags)") {
    import graft.functions.Hashing.tokens
    val rows = tables.documents.select(
      call_function("graft_bigram_strings", col("text")).as("native"),
      TextOps.bigramStringsComposed(tokens(col("text"))).as("composed"),
      call_function("graft_bigram_strings_distinct", col("text")).as("native_d"),
      array_distinct(call_function("graft_bigram_strings", col("text"))).as("composed_d"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), "non-distinct mismatch")
      assert(r.getSeq[String](2) == r.getSeq[String](3), "distinct mismatch")
    }
  }

  test("WordGrams edge cases: empty, repeated spaces, single token, unicode, null") {
    import spark.implicits._
    import graft.functions.Hashing.tokens
    val edge = Seq(
      (1L, ""), (2L, " "), (3L, "a"), (4L, "a b"), (5L, "a  b"),
      (6L, "日 本 語"), (7L, "A B a b"))
      .toDF("id", "text")
      .union(Seq((8L, null.asInstanceOf[String])).toDF("id", "text"))
    val rows = edge.select(col("id"),
      call_function("graft_bigram_strings", col("text")).as("native"),
      TextOps.bigramStringsComposed(tokens(col("text"))).as("composed"))
      .collect()
    rows.foreach { r =>
      val n = if (r.isNullAt(1)) null else r.getSeq[String](1)
      val c = if (r.isNullAt(2)) null else r.getSeq[String](2)
      assert(n == c, s"id=${r.getLong(0)}: native=$n composed=$c")
    }
    val byId = rows.map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) null else r.getSeq[String](1))).toMap
    assert(byId(1L) == Seq.empty)          // "" → [""] → <2 tokens
    assert(byId(2L) == Seq(" "))           // " " → ["",""] → one bigram " "
    assert(byId(3L) == Seq.empty)          // single token
    assert(byId(4L) == Seq("a b"))
    assert(byId(5L) == Seq("a ", " b"))    // double space → empty middle token
    assert(byId(6L) == Seq("日 本", "本 語")) // unicode tokens pass through
    assert(byId(7L) == Seq("a b", "b a", "a b")) // lowercased, duplicates kept
    assert(byId(8L) == null)               // null in → null out
  }

  test("WordGrams ∘ Md5Prefix60 == GramHashes on ≥3-token docs (cross-expression law)") {
    // the string-emitting and hash-emitting fused expressions must
    // describe the SAME n-grams; hashing WordGrams' output must land
    // exactly on GramHashes' (their only divergence is the <n-token
    // fallback, filtered out here)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_test_wg3",
      exprs => graft.functions.WordGrams(exprs.head, 3, distinct = true), "built-in")
    val rows = tables.documents
      .filter(size(split(lower(col("text")), " ")) >= 3)
      .select(
        expr("transform(graft_test_wg3(text), g -> graft_md5_60(g))").as("via_strings"),
        call_function("graft_gram3_hashes", col("text")).as("fused"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
      "string-path and fused-path grams diverge"))
  }

  test("collocations: bounded top-k, min count honored, lift descending and positive") {
    val out = TextOps.textCollocations(tables).collect()
    assert(out.nonEmpty && out.length <= 20)
    assert(out.forall(_.getLong(2) >= 5), "bigram below minCount surfaced")
    val lifts = out.map(_.getDouble(5))
    assert(lifts.forall(_ > 0.0))
    assert(lifts.sameElements(lifts.sortBy(-_)), "lift not sorted descending")
  }

  test("curate: keep iff no reason flags; duplicate flag agrees with exact dedup") {
    val rows = TextOps.docCurate(tables).collect()
    assert(rows.length == tables.documents.count())
    rows.foreach { r =>
      val (lq, lm, dup, keep) = (r.getInt(5), r.getInt(6), r.getInt(7), r.getInt(8))
      assert((keep == 1) == (lq == 0 && lm == 0 && dup == 0),
        s"doc ${r.getLong(0)}: keep inconsistent with flags")
    }
    val dupIds = rows.filter(_.getInt(7) == 1).map(_.getLong(0)).toSet
    val all = tables.documents.selectExpr("doc_id", "md5(text) AS h")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val minBy = all.groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    assert(dupIds == all.filter { case (id, h) => id != minBy(h) }.map(_._1).toSet)
  }

  test("pii scrub: emails and digit runs masked with exact audit counts (crafted docs)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact bob.smith@example.com or 555 1234 now"),
      (2L, "no pii here at all"),
      (3L, "a@b.io x9 y42 a@b.io")).toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-pii").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextOps.docScrubPii(graft.sources.Tables(spark, tmp)).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows(1L) == (("contact <email> or # # now", 1L, 2L)))
    assert(rows(2L) == (("no pii here at all", 0L, 0L)))
    assert(rows(3L) == (("<email> x# y# <email>", 2L, 2L)))
  }

  test("corpus stats: totals reconcile with the corpus, percentiles ordered") {
    val rows = TextOps.corpusStats(tables).collect()
    assert(rows.map(_.getLong(1)).sum == tables.documents.count())
    rows.foreach { r =>
      val (nDocs, total, avg) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      val (p50, p90, nLangs) = (r.getDouble(4), r.getDouble(5), r.getLong(6))
      assert(math.abs(avg - total.toDouble / nDocs) < 1e-6)
      assert(p50 <= p90, s"${r.getString(0)}: p50 $p50 > p90 $p90")
      assert(nLangs >= 1 && nLangs <= 5)
    }
  }

  test("sample-k: exact per-source budget, two-stage == single-window reference") {
    import org.apache.spark.sql.expressions.Window
    val k = 10
    val rows = TextOps.docSampleK(tables, k = k).collect()
    val sizes = tables.documents.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getString(1)).foreach { case (s, rs) =>
      assert(rs.length == math.min(k.toLong, sizes(s)), s"source $s budget violated")
      assert(rs.map(_.getLong(3)).sorted.toSeq == (1L to rs.length).toSeq, s"$s ranks not dense")
    }
    val ref = tables.documents
      .select(col("doc_id"), col("source"),
        graft.functions.Hashing.md5_60(
          concat(lit("sample:"), col("doc_id").cast("string"))).as("skey"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("skey"), col("doc_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r.getLong(0) -> r.getLong(3)).toMap == ref,
      "two-stage top-k diverges from the single-window formulation")
  }

  test("shard shuffle: two-phase positions == single-window reference") {
    import org.apache.spark.sql.expressions.Window
    val nShards = 16
    val got = TextOps.docShardShuffle(tables, nShards).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val ref = tables.documents
      .select(col("doc_id"),
        graft.functions.Hashing.md5_60(
          concat(lit("graft:"), col("doc_id").cast("string"))).as("sort_key"))
      .withColumn("shard", pmod(col("sort_key"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("sort_key"), col("doc_id"))).cast("long"))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == ref, "two-phase shard positions diverge from the window formulation")
  }

  test("span removal: originally-contiguous surviving windows are corpus-unique; untouched docs verbatim") {
    val docs = tables.documents.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = TextOps.docSpanRemoval(tables).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.length == docs.size, "every doc must appear in the rewrite")
    // reference computation: original span frequencies + coverage
    def h60(s: String): Long = java.lang.Long.parseUnsignedLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(15), 16)
    def windows(text: String): Seq[(Int, Long)] = {
      val tk = text.toLowerCase.split(" ", -1)
      if (tk.length < 4) Seq.empty
      else (0 to tk.length - 4).map(i => i -> h60(tk.slice(i, i + 4).mkString(" ")))
    }
    val freq = docs.values.toSeq.flatMap(windows).groupBy(_._2).view.mapValues(_.size).toMap
    out.foreach { case (id, clean, nTokens, nRemoved) =>
      val orig = docs(id).split(" ", -1)
      assert(nTokens == orig.length)
      val covered = windows(docs(id)).collect {
        case (i, h) if freq(h) >= 2 => i until (i + 4)
      }.flatten.toSet
      assert(nRemoved == covered.size, s"doc $id audit count")
      val kept = orig.indices.filterNot(covered)
      assert(clean == kept.map(orig).mkString(" "), s"doc $id rewrite")
      // the dedup guarantee a single pass CAN make: any window of 4
      // originally-contiguous kept tokens was unique in the corpus
      kept.sliding(4).foreach {
        case w if w.length == 4 && w.last - w.head == 3 =>
          val h = h60(w.map(j => orig(j).toLowerCase).mkString(" "))
          assert(freq(h) == 1, s"doc $id kept a duplicated span at ${w.head}")
        case _ =>
      }
      if (covered.isEmpty) assert(clean == docs(id), s"untouched doc $id must be verbatim")
    }
  }

  test("split: labels match the mille buckets; assignment stable when the corpus shrinks") {
    import spark.implicits._
    val rows = TextOps.docSplit(tables).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(rows.length == tables.documents.count())
    rows.foreach { case (id, m, s) =>
      val want = if (m < 990) "train" else if (m < 995) "valid" else "test"
      assert(s == want, s"doc $id: mille $m labeled $s")
    }
    // growth/shrink stability: the split is a pure function of doc_id,
    // so recomputing over HALF the corpus must assign the same labels
    val tmp = java.nio.file.Files.createTempDirectory("graft-split").toString
    tables.documents.filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val half = TextOps.docSplit(graft.sources.Tables(spark, tmp)).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val full = rows.map(r => r._1 -> r._3).toMap
    half.foreach { case (id, s) => assert(full(id) == s, s"doc $id split flipped on subset") }
  }

  test("bm25: zero iff no query term present; tf columns match a driver recount; hand-check one doc") {
    val terms = Seq("hash", "join", "vector")
    val (k1, b) = (1.2, 0.75)
    val rows = TextOps.textBm25(tables, terms, k1, b).collect()
      .map(r => (r.getLong(0), r.getLong(1), terms.indices.map(i => r.getLong(2 + i)), r.getDouble(2 + terms.size)))
    val docs = tables.documents.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ", -1).toSeq).toMap
    assert(rows.length == docs.size)
    rows.foreach { case (id, dl, tfs, score) =>
      val tk = docs(id)
      assert(dl == tk.length, s"doc $id dl")
      terms.zip(tfs).foreach { case (t, tf) =>
        assert(tf == tk.count(_ == t), s"doc $id tf_$t") }
      assert((score == 0.0) == tfs.forall(_ == 0L), s"doc $id zero-score law")
    }
    // hand-check: recompute one scoring doc with the same fixed-order math
    val n = docs.size.toDouble
    val avgdl = docs.values.map(_.length.toLong).sum.toDouble / docs.size
    val dfs = terms.map(t => docs.values.count(_.contains(t)).toDouble)
    val (id, dl, tfs, got) = rows.find(_._3.exists(_ > 0)).get
    val want = terms.indices.map { i =>
      val tf = tfs(i).toDouble
      math.log(1.0 + (n - dfs(i) + 0.5) / (dfs(i) + 0.5)) * (tf * (k1 + 1)) /
        (tf + k1 * ((1 - b) + b * dl / avgdl))
    }.sum
    assert(math.abs(got - math.floor(want * 1e6 + 0.5) / 1e6) < 1e-9, s"doc $id bm25 recompute")
  }

  test("unigram logprob: all means negative; common-token docs outscore rare-token docs per token") {
    val rows = TextOps.textUnigramLogprob(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val docs = tables.documents.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ", -1).toSeq).toMap
    assert(rows.length == docs.size)
    // driver-side reference distribution
    val all = docs.values.flatten.toSeq
    val tt = all.size.toDouble
    val lpOf = all.groupBy(identity).map { case (w, ws) =>
      w -> math.floor(math.log(ws.size / tt) * 1e6 + 0.5) / 1e6 }
    rows.foreach { case (id, nTok, sumLp, meanLp) =>
      assert(nTok == docs(id).length, s"doc $id n_tokens")
      assert(meanLp < 0.0, s"doc $id mean must be negative (probs < 1)")
      val want = docs(id).map(w => BigDecimal(lpOf(w)).setScale(6)).sum.toDouble
      assert(math.abs(sumLp - want) < 1e-9, s"doc $id sum_lp vs driver reference")
    }
  }

  test("span dedup: counts match a driver reference; doubled doc pushes ratios to 1.0") {
    val rows = TextOps.docSpanDedup(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val docs = tables.documents.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase).toMap
    def spans(lt: String): Seq[String] = {
      val tk = lt.split(" ", -1)
      if (tk.length >= 4) tk.sliding(4).map(_.mkString(" ")).toSeq else Seq(lt)
    }
    val df = docs.values.toSeq.flatMap(spans).groupBy(identity).view.mapValues(_.size)
    rows.foreach { case (id, n, dup, ratio) =>
      val sp = spans(docs(id))
      assert(n == sp.length, s"doc $id n_spans")
      assert(dup == sp.count(s => df(s) >= 2), s"doc $id n_dup_spans")
      assert(ratio == math.floor(dup.toDouble / n * 1e6 + 0.5) / 1e6, s"doc $id ratio")
    }
    assert(rows.exists(_._3 > 0), "corpus should contain some duplicated spans")
    // a fully duplicated corpus: the same doc twice → every span dup
    val tmp = java.nio.file.Files.createTempDirectory("graft-span").toString
    import spark.implicits._
    Seq((1L, "a b c d e f"), (2L, "a b c d e f"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val dup = TextOps.docSpanDedup(graft.sources.Tables(spark, tmp)).collect()
    assert(dup.forall(_.getDouble(3) == 1.0), "doubled docs must be 100% duplicated spans")
  }

  test("mix weights: normalized shares sum to 1; tau=1 is the identity mixture; tau<1 boosts rare sources most") {
    val flat = TextOps.docMixWeights(tables, temperature = 0.7).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(4), r.getDouble(5)))
    assert(flat.nonEmpty)
    assert(math.abs(flat.map(_._4).sum - 1.0) < 1e-4, "norm weights must sum to ~1")
    val (rarest, commonest) = (flat.minBy(_._2), flat.maxBy(_._2))
    assert(rarest._5 >= commonest._5,
      s"tau<1 must boost the rarest source at least as much: $rarest vs $commonest")
    val id = TextOps.docMixWeights(tables, temperature = 1.0).collect()
      .map(r => (r.getString(0), r.getDouble(5)))
    id.foreach { case (s, boost) =>
      assert(math.abs(boost - 1.0) < 1e-4, s"tau=1 must leave source $s unboosted, got $boost") }
  }

  test("quality bucket: thirds are ordered and roughly balanced; scores never interleave across buckets") {
    val rows = TextOps.docQualityBucket(tables).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(rows.length == tables.documents.count())
    val byBucket = rows.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(Set("head", "middle", "tail").subsetOf(byBucket.keySet),
      s"all three buckets expected, got ${byBucket.keySet}")
    // corpus-relative thirds: no bucket should swallow the corpus
    byBucket.foreach { case (b, vs) =>
      assert(vs.length < rows.length * 0.6, s"bucket $b has ${vs.length}/${rows.length}") }
    // ordering law: head ≥ middle ≥ tail pointwise across bucket boundaries
    assert(byBucket("head").min >= byBucket("middle").max ||
      byBucket("head").min >= byBucket("middle").min, "head floor vs middle")
    assert(byBucket("middle").min >= byBucket("tail").max,
      s"middle floor ${byBucket("middle").min} must be >= tail ceiling ${byBucket("tail").max}")
    assert(byBucket("head").min >= byBucket("middle").max,
      s"head floor ${byBucket("head").min} must be >= middle ceiling ${byBucket("middle").max}")
  }

  test("keywords: per-doc top-k matches a full driver-side tf-idf ranking") {
    val k = 3
    val rows = TextOps.textKeywords(tables, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    val docs = tables.documents.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase.split(" ", -1).toSeq).toMap
    val nd = docs.size.toDouble
    val df = docs.values.map(_.distinct).flatten.groupBy(identity).view.mapValues(_.size)
    docs.foreach { case (id, tk) =>
      val want = tk.groupBy(identity).toSeq
        .map { case (w, ws) =>
          (w, math.floor(ws.size * math.log(nd / df(w)) * 1e6 + 0.5) / 1e6) }
        .sortBy { case (w, s) => (-s, w) }.take(k)
      val got = rows.filter(_._1 == id).sortBy(_._2).map(r => (r._3, r._4)).toSeq
      assert(got == want, s"doc $id: got $got want $want")
    }
  }

  test("winnow: fingerprints ⊆ gram hashes, sparser than grams; shared-substring guarantee holds") {
    val w = 8
    val fps = TextOps.textWinnow(tables, w).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val grams = tables.documents
      .select(col("doc_id"),
        org.apache.spark.sql.functions.call_function("graft_gram4_hashes", col("text")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    fps.foreach { case (id, f) =>
      assert(f.subsetOf(grams(id).toSet), s"doc $id fingerprints must be gram hashes")
      if (grams(id).length > 4 * w)
        assert(f.size < grams(id).length, s"doc $id selection must be sparser than all grams")
    }
    // the MOSS guarantee: two docs sharing a >= w+3 token run share a fingerprint
    val tmp = java.nio.file.Files.createTempDirectory("graft-winnow").toString
    import spark.implicits._
    val shared = (1 to 12).map(i => s"common$i").mkString(" ") // 12 shared tokens > w+3
    Seq((1L, s"alpha beta gamma $shared delta epsilon"),
        (2L, s"one two three four five $shared six seven"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pair = TextOps.textWinnow(graft.sources.Tables(spark, tmp), w).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert((pair(1L) intersect pair(2L)).nonEmpty,
      "docs sharing a 12-token run must share a winnowed fingerprint")
  }

  test("two-phase running sums (pack, mix budget) == single per-source window reference") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Hashing.tokens
    // the r6 rewrite (groupedRunningSum) must be value-identical to the
    // formulation it replaced: a running sum windowed by source alone
    val docs = tables.documents
      .select(col("doc_id"), col("source"), size(tokens(col("text"))).cast("long").as("n_tokens"))
    val packRef = docs
      .withColumn("cum", sum(col("n_tokens")).over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("doc_id"), floor((col("cum") - col("n_tokens")) / lit(512)).cast("long").as("bin"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pack = TextOps.docPack(tables).collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(pack == packRef, "doc_pack bins diverge from the per-source window reference")

    val mixRef = tables.documents
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        pmod(graft.functions.Hashing.md5_60(col("doc_id").cast("string")), lit(1000L)).as("bucket"))
      .withColumn("cum", sum(col("n_tokens")).over(
        Window.partitionBy(col("source")).orderBy(col("bucket"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("doc_id"), col("cum"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mix = TextOps.docMixBudget(tables).collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(mix == mixRef, "doc_mix_budget cum diverges from the per-source window reference")
  }

  test("doc pack: group bounds hold under sparse and adversarially clustered doc_ids") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    import graft.functions.Hashing.tokens
    // clustered ids (all in one narrow band + one far outlier) must
    // still produce the exact greedy running sum — group contiguity is
    // what correctness rides on, balance is only a performance property
    val rows = (1L to 50L).map(i => (i, "a", s"w$i x")) ++
      Seq((9_000_000_000L, "a", "tail doc"), (25L, "b", "other source"))
    val df = rows.toDF("doc_id", "source", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-pack").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val t = graft.sources.Tables(spark, tmp)
    val got = TextOps.docPack(t, budget = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val ref = df
      .select(col("doc_id"), col("source"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("doc_id"), floor((col("cum") - col("n_tokens")) / lit(3)).cast("long").as("bin"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref)
  }

  test("bigram logprob: scores are log-probs (< 0), n_bigrams = n_tokens - 1, common order beats scrambled") {
    val out = TextOps.textBigramLogprob(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    assert(out.nonEmpty)
    out.foreach { case (id, nb, mlp) =>
      assert(mlp < 0.0, s"doc $id: mean log-prob $mlp must be negative")
    }
    val ntok = TextOps.textTokencount(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, nb, _) =>
      assert(nb == ntok(id) - 1, s"doc $id: $nb bigrams vs ${ntok(id)} tokens")
    }
    // a doc made of the corpus's dominant bigram repeated scores higher
    // (less negative) than one of corpus-unique bigrams
    val tmp = java.nio.file.Files.createTempDirectory("graft-bglp").toString
    import spark.implicits._
    Seq((1L, "a b a b a b a b"), (2L, "a b a b a b a b"),
        (3L, "q w e r t y u i"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val m = TextOps.textBigramLogprob(graft.sources.Tables(spark, tmp)).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(m(1L) > m(3L), s"repeated dominant bigrams must outscore unique ones: $m")
  }

  test("quality model: score strictly increasing in z, bounded (0,1); keep == sign(z); OOV scores the bias") {
    val rows = TextOps.docQualityModel(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getInt(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, n, z, s, keep) =>
      assert(n > 0 && s > 0.0 && s < 1.0, s"doc $id: score $s out of (0,1)")
      assert(keep == (if (z >= 0) 1 else 0), s"doc $id: keep flag disagrees with logit sign")
    }
    // monotone squash: sorting by z and by score must agree
    val byZ = rows.sortBy(r => (r._3, r._1)).map(_._1).toSeq
    val byS = rows.sortBy(r => (r._4, r._1)).map(_._1).toSeq
    assert(byZ == byS, "fast sigmoid must be order-preserving")
    // a doc of only OOV tokens scores exactly the squashed bias
    val tmp = java.nio.file.Files.createTempDirectory("graft-qm").toString
    import spark.implicits._
    Seq((1L, "zzqx1 zzqx2 zzqx3"), (2L, "zzqx1 zzqx1 zzqx4"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // vocabV=0: every token is OOV -> z == bias for all docs
    val oov = TextOps.docQualityModel(graft.sources.Tables(spark, tmp), vocabV = 0, bias = 0.25)
      .collect().map(r => (r.getDouble(2), r.getInt(4)))
    assert(oov.forall { case (z, k) => z == 0.25 && k == 1 }, oov.toSeq.toString)
  }

  test("weighted sample: exact top-k by ln(u)/w; biased toward high quality; partition-invariant") {
    import org.apache.spark.sql.functions._
    val k = 50
    val got = TextOps.docSampleWeighted(tables, k).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.length == k)
    // driver recompute of the full ranking from (w, key)
    val all = TextOps.docSampleWeighted(tables, Int.MaxValue).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val want = all.sortBy(p => (-p._3, p._1)).take(k).map(_._1).toSet
    assert(got.map(_._1).toSet == want, "top-k must be the exact key ranking")
    // the sample is quality-biased: its mean weight beats the corpus mean
    val sampleMean = got.map(_._2).sum / got.length
    val corpusMean = all.map(_._2).sum / all.length
    assert(sampleMean > corpusMean,
      s"weighted sample must skew high-quality: sample=$sampleMean corpus=$corpusMean")
    // repartitioning must not change the draw (deterministic keys)
    val re = graft.sources.Tables(spark, sfDir,
      docsOverride = Some(tables.documents.repartition(13)))
    assert(TextOps.docSampleWeighted(re, k).collect()
      .map(_.getLong(0)).toSet == got.map(_._1).toSet, "sample must be partition-invariant")
  }

  test("trained quality model beats the hash stand-in on a planted-quality corpus") {
    import spark.implicits._
    // planted corpus: 40 GOOD docs (long, english-marker heavy → E14
    // keep=1) and 40 BAD docs (short, und-language spam tokens → E14
    // keep=0). The token → verdict relation is fully learnable: spam
    // tokens occur only in drops, stopwords only in keeps.
    val stop = "the and of to in the and of to in"
    val good = (1L to 40L).map(i => (i, (stop + " ") * 12 + s"gooddoc$i", "en", "t", 0L))
    val bad = (101L to 140L).map(i => (i, s"zzq1 zzq2 zzq3 zzq4 zzq5 zzq6 zzq7 zzq8 zzq9 baddoc$i", "en", "t", 0L))
    val docs = (good ++ bad)
      .map { case (id, text, lang, src, _) => (id, text, lang, src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val t = graft.sources.Tables(spark, sfDir, docsOverride = Some(docs))
    val labels = TextOps.docCurate(t).select(col("doc_id"), col("keep").as("y"))
    // sanity: the planted corpus produces both label classes
    val dist = labels.groupBy(col("y")).count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(dist.getOrElse(1, 0L) == 40L && dist.getOrElse(0, 0L) == 40L, dist.toString)
    def agreement(scored: org.apache.spark.sql.DataFrame): Double =
      scored.select(col("doc_id"), col("keep")).join(labels, "doc_id")
        .agg(avg((col("keep") === col("y")).cast("double"))).head.getDouble(0)
    val standin = agreement(TextOps.docQualityModel(t))
    val trained = agreement(TextOps.docQualityModelTrained(t))
    assert(trained > standin,
      s"trained weights must beat the hash stand-in: trained=$trained standin=$standin")
    assert(trained == 1.0, s"fully-learnable planted corpus must be perfectly separated: $trained")
    // the trained weight relation is bounded and carries the learned signs
    val w = TextOps.qualityModelTrainedWeights(t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w("the") == 1000L && w("zzq1") == -1000L, w.take(5).toString)
  }

  test("template prefix: planted shared-head family found; jaccard-invisible; singletons absent") {
    import spark.implicits._
    // three docs share an 8-token boilerplate head but have disjoint
    // bodies (the form-letter shape: body-level near-dup scores them
    // LOW, the shared head is the only tell); two fresh docs share
    // nothing
    val head8 = "dear valued customer thank you for your order"
    val family = Seq(
      (1L, head8 + " alpha beta gamma delta epsilon zeta eta theta"),
      (2L, head8 + " one two three four five six seven eight"),
      (3L, head8 + " red green blue yellow purple orange pink gray"))
    val fresh = Seq(
      (10L, "completely unrelated text about mountain weather patterns today"),
      (11L, "another standalone document concerning deep sea exploration notes"))
    val docs = (family ++ fresh)
      .map { case (id, text) => (id, text, "en", "t", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val t = graft.sources.Tables(spark, sfDir, docsOverride = Some(docs))
    val fams = TextOps.docTemplatePrefix(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(fams.toSet == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L)),
      s"planted family must be exactly the three shared-head docs: ${fams.toSeq}")
    // the family is invisible to exact content dedup (bodies differ):
    // every content hash is unique — the prefix detector is the only
    // operator that groups these docs
    val exact = graft.operators.Dedup.docExactDedup(t).collect()
    assert(exact.length == 5 && exact.forall(_.getLong(2) == 1L),
      "all five docs are exact-unique; only the prefix detector groups the family")
  }

  test("jsd pairs: bounded by ln 2, twins near 0, disjoint vocab near max, corpus matrix complete") {
    import spark.implicits._
    val ln2 = math.log(2.0)
    // planted: twinA/twinB share one distribution; alien is vocab-disjoint
    val mk = (src: String, body: String, id: Long) =>
      (id, body, "en", src, body.length.toLong)
    val docs = Seq(
      mk("twinA", "aa bb cc dd " * 20, 1L), mk("twinB", "aa bb cc dd " * 20, 2L),
      mk("alien", "xx yy zz ww " * 20, 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val t = graft.sources.Tables(spark, sfDir, docsOverride = Some(docs))
    val jsd = TextOps.textJsdPairs(t).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(jsd.size == 3)
    jsd.values.foreach(v => assert(v >= -1e-6 && v <= ln2 + 1e-6, s"out of [0, ln2]: $v"))
    val twins = jsd(("twinA", "twinB"))
    val far = jsd(("alien", "twinA"))
    assert(twins < 0.01, s"identical distributions must be ~0, got $twins")
    // add-V smoothing (V = 500 ≫ the 8-token planted vocab) compresses
    // the scale, so the law is RELATIVE: disjoint sources must sit far
    // above the twins, not near the un-smoothed ln 2 ceiling
    assert(far > 50 * math.max(twins, 1e-9) && far > 0.05,
      s"disjoint vocab must dominate the twin divergence, got far=$far twins=$twins")
    // corpus matrix: one row per unordered source pair
    val srcs = tables.documents.select("source").distinct().count()
    val full = TextOps.textJsdPairs(tables).count()
    assert(full == srcs * (srcs - 1) / 2, s"expected complete matrix, got $full")
  }

  test("bpe pairs equal the brute-force frequency-weighted adjacent-pair counts") {
    import spark.implicits._
    val texts = Seq(
      (1L, "low lower lowest low low"),
      (2L, "new newer newest new"),
      (3L, "Low NEW lowest  bb"), // case folding + a double space (empty token)
      (4L, "a bb ccc dddd"))      // 1-char word contributes no pair
    val docs = texts.map { case (id, tx) => (id, tx, "en", "t", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val t = graft.sources.Tables(spark, sfDir, docsOverride = Some(docs))
    // brute force: every adjacent char pair of every (lowercased) token
    // occurrence, counted directly — the vocab-collapsed operator must
    // agree exactly
    val expected = texts.flatMap(_._2.toLowerCase.split(" ", -1))
      .filter(w => w.nonEmpty && w.length >= 2)
      .flatMap(w => w.sliding(2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = TextOps.textBpePairs(t, topN = 1000).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("cdc chunks: boundaries re-align after a prefix insertion; fixed chunks don't") {
    import spark.implicits._
    // the defining CDC property: an edit shifts bytes but not the
    // downstream cut points, so most chunks of the edited copy still
    // hash-match the original (chunk-level dedup survives insertions)
    // multi-byte segments sprinkled through the doc: the byte-level
    // chunker must re-align across CJK/accented runs exactly as it
    // does across ASCII
    val s = scala.util.Random.javaRandomToRandom(new java.util.Random(7))
      .alphanumeric.take(600).mkString.toLowerCase
      .grouped(60).mkString(" 世界—naïve ")
    val docs = Seq((1L, s), (2L, "inserted böilerplate ヘッダ " + s))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-cdc").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = TextOps.docCdcChunks(graft.sources.Tables(spark, tmp)).collect()
      .map(r => (r.getLong(0), r.getString(4)))
    val h1 = rows.filter(_._1 == 1L).map(_._2).toSet
    val h2 = rows.filter(_._1 == 2L).map(_._2).toSet
    assert(h1.size >= 3, s"base doc must split into several chunks, got ${h1.size}")
    val shared = (h1 intersect h2).size.toDouble / h1.size
    assert(shared >= 0.5,
      s"after a prefix edit most CDC chunks must re-align, shared=$shared")
    // contrast: fixed-size chunking shares (essentially) nothing
    val fixedShared = s.grouped(180).map(c => c.hashCode).toSet
      .intersect(("inserted boilerplate header " + s).grouped(180).map(_.hashCode).toSet)
    assert(fixedShared.isEmpty, "fixed-size chunks must all shift under the same edit")
  }

  test("HTML extractor edges: unclosed script swallows to EOF; entities decode after tag stripping; link-dense blocks drop from text but count in the signal; non-HTML quarantines") {
    def ex(s: String) = TextOps.htmlExtractOne(s)
    // envelope: plaintext/binary payloads quarantine, never "extract"
    assert(ex("hello world")._1 == "not_html")
    assert(ex("\n  <!DOCTYPE HTML><html><body><p>x</p></body></html>")._1 == "ok")
    // unclosed script: everything after it is code, not text
    val (s1, _, t1, _, _, _) =
      ex("<html><body><p>keep</p><script>var a = '<p>no</p>';")
    assert(s1 == "ok" && t1 == "keep")
    // entities decode AFTER stripping: '&lt;p&gt;' is text, never a block tag
    val (_, _, t2, nb2, _, _) =
      ex("<html><body><p>a &lt;p&gt; b</p></body></html>")
    assert(t2 == "a <p> b" && nb2 == 1L)
    // the boilerplate heuristic: the nav block leaves the article text
    // but still counts into the page-level link-density signal
    val (_, _, t3, nb3, nl3, ld3) = ex("<html><body>" +
      "<p>article body text here</p><nav><a>x1</a> <a>x2</a></nav></body></html>")
    assert(t3 == "article body text here" && nb3 == 1L && nl3 == 2L)
    assert(math.abs(ld3 - math.floor(4.0 / 27 * 1e6 + 0.5) / 1e6) < 1e-12)
    // empty body is ok-with-empty, not an error
    val (s4, _, t4, nb4, nl4, ld4) = ex("<html><body></body></html>")
    assert(s4 == "ok" && t4 == "" && nb4 == 0L && nl4 == 0L && ld4 == 0.0)
    // title captures separately from body text
    assert(ex("<html><head><title> T1 </title></head><body><p>b</p></body></html>")
      ._2 == "T1")
  }

  test("BPE encode: decoding every doc's ids through the merge table recovers the original words; fertility is real ids per word; more merges never lengthen a doc") {
    val rounds = 3
    val tops = TextOps.bpeMineTops(tables, rounds)
      .reduce(_ crossJoin _).collect()(0)
    // raw pair strings, sentinels intact — the decoder's merge table
    val pairs = (1 to rounds).map(r => tops.getAs[String](s"p$r"))
    val enc = TextOps.textBpeEncode(tables, rounds).orderBy("doc_id").collect()
    val docs = tables.documents
      .select(col("doc_id"), lower(col("text"))).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toMap
    assert(enc.nonEmpty)
    // non-vacuous: some doc must actually contain a merged symbol
    assert(enc.exists(_.getAs[String]("token_ids").split(" ")
      .exists(s => s.nonEmpty && s.toLong <= rounds)),
      "no merge fired anywhere — the law would be vacuous")
    enc.foreach { r =>
      val id = r.getLong(0)
      val idsStr = r.getAs[String]("token_ids")
      val ids = if (idsStr.isEmpty) Array.empty[Long]
                else idsStr.split(" ").map(_.toLong)
      assert(ids.length.toLong == r.getAs[Long]("n_tokens"))
      // decode = ids → symbols, then expand merges NEWEST-first (a
      // later pair may contain earlier sentinels)
      var s = ids.map(i => new String(Character.toChars(i.toInt))).mkString
      for (r2 <- rounds to 1 by -1)
        s = s.replace(r2.toChar.toString, pairs(r2 - 1))
      val words = docs(id).split(" ", -1).filter(_.nonEmpty)
      assert(r.getAs[Long]("n_words") == words.length.toLong)
      assert(s == words.mkString(""), s"decode(encode) mismatch for doc $id")
      val expF =
        if (words.isEmpty) 0.0
        else math.floor(ids.length.toDouble / words.length * 1e6 + 0.5) / 1e6
      assert(r.getAs[Double]("fertility_r") == expF,
        s"fertility must be real ids per word for doc $id")
    }
    // each merge only ever shortens a symbol sequence
    val enc1 = TextOps.textBpeEncode(tables, 1).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_tokens")).toMap
    enc.foreach(r =>
      assert(r.getAs[Long]("n_tokens") <= enc1(r.getLong(0)),
        s"more merges lengthened doc ${r.getLong(0)}"))
  }

  test("WARC → HTML extract → Gopher rules compose end-to-end; non-HTML payloads quarantine instead of scoring") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("warc_html").toString
    val ids = (1L to 40L).toSeq
    def payloadOf(id: Long) =
      if (id % 17 == 0) s"plain text payload $id without any markup"
      else TextOps.htmlPayload(id)
    graft.sources.Sinks.writeWarcGz(
      ids.map(id => (id, payloadOf(id))).toDF("doc_id", "text"), dir, shards = 2)
    val (clean, badRecords, badFiles) =
      graft.sources.Sinks.readWarcGzIngest(spark, dir).tuple
    assert(badRecords.count() == 0 && badFiles.count() == 0)
    val extracted = TextOps.docFromHtml(spark, clean.select(
      regexp_extract(col("record_id"), "urn:graft:doc:(\\d+)", 1)
        .cast("long").as("doc_id"),
      col("payload")))
    // WARC custody changed nothing: extraction off the shard equals
    // direct extraction of the same payloads
    val viaWarc = extracted
      .select(col("doc_id"), col("status"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)).getOrElse("")))
      .sortBy(_._1).toSeq
    val direct = ids.map { id =>
      val (st, _, tx, _, _, _) = TextOps.htmlExtractOne(payloadOf(id))
      (id, st, Option(tx).getOrElse(""))
    }
    assert(viaWarc == direct,
      "extraction off the WARC shard must equal direct extraction")
    assert(viaWarc.count(_._2 == "not_html") == ids.count(_ % 17 == 0),
      "every plaintext payload must quarantine")
    // composed E63: Gopher verdicts over the extracted article text ==
    // Gopher over the same text fed directly (docsOverride)
    val okDocs = extracted.filter(col("status") === "ok")
      .select(col("doc_id"), col("text"))
    val viaPipeline = TextOps.docGopherRules(
      tables.copy(docsOverride = Some(okDocs))).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    val directDf = direct.filter(_._2 == "ok").map(d => (d._1, d._3))
      .toDF("doc_id", "text")
    val directGopher = TextOps.docGopherRules(
      tables.copy(docsOverride = Some(directDf))).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(viaPipeline.nonEmpty && viaPipeline == directGopher,
      "WARC → extract → Gopher must equal Gopher over directly-extracted text")
  }
}
