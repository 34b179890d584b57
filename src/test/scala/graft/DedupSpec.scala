package graft

import graft.operators.Dedup

/** Laws of the near-dup family: LSH candidates verify against the same
  * threshold as exhaustive search, so LSH results ⊆ exhaustive results,
  * with high recall on the planted near-dups.
  */
class DedupSpec extends SparkSpec {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("capped jaccard == brute-force reference on random corpora (posting-list generator equivalence)") {
    import spark.implicits._
    // deterministic pseudo-random corpora with heavy shingle sharing:
    // doc text draws from a tiny token pool so sub-cap shingles overlap
    // across many docs and the generator's pair enumeration is stressed
    val rnd = new scala.util.Random(20260813L)
    (1 to 3).foreach { trial =>
      val docs = (1L to 30L).map { id =>
        val len = 5 + rnd.nextInt(20)
        val text = Seq.fill(len)(s"w${rnd.nextInt(12)}").mkString(" ")
        (id, text, "en", "t", text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      val t = graft.sources.Tables(spark, sfDir, docsOverride = Some(docs))
      val (threshold, dfCap) = (0.2, 5)
      val got = Dedup.docNgramJaccardCapped(t, threshold, dfCap).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      // driver reference: exact per-doc gram sets, pairs sharing >= 1
      // sub-cap gram, full-set jaccard
      val sets = Dedup.grams(t).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).toSet }
      val dfMap = sets.values.flatten.groupBy(identity).map { case (g, os) => g -> os.size }
      val want = (for {
        a <- sets.keys; b <- sets.keys if a < b
        shared = sets(a).intersect(sets(b))
        if shared.exists(g => dfMap(g) <= dfCap)
        j = shared.size.toDouble / (sets(a).size + sets(b).size - shared.size)
        if j >= threshold
      } yield (a, b) -> j).toMap
      assert(got == want,
        s"trial $trial: only-got=${(got.keySet -- want.keySet).take(3)} " +
          s"only-want=${(want.keySet -- got.keySet).take(3)}")
    }
  }

  test("novelty: cloned docs score 0, all-fresh prose scores 1") {
    import spark.implicits._
    val shared = (1 to 30).map(i => s"tok$i").mkString(" ")
    val fresh = (1 to 30).map(i => s"only$i").mkString(" ")
    val docs = Seq((1L, shared), (2L, shared), (3L, fresh))
      .map { case (id, tx) => (id, tx, "en", "t", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val t = graft.sources.Tables(spark, sfDir, docsOverride = Some(docs))
    val nov = Dedup.docNgramNovelty(t).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(nov(1L) == 0.0 && nov(2L) == 0.0, s"clones share every shingle: $nov")
    assert(nov(3L) == 1.0, s"fully fresh doc is all-unique: $nov")
  }

  test("containment finds the quoted-inside pair symmetric Jaccard is blind to") {
    import spark.implicits._
    // A: a 12-token quote. B: A embedded verbatim in a much larger doc.
    // C(A→B) = 1 while J(A,B) ≈ |A|/|B| — below any useful Jaccard
    // threshold. A filler doc keeps shared-shingle dfs sub-cap.
    val quote = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima"
    val filler = (1 to 120).map(i => s"pad$i").mkString(" ")
    val big = filler + " " + quote + " " + (121 to 240).map(i => s"pad$i").mkString(" ")
    val docs = Seq(
      (1L, quote, "en", "t"), (2L, big, "en", "t"),
      (3L, (1 to 50).map(i => s"other$i").mkString(" "), "en", "t"))
      .map { case (id, tx, l, s) => (id, tx, l, s, tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val t = graft.sources.Tables(spark, sfDir, docsOverride = Some(docs))
    val cont = Dedup.docNgramContainment(t, threshold = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(cont.map(p => (p._1, p._2)).toSet == Set((1L, 2L)), cont.toSeq.toString)
    val (_, _, aInB, bInA, j) = cont.head
    assert(aInB == 1.0, "the quote's shingles are all inside the big doc")
    assert(bInA < 0.1 && j < 0.1, s"asymmetric by construction: bInA=$bInA j=$j")
    assert(pairs(Dedup.docNgramJaccard(t)).isEmpty,
      "symmetric Jaccard at its default threshold must miss the quoted pair")
  }

  test("minhash-LSH pairs are a subset of exhaustive ngram-jaccard pairs, recall is high") {
    val truth = pairs(Dedup.docNgramJaccard(tables))
    val lsh = pairs(Dedup.docMinhashLshPairs(tables))
    assert(truth.nonEmpty, "generator plants near-dups; truth must be non-empty")
    assert(lsh.subsetOf(truth), s"LSH found pairs not in truth: ${lsh -- truth}")
    val recall = lsh.size.toDouble / truth.size
    assert(recall >= 0.5, s"LSH recall too low: $recall")
  }

  test("simhash pairs overlap the jaccard near-dups") {
    val truth = pairs(Dedup.docNgramJaccard(tables))
    val sim = pairs(Dedup.docSimhashPairs(tables))
    assert(sim.nonEmpty)
    assert((sim intersect truth).nonEmpty, "simhash should find some planted near-dups")
  }

  test("exact dedup: keep_id is the minimum doc_id, copies sum to corpus size") {
    val rows = Dedup.docExactDedup(tables).collect()
    val total = tables.documents.count()
    assert(rows.map(_.getLong(2)).sum == total)
  }

  test("prefix filter is exact at non-default thresholds (== exhaustive inverted-index join)") {
    import org.apache.spark.sql.functions._
    val g = Dedup.grams(tables)
    val ga = g.select(col("doc_id").as("da"), col("gram"), col("n_grams").as("na"))
    val gb = g.select(col("doc_id").as("db"), col("gram").as("gramb"), col("n_grams").as("nb"))
    // thresholds chosen so t·n lands on/near exact integers — the
    // regime where a bare double ceil overshoots and a too-short
    // prefix silently misses qualifying pairs
    Seq(0.2, 0.25, 0.5, 0.55).foreach { t =>
      val exhaustive = ga
        .join(gb, col("gram") === col("gramb") && col("da") < col("db"))
        .groupBy(col("da"), col("db"), col("na"), col("nb")).agg(count(lit(1)).as("c"))
        .select(col("da"), col("db"),
          (col("c") / (col("na") + col("nb") - col("c"))).as("j"))
        .filter(col("j") >= t)
      assert(pairs(Dedup.docNgramJaccard(tables, t)) == pairs(exhaustive),
        s"threshold $t")
    }
  }

  test("df-capped jaccard: results ⊆ exact; cap=∞ == exact; tiny cap only shrinks the pair set") {
    val exact = pairs(Dedup.docNgramJaccard(tables))
    val uncapped = pairs(Dedup.docNgramJaccardCapped(tables, dfCap = Int.MaxValue))
    assert(uncapped == exact, "no cap → identical to the exact inverted-index result")
    val capped = pairs(Dedup.docNgramJaccardCapped(tables, dfCap = 3))
    assert(capped.subsetOf(exact), s"cap must only lose recall, found extras: ${capped -- exact}")
  }

  test("incremental dedup: dup_of precedes the doc and is the lowest-id duplicate, is_new consistent") {
    val rows = Dedup.docIncrementalDedup(tables).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getInt(3)))
    assert(rows.nonEmpty)
    val batchIds = rows.map(_._1).toSet
    assert(batchIds.forall(_ % 5 == 0), "batch is doc_id % 5 == 0")
    // cross-check against ground truth recomputed from the raw table
    val all = tables.documents.selectExpr("doc_id", "md5(text) AS h").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val baseByHash = all.filter(_._1 % 5 != 0).groupBy(_._2).view.mapValues(_.map(_._1).min).toMap
    rows.foreach { case (id, h, dupOf, isNew) =>
      val intra = batchIds.filter(b => b < id && all.exists(a => a._1 == b && a._2 == h))
      val expected = (baseByHash.get(h), intra.nonEmpty) match {
        case (Some(b), true)  => Some(math.min(b, intra.min))
        case (Some(b), false) => Some(b)
        case (None, true)     => Some(intra.min)
        case (None, false)    => None
      }
      assert(dupOf == expected, s"doc $id: dup_of $dupOf != $expected")
      assert((isNew == 1) == dupOf.isEmpty, s"doc $id: is_new inconsistent")
      dupOf.foreach(d => assert(d < id, s"doc $id: dup_of $d must precede it"))
    }
  }

  test("incremental minhash: dup_of is the lowest band-sharing verified partner; consistent with LSH pairs") {
    val mod = 5
    val out = Dedup.docIncrementalMinhash(tables, mod).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getInt(3)))
    assert(out.nonEmpty && out.forall(_._1 % mod == 0), "one row per batch doc")
    // reference: C3's full symmetric pair set at the same threshold;
    // a batch doc's qualifying partners are its LSH partners that are
    // base docs or earlier batch docs
    val lsh = Dedup.docMinhashLshPairs(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    out.foreach { case (d, dupOf, isNew) =>
      val expect = lsh.getOrElse(d, Set.empty)
        .filter(p => p % mod != 0 || p < d)
      assert(dupOf == (if (expect.isEmpty) None else Some(expect.min)),
        s"batch doc $d: dup_of $dupOf, expected partners $expect")
      assert(isNew == (if (dupOf.isEmpty) 1 else 0), s"batch doc $d is_new")
    }
    assert(out.exists(_._2.nonEmpty), "planted near-dups must yield non-new batch docs")
  }

  test("cc adaptive jump: 200-edge chain converges in <=20 rounds; reliable-checkpoint knob yields identical labels") {
    import spark.implicits._
    // a pure path graph: hop-only min-propagation needs ~200 rounds,
    // so convergence inside maxIter=20 proves the plateau trigger
    // engaged the pointer jump
    val edges = (0L until 200L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val universe = (0L to 200L).toDF("doc_id")
    val base = Dedup.clusterPairs(edges, universe, 20, "cc_chain").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(base.nonEmpty && base.forall(_._2 == 0L),
      "chain must collapse to one component rooted at doc 0")
    // spark.graft.checkpointDir switches round truncation to reliable
    // checkpoint(): labels identical, files actually land in the dir
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val rel = Dedup.clusterPairs(edges, universe, 20, "cc_chain_rel").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rel.sameElements(base), "reliable-checkpoint run must produce identical labels")
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val entries = try walk.count() finally walk.close()
      assert(entries > 1, "reliable checkpoint dir must contain checkpoint files")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("clustering fails loudly, not silently wrong, when maxIter is too small to converge") {
    val e = intercept[IllegalStateException] {
      Dedup.docDedupClusters(tables, maxIter = 0).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("fingerprint pairs == brute-force ground truth over mod-8 sampled grams") {
    import org.apache.spark.sql.functions._
    val fp = Dedup.grams(tables).filter(pmod(col("gram"), lit(8)) === 0)
      .select("doc_id", "gram").collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fp.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ids = byDoc.keys.toSeq.sorted
    // mirror the default df cap: fingerprints held by > 100 docs pair nothing
    val df = fp.groupBy(_._2).view.mapValues(_.length).toMap
    val kept = byDoc.view.mapValues(_.filter(df(_) <= 100)).toMap
    val truth = (for {
      i <- ids; j <- ids if i < j
      n = (kept(i) intersect kept(j)).size if n >= 2
    } yield (i, j) -> n.toLong).toMap
    val got = Dedup.docFingerprintPairs(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty, "planted near-dups should share sampled fingerprints")
    assert(got == truth)
  }

  test("fingerprint df cap: a hot fingerprint generates no pairs; cap=∞ restores them") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 5 docs whose ONLY shared word-3-gram is "common gram text"; with
    // mod=1 every gram is a fingerprint, so that shared gram is the
    // sole pair generator. df = 5 > cap = 4 → stop set kills it → no
    // pairs; an effectively-infinite cap restores all C(5,2) pairs.
    val docs = (1L to 5L).map(i => (i, s"common gram text u${i}a u${i}b"))
      .toDF("doc_id", "text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-fp").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val t = graft.sources.Tables(spark, tmp)
    val capped = Dedup.docFingerprintPairs(t, mod = 1, minShared = 1, dfCap = 4).collect()
    assert(capped.isEmpty, "hot fingerprint must generate no pairs under the cap")
    val uncapped = Dedup.docFingerprintPairs(t, mod = 1, minShared = 1, dfCap = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == (for { i <- 1L to 5L; j <- 1L to 5L if i < j } yield (i, j)).toSet)
  }

  test("semdedup: drop iff a smaller-id same-cell partner >= tau; cell minima kept; full verdict") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val (nCenters, tau) = (4, 0.2) // low tau so sf0.001 yields real drops
    val out = Dedup.docSemdedup(tables, nCenters, tau).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(out.length == tables.embeddings.count())
    val cellOf = out.map(r => r._1 -> r._2).toMap
    // driver-side reference with identical fold order + rounding
    val vecs = Similarity.withNorm(tables.embeddings)
      .select(col("vec_id"), col("v"), col("n2")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    def cosR(a: (Long, Seq[Double], Double), b: (Long, Seq[Double], Double)): Double = {
      val d = a._2.zip(b._2).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      math.floor(d / (math.sqrt(a._3) * math.sqrt(b._3)) * 1e6 + 0.5) / 1e6
    }
    val refDrop = (for {
      a <- vecs; b <- vecs
      if a._1 < b._1 && cellOf(a._1) == cellOf(b._1) && cosR(a, b) >= tau
    } yield b._1).toSet
    assert(refDrop.nonEmpty, "tau too high for a meaningful spec: no drops")
    out.foreach { case (id, _, keep) =>
      assert(keep == !refDrop(id), s"vec $id keep=$keep, reference says ${!refDrop(id)}")
    }
    // the lowest id of every cell can never have a smaller-id partner
    out.groupBy(_._2).foreach { case (cell, rs) =>
      assert(rs.minBy(_._1)._3, s"cell $cell minimum id must be kept")
    }
  }

  test("contamination stats: per-source rollup matches the per-doc verdict relation") {
    import org.apache.spark.sql.functions.col
    val stats = Dedup.docContaminationStats(tables).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    val verdicts = Dedup.docDecontaminate(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val srcOf = tables.documents.select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val bySrc = verdicts.groupBy(v => srcOf(v._1))
    assert(stats.map(_._1).toSet == bySrc.keySet)
    stats.foreach { case (src, nDocs, nCont, rate, shared) =>
      val vs = bySrc(src)
      assert(nDocs == vs.length, s"$src n_docs")
      assert(nCont == vs.count(_._3 == 1), s"$src n_contaminated")
      assert(shared == vs.map(_._2).sum, s"$src total_shared")
      assert(rate == math.floor(nCont.toDouble / nDocs * 1e6 + 0.5) / 1e6, s"$src rate")
    }
  }

  test("winnow pairs: shared-run docs pair up; the df cap removes hot fingerprints") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-wpairs").toString
    val shared = (1 to 12).map(i => s"common$i").mkString(" ")
    Seq((1L, s"alpha beta gamma $shared delta epsilon"),
        (2L, s"one two three four five $shared six seven"),
        (3L, "totally different words everywhere here now"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val t = graft.sources.Tables(spark, tmp)
    val pairs = Dedup.docWinnowPairs(t, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"only the shared-run pair expected: $pairs")
    // dfCap = 1 stops every fingerprint held by 2+ docs → no pairs survive
    assert(Dedup.docWinnowPairs(t, minShared = 1, dfCap = 1).collect().isEmpty,
      "a df cap below the sharing degree must remove all pairs")
  }

  test("minhash estimator: est == agree/16, bounded; identical docs estimate exactly 1.0") {
    val rows = Dedup.docMinhashJaccardEst(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    rows.foreach { case (a, b, agree, est, j) =>
      assert(agree >= 1 && agree <= 16, s"($a,$b) agree=$agree") // LSH candidates share >= 1 band = 4 rows... at least 4
      assert(est == agree / 16.0, s"($a,$b) est arithmetic")
      assert(j >= 0.0 && j <= 1.0, s"($a,$b) jaccard range")
    }
    // a banded candidate shares at least one full 4-row band
    rows.foreach { case (a, b, agree, _, _) =>
      assert(agree >= 4, s"($a,$b): a band match implies >= 4 agreeing rows") }
    // planted exact duplicates: the estimator must say exactly 1.0
    val tmp = java.nio.file.Files.createTempDirectory("graft-mhest").toString
    import spark.implicits._
    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "alpha beta gamma delta epsilon zeta eta theta"),
        (3L, "completely unrelated content with different words"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val planted = Dedup.docMinhashJaccardEst(graft.sources.Tables(spark, tmp)).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(3), r.getDouble(4)))).toMap
    assert(planted((1L, 2L)) == ((1.0, 1.0)), s"identical docs: ${planted.get((1L, 2L))}")
  }

  test("bloom decontamination: no false negatives vs exact, FP rate within theory") {
    import org.apache.spark.sql.functions._
    val exact = Dedup.docDecontaminate(tables).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(3))).toMap
    val bloom = Dedup.docDecontaminateBloom(tables).collect()
    assert(bloom.nonEmpty)
    var fpGrams = 0L; var totGrams = 0L
    bloom.foreach { r =>
      val (id, hits, n, flagged) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))
      val (shared, contaminated) = exact(id)
      // one-sided error: every exact-shared gram is Bloom-positive,
      // so a flagged=0 doc is provably clean
      assert(hits >= shared, s"doc $id: bloom $hits < exact $shared — false negative")
      assert(flagged >= contaminated, s"doc $id: exact-contaminated but bloom-clean")
      fpGrams += hits - shared; totGrams += n
    }
    // (1-e^(-kn/m))^k with n≈benchmark shingles, m=65536, k=4 is
    // ~5e-4 at this corpus; assert an order-of-magnitude headroom
    assert(fpGrams.toDouble / totGrams <= 0.005,
      s"bloom FP gram rate ${fpGrams.toDouble / totGrams} out of theoretical range")
  }

  test("keep-best: exactly one keeper per cluster, and it is the max-quality member") {
    val rows = Dedup.docDedupKeepBest(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getInt(4)))
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (c, ms) =>
      val keepers = ms.filter(_._5 == 1)
      assert(keepers.length == 1, s"cluster $c: ${keepers.length} keepers")
      val k = keepers.head
      assert(ms.forall(_._4 == k._1), s"cluster $c: keeper column disagrees")
      // argmax by (quality desc, doc_id asc)
      val best = ms.minBy(m => (-m._3, m._1))
      assert(k._1 == best._1, s"cluster $c: keeper ${k._1} is not argmax ${best._1}")
    }
    // verdict is an apply-ready partition: kept docs == #clusters
    assert(rows.count(_._5 == 1) == byCluster.size)
  }

  test("minOverlap == exact rational ceiling for integer-landing products") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val thresholds = Seq(0.2, 0.25, 0.4, 0.5, 0.55, 0.6, 0.75, 0.8)
    val n = (1 to 400).toDF("n")
    thresholds.foreach { t =>
      val got = n.select(col("n"), Dedup.minOverlap(col("n"), t).as("m"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      (1 to 400).foreach { i =>
        val exact = (BigDecimal(i) * BigDecimal(t))
          .setScale(0, BigDecimal.RoundingMode.CEILING).toLong
        assert(got(i) == exact, s"t=$t n=$i: got ${got(i)} want $exact")
      }
    }
  }

  test("lsh band planner: along the divisor chain fn mass falls, fp mass rises, candidate volume rises (theorems)") {
    val rows = Dedup.docLshBandPlanner(tables).orderBy("bands").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    assert(rows.map(r => (r._1, r._2)).toSeq ==
      Seq((1L, 16L), (2L, 8L), (4L, 4L), (8L, 2L), (16L, 1L)))
    rows.sliding(2).foreach { w =>
      // p(s) = 1 - (1 - s^r)^b is pointwise non-decreasing along the
      // chain (b up AND r down both raise it), so fp mass can only
      // rise and fn mass only fall — a theorem, not a data property
      assert(w(1)._3 >= w(0)._3, s"fp mass must rise: ${w(0)} -> ${w(1)}")
      assert(w(1)._4 <= w(0)._4, s"fn mass must fall: ${w(0)} -> ${w(1)}")
      // nested-prefix bands: every longer-band collision survives in
      // some shorter band, and bands multiply — slots only grow
      assert(w(1)._5 >= w(0)._5, s"candidate volume must rise: ${w(0)} -> ${w(1)}")
    }
  }

  test("leakage-safe split: clusters never span splits; doc-keyed split leaks on a planted corpus, cluster-keyed never") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // real corpus: the construction theorem — every cluster maps to ONE split
    val safe = Dedup.docSplitLeakageSafe(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(safe.nonEmpty)
    safe.groupBy(_._2).foreach { case (c, rs) =>
      assert(rs.map(_._3).toSet.size == 1, s"cluster $c spans splits ${rs.map(_._3).toSet}")
    }
    val audit = Dedup.docSplitLeakageAudit(tables).orderBy("method").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(audit("cluster_keyed")._2 == 0L, "cluster-keyed split must never leak")
    assert(audit("cluster_keyed")._1 == audit("doc_keyed")._1, "both methods audit the same pair set")
    // planted: 60 disjoint near-dup pairs + a COARSE 50/25/25 split so
    // the doc-keyed leak probability per pair is ~0.625 — a zero leak
    // would be a broken audit, not luck
    val docs = (0 until 60).flatMap { i =>
      val toks = (0 until 12).map(j => s"t${i}x$j").mkString(" ")
      Seq((i * 2L, toks + " mike"), (i * 2L + 1L, toks + " november"))
    }.map { case (id, tx) => (id, tx, "en", "t", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val t = graft.sources.Tables(spark, sfDir, docsOverride = Some(docs))
    val planted = Dedup.docSplitLeakageAudit(t, trainPermille = 500,
      validPermille = 250).orderBy("method").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(planted("doc_keyed")._1 >= 50L, s"planted pairs must be found: ${planted("doc_keyed")}")
    assert(planted("doc_keyed")._2 > 0L, "doc-keyed split must visibly leak on the planted corpus")
    assert(planted("cluster_keyed")._2 == 0L, "cluster-keyed must not leak even at a coarse split")
  }
}
