package graft

import graft.operators.Similarity

/** Structural + recall laws for the ANN family (brute force is the
  * exact baseline; LSH and IVF are the scale paths).
  */
class SimilaritySpec extends SparkSpec {

  private def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap

  test("ivf: valid ranks, no self-matches, positive recall vs brute force") {
    val exact = topk(Similarity.annTopkBruteforce(tables, k = 3))
    val ivf = topk(Similarity.annIvf(tables, k = 3))
    assert(ivf.nonEmpty)
    ivf.foreach { case (q, ns) =>
      assert(ns.size <= 3)
      assert(!ns.contains(q), "no self-match")
    }
    val recalls = exact.keys.toSeq.map { q =>
      val e = exact(q).toSet
      val i = ivf.getOrElse(q, Seq.empty).toSet
      (e intersect i).size.toDouble / e.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean > 0.2, s"IVF mean recall@3 too low: $mean (nProbe=4/16 cells)")
  }

  test("prefix-dim recall card: full-dim prefix is exact (recall 1.0, cos equals exact mean); truncation never beats full") {
    import org.apache.spark.sql.functions.col
    val rows = Similarity.annPrefixDimRecall(tables).orderBy("prefix_dims").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.map(_._1).toSeq == Seq(8L, 16L, 32L, 64L))
    val full = rows.find(_._1 == 64L).get
    assert(full._2 == 1.0,
      s"the full-dimension prefix must recall the exact top-k exactly, got ${full._2}")
    // its mean full cos must equal the exact top-k's own mean
    val exact = Similarity.annTopkBruteforce(tables)
      .select(col("cos_r")).collect().map(_.getDouble(0))
    val exactMean = math.floor(
      (exact.map(c => BigDecimal(c).setScale(6,
        BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / exact.length)
        * 1e6 + 0.5) / 1e6
    assert(full._3 == exactMean,
      s"full-prefix mean cos ${full._3} != exact mean $exactMean")
    // truncation can only lose full-space quality: every shorter
    // prefix's retrieved set grades <= the full prefix's
    rows.filter(_._1 < 64L).foreach { r =>
      assert(r._3 <= full._3, s"prefix ${r._1} full-cos ${r._3} beats full ${full._3}")
      assert(r._2 >= 0.0 && r._2 <= 1.0)
    }
  }

  test("multi-table lsh: neighbors share some table's bucket; recall dominates single-table when uncapped") {
    import org.apache.spark.sql.functions.col
    val rows = Similarity.annLshMultiTable(tables, k = 3).collect()
    assert(rows.nonEmpty)
    // every returned neighbor collides with its query in ≥1 of the 4 tables
    val e = Similarity.withNorm(tables.embeddings)
    val buckets = e.select(col("vec_id"),
        org.apache.spark.sql.functions.array((0 until 4).map(i =>
          Similarity.signBucketAt(col("v"), 8, i * 8)): _*).as("bs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    rows.foreach { r =>
      val (q, n) = (r.getLong(0), r.getLong(2))
      assert(buckets(q).zip(buckets(n)).exists { case (a, b) => a == b },
        s"neighbor $n of query $q shares no bucket in any table")
    }
    // candidate superset law: with the cap disabled, 4 tables see every
    // candidate 1 table sees, so for each rank BOTH sides fill, the
    // multi-table score at that rank dominates (comparing mins of
    // different-length top-k lists would be unsound: a superset can add
    // a low-scoring 3rd hit where the single table had only 2)
    def ranked(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] =
      df.collect().groupBy(_.getLong(0))
        .view.mapValues(_.sortBy(_.getLong(1)).map(_.getDouble(3)).toSeq).toMap
    val single = ranked(Similarity.annLshMultiTable(tables, k = 3, nTables = 1, bucketCap = Int.MaxValue))
    val multi = ranked(Similarity.annLshMultiTable(tables, k = 3, nTables = 4, bucketCap = Int.MaxValue))
    single.foreach { case (q, ss) =>
      val ms = multi.getOrElse(q, Seq.empty)
      ss.zip(ms).zipWithIndex.foreach { case ((s, m), i) =>
        assert(m >= s - 1e-9, s"query $q rank ${i + 1}: multi-table score $m below single-table $s")
      }
      assert(ms.size >= ss.size, s"query $q: superset candidates returned fewer rows")
    }
    // the cap bounds posting lists: cap=1 still yields a valid (possibly
    // shorter) result with no self-matches
    val capped = Similarity.annLshMultiTable(tables, k = 3, bucketCap = 1).collect()
    capped.foreach(r => assert(r.getLong(0) != r.getLong(2), "self-match under cap"))
  }

  test("sign bucket: dimensions past the vector end read as sign 0, not an ANSI error") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    // dim-2 vectors, bucket over dims 4..12 (offset 4, 8 bits): every
    // read is out of range → bucket 0 (the oracle's v[i]→NULL→ELSE 0)
    val shorty = Seq((1L, Array(1.0, -1.0)), (2L, Array(0.5, 2.0)))
      .toDF("vec_id", "v")
    val out = shorty.select(Similarity.signBucketAt(col("v"), 8, 4).as("b")).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 0L))
    // partially in range: dim-2 vector over offset 1, 8 bits reads only
    // index 1 (v(1) = -1.0 → bit clear; 2.0 → bit set)
    val part = shorty.select(col("vec_id"), Similarity.signBucketAt(col("v"), 8, 1).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(part(1L) == 0L && part(2L) == 1L)
  }

  test("lsh buckets: every neighbor shares the query's sign bucket") {
    val rows = Similarity.annLshBucketed(tables).collect()
    assert(rows.nonEmpty)
    val bucketOf = Similarity.withNorm(tables.embeddings)
      .withColumn("b", Similarity.signBucket(org.apache.spark.sql.functions.col("v"), 8))
      .select("vec_id", "b").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (q, n, b) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(bucketOf(q) == b && bucketOf(n) == b)
    }
  }

  test("maxsim: one row per label, self-containing labels score their own query vecs at 1, hand-check") {
    import org.apache.spark.sql.functions.col
    val rows = Similarity.annMaxsim(tables).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2)))
    val labels = tables.embeddings.select("label").distinct().count()
    assert(rows.length == labels, "one score per label")
    assert(rows.forall(_._3 == 8L), "every label scored against all 8 query vectors")
    assert(rows.forall { case (_, s, _) => s > -8.0 && s <= 8.0 }, "bounded by Σ|cos| ≤ 8")
    val scores = rows.map(_._2)
    assert(scores.sameElements(scores.sortBy(-(_: Double))), "descending by score")
    // hand-check: recompute one label's MaxSim locally from raw vectors
    val all = tables.embeddings.select(col("vec_id"), col("label"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    def cosR(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.foldLeft(0.0)(_ + _)
      val (na, nb) = (math.sqrt(a.map(x => x * x).sum), math.sqrt(b.map(x => x * x).sum))
      math.floor(d / (na * nb) * 1e6 + 0.5) / 1e6
    }
    val qs = all.filter(_._1 < 8)
    val lbl = rows.head._1
    val docVecs = all.filter(_._2 == lbl).map(_._3)
    val expected = qs.map(q => docVecs.map(dv => cosR(q._3, dv)).max)
      .map(BigDecimal(_).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
    assert(math.abs(rows.find(_._1 == lbl).get._2 - expected) < 1e-9,
      s"label $lbl maxsim mismatch vs local recompute")
  }

  test("kmeans assign: literal-argmin pass == local brute-force argmin; every vector assigned") {
    import org.apache.spark.sql.functions.col
    val nCenters = 4
    val out = Similarity.embKmeansAssign(tables, nCenters).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out.nonEmpty && out.size == tables.embeddings.count())
    assert(out.values.forall { case (c, _) => c >= 0 && c < nCenters })
    // independent driver-side reference: same centers, same fold order,
    // same rounding, explicit argmin with (dist, cell) tie-break
    val centers = Similarity.hashCenters(tables, nCenters)
    val vecs = Similarity.withNorm(tables.embeddings)
      .select(col("vec_id"), col("v"), col("n2")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    vecs.foreach { case (id, v, n2) =>
      val best = centers.map { case (cell, cv, c2) =>
        val dot = v.zip(cv).foldLeft(0.0) { case (acc, (a, b)) => acc + a * b }
        (math.floor((n2 - 2 * dot + c2) * 1e6 + 0.5) / 1e6, cell.toLong)
      }.min
      assert(out(id) == ((best._2, best._1)),
        s"vec $id: got ${out(id)}, brute-force argmin $best")
    }
  }

  test("pq codes: one row per (vec, subspace); every code is the brute-force sub-argmin") {
    import org.apache.spark.sql.functions.col
    val (m, nCodes) = (8, 4)
    val rows = Similarity.embPqCodes(tables, m, nCodes).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val nVecs = tables.embeddings.count()
    assert(rows.size == nVecs * m, "one code per (vector, subspace)")
    val centers = Similarity.hashCenters(tables, nCodes)
    val dsub = centers.head._2.length / m
    val vecs = Similarity.withNorm(tables.embeddings)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    vecs.foreach { case (id, v) =>
      (0 until m).foreach { j =>
        val xv = v.slice(j * dsub, (j + 1) * dsub)
        val best = centers.map { case (code, cv, _) =>
          val cs = cv.slice(j * dsub, (j + 1) * dsub)
          val xn2 = xv.foldLeft(0.0)((a, x) => a + x * x)
          val dot = xv.zip(cs).foldLeft(0.0) { case (a, (x, c)) => a + x * c }
          val c2 = cs.foldLeft(0.0)((a, x) => a + x * x)
          (math.floor((xn2 - 2 * dot + c2) * 1e6 + 0.5) / 1e6, code.toLong)
        }.min
        assert(rows((id, j.toLong)) == ((best._2, best._1)),
          s"vec $id sub $j: got ${rows((id, j.toLong))}, want $best")
      }
    }
  }

  test("range search: shuffle-free plan; everything returned clears the radius; consistent with top-k") {
    import org.apache.spark.sql.functions.col
    val radius = 0.25
    val df = Similarity.annRange(tables, nQueries = 8, radius = radius)
    // range search is a pure map-filter pass over the corpus: the
    // broadcast query side must not introduce any shuffle
    val shuffles = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    assert(shuffles.isEmpty, s"range search must be shuffle-free: ${df.queryExecution.executedPlan}")
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    assert(got.forall(_._3 >= radius), "every returned pair clears the radius")
    assert(got.forall(p => p._1 != p._2), "no self matches")
    // every top-k result above the radius appears in the range result
    val topk = Similarity.annTopkBruteforce(tables).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .filter(_._3 >= radius)
    val gotSet = got.map(p => (p._1, p._2)).toSet
    topk.foreach { case (q, v, c) =>
      assert(gotSet.contains((q, v)), s"top-k pair ($q,$v,$c) missing from range result")
    }
  }

  test("sq8 codes: one row per (vec, dim); codes in [0,255]; reconstruction within a half-step per dimension; narrow plan") {
    import org.apache.spark.sql.functions.col
    val df = Similarity.embSq8Codes(tables)
    // the coding pass is map-only: bounds are literals, no shuffle/join
    val shuffles = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
    }
    assert(shuffles.isEmpty, s"sq8 coding must be one narrow pass: ${df.queryExecution.executedPlan}")
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val vecs = Similarity.withNorm(tables.embeddings)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val dim = vecs.head._2.length
    assert(rows.size == vecs.length * dim, "one code per (vector, dimension)")
    val (mns, mxs) = Similarity.sq8Bounds(tables)
    vecs.foreach { case (id, v) =>
      v.zipWithIndex.foreach { case (x, d) =>
        val (code, recon) = rows((id, d.toLong))
        assert(code >= 0L && code <= 255L, s"vec $id dim $d: code $code")
        val step = (mxs(d) - mns(d)) / 256.0
        assert(math.abs(x - recon) <= step / 2 + 1e-6,
          s"vec $id dim $d: |$x - $recon| > half-step $step")
      }
    }
  }

  test("sq8 adc: top-k == driver brute force over code reconstructions; self excluded; ranks dense") {
    val k = 4
    val out = Similarity.annSq8Adc(tables, nQueries = 4, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val (mns, mxs) = Similarity.sq8Bounds(tables)
    val vecs = Similarity.withNorm(tables.embeddings)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    def codeOf(x: Double, d: Int): Long =
      if (mxs(d) == mns(d)) 0L
      else math.min(255L, math.floor((x - mns(d)) / (mxs(d) - mns(d)) * 256.0).toLong)
    def reconOf(c: Long, d: Int): Double =
      mns(d) + (c + 0.5) * (mxs(d) - mns(d)) / 256.0
    (0L until 4L).foreach { q =>
      val qv = vecs(q)
      val want = vecs.toSeq.filter(_._1 != q).map { case (id, v) =>
        val dist = v.zipWithIndex.foldLeft(0.0) { case (acc, (x, d)) =>
          val diff = qv(d) - reconOf(codeOf(x, d), d); acc + diff * diff
        }
        (math.floor(dist * 1e6 + 0.5) / 1e6, id)
      }.sorted.take(k)
      val got = out.filter(_._1 == q).sortBy(_._2)
      assert(got.map(_._2).toSeq == (1L to k), s"query $q ranks dense")
      assert(got.map(r => (r._4, r._3)).toSeq == want, s"query $q: got ${got.toSeq}, want $want")
    }
  }

  test("pq adc: distance == decimal sum of the query's table entries at the candidate's codes; lossless regime == exact L2") {
    val (m, nCodes, k) = (8, 4, 3)
    val adc = Similarity.annPqAdc(tables, k = k, m = m, nCodes = nCodes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(adc.nonEmpty)
    adc.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length), s"query $q ranks dense")
      assert(!rs.exists(_._3 == q), s"query $q must not match itself")
    }
    // driver recompute of one (query, candidate) ADC distance from
    // codes — D9 rides the Lloyd-TRAINED codebook (r10), so the
    // recompute derives codes and centers from the same trained set
    val centers = Similarity.trainedCenters(tables, nCodes)
    val codes = Similarity.embPqCodesWith(tables, centers, m).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val (q, _, cand, got) = adc.head
    val dsub = centers.head._2.length / m
    val qv = Similarity.withNorm(tables.embeddings)
      .filter(org.apache.spark.sql.functions.col("vec_id") === q)
      .select(org.apache.spark.sql.functions.col("v")).collect().head.getSeq[Double](0)
    val want = (0 until m).map { j =>
      val code = codes((cand, j.toLong))._1
      val cs = centers(code.toInt)._2.slice(j * dsub, (j + 1) * dsub)
      val xv = qv.slice(j * dsub, (j + 1) * dsub)
      val xn2 = xv.foldLeft(0.0)((a, x) => a + x * x)
      val dot = xv.zip(cs).foldLeft(0.0) { case (a, (x, c)) => a + x * c }
      val c2 = cs.foldLeft(0.0)((a, x) => a + x * x)
      BigDecimal(math.floor((xn2 - 2 * dot + c2) * 1e6 + 0.5) / 1e6).setScale(6)
    }.sum.toDouble
    assert(math.abs(got - want) < 1e-9, s"q=$q cand=$cand adc=$got want=$want")
    // lossless regime: when every prototype lands in the codebook,
    // quantization has zero residual and the ADC ranking must equal
    // the exact L2 ranking. The codebook is the 4 lowest-hash vec_ids,
    // so assign prototype w to the w-th hash winner — each prototype
    // is then a codeword. (On THIS near-isotropic random corpus recall
    // is legitimately ~0 — same finding as the sign-LSH scaladoc in
    // Dedup — so the meaningful ranking law lives here.)
    val tmp = java.nio.file.Files.createTempDirectory("graft-adc").toString
    import spark.implicits._
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val winners = (0L until 20L).sortBy(id => (h60(s"centroid:$id"), id)).take(4)
    val protoOf = (0L until 20L).map { id =>
      id -> (winners.indexOf(id) match { case -1 => (id % 4).toInt; case w => w })
    }.toMap
    val protos = (0 until 4).map(p => Array.tabulate(64)(i => (if (i % 4 == p) 1.0f else 0.1f * p)))
    (0L until 20L).map(id => (id, protos(protoOf(id)).toSeq, protoOf(id)))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val tt = graft.sources.Tables(spark, tmp)
    val lossless = Similarity.annPqAdc(tt, nQueries = 4, k = 3, m = m, nCodes = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val vecs2 = (0L until 20L).map(id => id -> protos(protoOf(id)).map(_.toDouble)).toMap
    def l2(a: Array[Double], b: Array[Double]) =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + (x - y) * (x - y) }
    lossless.groupBy(_._1).foreach { case (qq, rs) =>
      val exact = vecs2.toSeq.filter(_._1 != qq)
        .sortBy { case (id, v) => (l2(vecs2(qq), v), id) }.take(3).map(_._1)
      assert(rs.sortBy(_._2).map(_._3).toSeq == exact,
        s"query $qq: lossless ADC ranking must equal exact L2 ranking")
    }
  }

  test("ivf-adc: full probe == plain ADC; pruned probe stays within probed cells") {
    // probing every cell removes the IVF restriction entirely — the
    // composed operator must then reproduce D9 row for row
    val full = Similarity.annIvfAdc(tables, nCells = 16, nProbe = 16)
      .collect().map(_.toSeq)
    val adc = Similarity.annPqAdc(tables).collect().map(_.toSeq)
    assert(full.toSeq == adc.toSeq, "nProbe == nCells must equal unrestricted ADC")
    // pruned: every reported neighbor's cell is one of its query's
    // nProbe nearest cells — assignment recomputed with the TRAINED
    // coarse centers D10 actually uses (D7's card is the seed set)
    val cells = Similarity
      .withCell(Similarity.withNorm(tables.embeddings),
        Similarity.trainedCenters(tables, 16))
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("cell"),
        org.apache.spark.sql.functions.col("dist2_r")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val pruned = Similarity.annIvfAdc(tables, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(pruned.nonEmpty, "pruned search must still find neighbors")
    // probe set per query: 4 nearest of the 16 coarse centers — derive
    // from the assignment relation's center distances is not enough
    // (it has only the argmin), so just check the weaker containment
    // law that matters for G12 I/O: candidates come from <= nProbe
    // distinct cells per query
    pruned.groupBy(_._1).foreach { case (q, rows) =>
      val used = rows.map(p => cells(p._2)._1).distinct
      assert(used.size <= 4, s"query $q drew neighbors from ${used.size} cells")
    }
  }

  test("ivf rerank: results drawn from the ADC pool, exactly ordered; recall >= plain ADC") {
    val poolR = 20
    val pool = Similarity.annIvfAdc(tables, k = poolR).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rr = Similarity.annIvfRerank(tables, rerankR = poolR).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rr.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._3).toSet.subsetOf(pool(q)),
        s"query $q reranked outside its candidate pool")
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // recall vs exact L2 ground truth (the metric ADC approximates;
    // cosine brute force ranks differently on unnormalized vectors):
    // exact rescoring of the same pool must not lose recall vs ADC
    import org.apache.spark.sql.functions._
    val vecs = Similarity.withNorm(tables.embeddings)
      .select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def l2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + (x - y) * (x - y) }
    val exact = (0L until 8L).map { q =>
      q -> vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (l2(vecs(q), v), id) }.sorted.take(5).map(_._2).toSet
    }.toMap
    val adcTop = topk(Similarity.annIvfAdc(tables))
    val rrTop = rr.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val adcRecall = adcTop.map { case (q, ids) => ids.toSet.intersect(exact(q)).size }.sum
    val rrRecall = rrTop.map { case (q, ids) => ids.toSet.intersect(exact(q)).size }.sum
    assert(rrRecall >= adcRecall,
      s"exact rerank must not lose recall vs ADC: $rrRecall < $adcRecall")
  }

  test("label knn: prediction is the driver-computed majority over the knn-graph edges") {
    import org.apache.spark.sql.functions._
    // consistency law between the two D14-family operators: for every
    // source, ann_label_knn's (pred_label, votes) must equal the
    // majority vote (votes DESC, label ASC tiebreak) recomputed on the
    // driver from ann_knn_graph's k=5 edge dump joined to labels
    val labels = tables.embeddings.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val edges = Similarity.annKnnGraph(tables, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val expected = edges.groupBy(_._1).map { case (src, es) =>
      val byLabel = es.map(e => labels(e._2)).groupBy(identity)
        .map { case (l, xs) => (l, xs.size) }
      val (pl, v) = byLabel.toSeq.sortBy { case (l, n) => (-n, l) }.head
      src -> ((pl, v.toLong))
    }
    val got = Similarity.annLabelKnn(tables, k = 5).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(got.keySet == expected.keySet, "source sets differ")
    for ((src, exp) <- expected)
      assert(got(src) == exp, s"src=$src got=${got(src)} expected=$exp")
  }

  test("pagerank: two independent runs are bit-identical (exact integer recursion)") {
    val a = Similarity.annPagerank(tables).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Similarity.annPagerank(tables).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, "integer-lattice recursion must be run-deterministic under AQE/persist")
  }

  test("mips: top-k equals driver-exact inner-product ranking under the augmentation transform") {
    import spark.implicits._
    val vecs = tables.embeddings.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def dotp(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val mNorm = vecs.values.map(v => math.sqrt(dotp(v, v))).max
    val got = Similarity.annMipsTopk(tables, nQueries = 4, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (q, rs) =>
      val qn = math.sqrt(dotp(vecs(q), vecs(q)))
      val expected = vecs.keys.filter(_ != q).toSeq
        .map(v => (v, r6(dotp(vecs(q), vecs(v)) / (qn * mNorm))))
        .sortBy { case (v, c) => (-c, v) }.take(5).map(_._1)
      assert(rs.sortBy(_._2).map(_._3) == expected,
        s"q=$q MIPS ranking must be the exact transformed-cosine ranking")
      // the reduction's license: transformed cosine is per-query
      // monotone in the raw dot, so raw dots are non-increasing
      // wherever the rounded cosines strictly decrease
      val ds = rs.sortBy(_._2).map(t => dotp(vecs(q), vecs(t._3)))
      val cs = rs.sortBy(_._2).map(t => r6(dotp(vecs(q), vecs(t._3)) / (qn * mNorm)))
      cs.zip(cs.tail).zip(ds.zip(ds.tail)).foreach { case ((c1, c2), (d1, d2)) =>
        if (c1 != c2) assert(d1 > d2, "strictly smaller rounded cosine must mean smaller dot")
      }
    }
  }

  test("hamming rerank: packed-word distance == naive sign-mismatch count; results clear the filter and rank exactly") {
    import spark.implicits._
    // bit-level law: the two 32-bit packed words reproduce the naive
    // per-dimension sign-mismatch count for every (query, result) pair
    val vecs = tables.embeddings.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def signs(v: Seq[Double]): Seq[Boolean] = v.map(_ > 0.0)
    val rows = Similarity.annHammingRerank(tables, nQueries = 4, k = 5, hamMax = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (q, rank, v, ham) =>
      val naive = signs(vecs(q)).zip(signs(vecs(v))).count { case (a, b) => a != b }
      assert(ham == naive, s"packed hamming $ham != naive $naive for ($q,$v)")
      assert(ham <= 24, "prefilter must hold on every survivor")
      assert(rank >= 1 && rank <= 5 && q != v)
    }
    // rerank exactness: among survivors, ranks follow exact cosine
    val exact = topk(Similarity.annTopkBruteforce(tables, nQueries = 4, k = 200))
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val got = rs.sortBy(_._2).map(_._3).toSeq
      val survivors = exact(q).filter { v =>
        signs(vecs(q)).zip(signs(vecs(v))).count { case (a, b) => a != b } <= 24
      }.take(got.size)
      assert(got == survivors, s"q=$q rerank order must be the exact-cosine order of survivors")
    }
  }

  test("pagerank: every node covered, floor respected, mass bounded, inflow lifts rank") {
    val n = tables.embeddings.count()
    val ranks = Similarity.annPagerank(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks.size == n, "one rank per vector, isolates included")
    val floor = 15L * (1000000000000L / n) / 100L
    assert(ranks.values.forall(_ >= floor), "teleport floor is the minimum")
    // dangling mass is dropped by declared semantics: total ≤ 1 (1e12)
    assert(ranks.values.sum <= 1000000000000L, s"mass=${ranks.values.sum}")
    // a node with in-edges must outrank a pure isolate (floor holder)
    val indeg = Similarity.annKnnGraph(tables).collect()
      .groupBy(_.getLong(2)).view.mapValues(_.length).toMap
    val topIn = indeg.maxBy(_._2)._1
    assert(ranks(topIn) > floor, "max-in-degree node must sit above the floor")
  }

  test("mmr: rank1 is pure relevance, members from pool, diversity beats plain topk") {
    import org.apache.spark.sql.functions.col
    val k = 5
    val mmr = Similarity.annMmrDiversify(tables, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exact = topk(Similarity.annTopkBruteforce(tables, k = 20))
    val byQ = mmr.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    byQ.foreach { case (q, sel) =>
      assert(sel.head == exact(q).head, s"q=$q rank1 must be the exact-cosine argmax")
      assert(sel.distinct.size == sel.size, s"q=$q must not repeat a selection")
      assert(sel.forall(exact(q).contains), s"q=$q selections must come from the pool")
    }
    // diversity: mean max intra-set similarity of the MMR set must not
    // exceed the plain top-k's (deterministic data, so not flaky)
    val e = Similarity.withNorm(tables.embeddings)
      .select(col("vec_id"), col("v"), col("n2")).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Double](1).toArray, r.getDouble(2))).toMap
    def cos(a: Long, b: Long): Double = {
      val (va, na) = e(a); val (vb, nb) = e(b)
      var s = 0.0; var i = 0
      while (i < va.length) { s += va(i) * vb(i); i += 1 }
      s / (math.sqrt(na) * math.sqrt(nb))
    }
    def maxIntra(sel: Seq[Long]): Double =
      sel.combinations(2).map { case Seq(a, b) => cos(a, b) }.max
    val qs = byQ.keys.toSeq
    val mmrDiv = qs.map(q => maxIntra(byQ(q))).sum / qs.size
    val topkDiv = qs.map(q => maxIntra(exact(q).take(k))).sum / qs.size
    assert(mmrDiv <= topkDiv,
      s"MMR mean max-intra-sim $mmrDiv must not exceed plain topk $topkDiv")
  }

  test("nprobe tuning: monotone recall and cost, full probe is exact") {
    // probes up to nCells so the last sweep point IS brute force:
    // recall must close at 1.0 and scan fraction at 1.0.
    val rows = Similarity
      .annNprobeTuning(tables, nCells = 16, probes = Seq(1, 2, 4, 16)).orderBy("nprobe")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 16L))
    assert(rows.forall(_._2 == 8L), "every sweep point covers all queries")
    val recalls = rows.map(_._3)
    val scans = rows.map(_._4)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall must be monotone in nprobe: ${recalls.toSeq}")
    assert(scans.zip(scans.tail).forall { case (a, b) => a <= b },
      s"scan fraction must be monotone in nprobe: ${scans.toSeq}")
    assert(recalls.last == 1.0, s"probing every cell must reach recall 1.0, got ${recalls.last}")
    assert(scans.last == 1.0, s"probing every cell must scan the corpus, got ${scans.last}")
    assert(scans.head < 0.5, s"nprobe=1 must scan a small fraction, got ${scans.head}")
  }

  test("graph reach: BFS layers bounded by out-degree, rows partition the corpus, entry layer is 1") {
    val rows = Similarity.annGraphReach(tables).orderBy("hop").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val total = tables.embeddings.count()
    assert(rows.values.sum == total,
      s"reached + unreached must partition the corpus: ${rows.values.sum} vs $total")
    assert(rows(0L) == 1L, "hop 0 is exactly the entry vertex")
    // out-degree of the multi-table union graph is at most
    // kGraph × nTables = 12 (per-table top-k edges, deduped union)
    (1L to 6L).foreach { h =>
      val prev = rows.getOrElse(h - 1, 0L); val cur = rows.getOrElse(h, 0L)
      assert(cur <= 12 * prev,
        s"layer $h has $cur vertices > k·nTables·|layer ${h - 1}| = ${12 * prev} — BFS expanded beyond the graph's out-degree")
    }
  }

  test("nlist tuning: quantization error non-increasing in cells (nested hash-prefix centers), shares sane") {
    val rows = Similarity.annNlistTuning(tables).orderBy("n_cells").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(4L, 8L, 16L))
    rows.sliding(2).foreach { w =>
      // hashCenters(n) is a PREFIX of hashCenters(2n) (same md5 order),
      // so the min-over-centers distance can only shrink — a theorem,
      // not a data property
      assert(w(1)._2 <= w(0)._2 + 1e-9,
        s"error must be non-increasing in cells: ${w(0)} -> ${w(1)}")
    }
    rows.foreach { case (nc, _, share, empty) =>
      assert(share >= 1.0 / nc - 1e-9 && share <= 1.0, s"share $share out of range at $nc")
      assert(empty >= 0 && empty < nc, s"empty-cell count $empty out of range at $nc")
    }
  }

  test("beam tuning: search never beats exact, best-found improves with beam, widest beam finds something") {
    val rows = Similarity.annBeamTuning(tables).orderBy("beam").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.length == 3 && rows.map(_._1).toSeq == Seq(2L, 8L, 32L))
    rows.foreach { case (b, rec, best, exact) =>
      assert(best <= exact + 1e-9,
        s"beam $b: best-found $best beats the exact optimum $exact — impossible")
      assert(rec >= 0.0 && rec <= 1.0, s"beam $b recall $rec out of range")
    }
    rows.sliding(2).foreach { w =>
      assert(w(1)._3 >= w(0)._3 - 1e-9,
        s"best-found must not degrade with beam on this corpus: ${w(0)} -> ${w(1)}")
      assert(w(1)._2 >= w(0)._2 - 1e-9,
        s"recall must not degrade with beam on this corpus: ${w(0)} -> ${w(1)}")
    }
    assert(rows.last._2 > 0.0, "beam 32 over 4 rounds must find at least one exact neighbor")
  }

  test("graph search: best-found score is monotone in rounds; results come from the graph's reachable set") {
    def best(rounds: Int): Map[Long, Double] =
      Similarity.annGraphSearch(tables, rounds = rounds).orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getDouble(3)))
        .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).max }
    val b1 = best(1); val b3 = best(3)
    assert(b1.keySet == b3.keySet, "every query answers at every depth")
    b3.foreach { case (q, s3) =>
      assert(s3 >= b1(q) - 1e-9,
        s"query $q: deeper search must never lose the best found (r1=${b1(q)} r3=$s3)")
    }
    // the answer set is visited vertices only — all must be reachable
    // within `rounds` hops of the entry vertex along the CONNECTED
    // multi-table edge union D41 now searches (r10; the D14
    // single-table graph is the D42b fragmentation probe)
    val edges = Similarity.knnEdgesMulti(tables, 3, 8, 4, 128)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).toSet }
    val entry = tables.embeddings.agg(org.apache.spark.sql.functions.min("vec_id"))
      .collect()(0).getLong(0)
    var reach = Set(entry)
    (1 to 3).foreach { _ => reach = reach ++ reach.flatMap(v => edges.getOrElse(v, Set.empty)) }
    val answered = Similarity.annGraphSearch(tables, rounds = 3).orderBy("q_id", "rank").collect()
      .map(_.getLong(2)).toSet
    assert(answered.subsetOf(reach),
      s"answers must lie in the ${reach.size}-vertex reachable set; got ${answered -- reach}")
  }

  test("layered graph search: every query answers with dense ranks; seeds come from the coarse layer's reachable set") {
    val rows = Similarity.annGraphSearchLayered(tables).orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val nq = tables.embeddings.filter(org.apache.spark.sql.functions.col("vec_id") < 8).count()
    assert(rows.map(_._1).distinct.length == nq, "every query must answer")
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length), s"query $q ranks dense")
    }
    // layer-1 law: the coarse beam only contains SAMPLED vertices
    // reachable within rounds1 hops of the sample's min id — so every
    // layer-0 answer is within rounds hops of such a vertex
    val sample = tables.embeddings
      .filter(org.apache.spark.sql.functions.expr("vec_id % 8 = 0"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(sample.nonEmpty, "test corpus must have sampled vertices")
    // answers reachable from the seed union along the full graph
    val edges = Similarity.knnEdgesMulti(tables, 3, 8, 4, 128)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (s, xs) => s -> xs.map(_._2).toSet }
    val sEdges = Similarity.knnEdgesMultiOf(
        Similarity.withNorm(tables.embeddings.filter(
          org.apache.spark.sql.functions.expr("vec_id % 8 = 0"))), 3, 8, 4, 128)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (s, xs) => s -> xs.map(_._2).toSet }
    var seeds = Set(sample.min)
    (1 to 4).foreach(_ => seeds = seeds ++ seeds.flatMap(v => sEdges.getOrElse(v, Set.empty)))
    var reach = seeds
    (1 to 3).foreach(_ => reach = reach ++ reach.flatMap(v => edges.getOrElse(v, Set.empty)))
    val answered = rows.map(_._3).toSet
    assert(answered.subsetOf(reach),
      s"answers must lie within rounds hops of the coarse-reachable seeds; got ${answered -- reach}")
  }

  test("NN-descent: per-vertex edge list weakly improves every round, degree stays capped, and the refined graph's search never loses to the raw graph's best-found") {
    import org.apache.spark.sql.functions.col
    val e = Similarity.withNorm(tables.embeddings)
    val seed = Similarity.knnEdgesMultiCosOf(e, 3, 8, 4, 128)
    val kOut = 8
    def edgeMap(rounds: Int): Map[Long, Seq[Double]] =
      Similarity.nnDescentEdges(e, seed, kOut, rounds).collect()
        .map(r => (r.getLong(0), r.getDouble(2)))
        .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sorted.reverse.toSeq }
    val r0 = edgeMap(0); val r1 = edgeMap(1); val r2 = edgeMap(2)
    assert(r0.keySet == r2.keySet, "refinement must not drop source vertices")
    (r2.values ++ r1.values).foreach(cs =>
      assert(cs.length <= kOut, s"degree must stay <= $kOut, got ${cs.length}"))
    // monotone improvement: round r's sorted-desc cosine list weakly
    // dominates round r-1's elementwise (union keeps old edges, topK
    // keeps the best) — the law that refinement can never hurt
    def dominates(later: Map[Long, Seq[Double]], earlier: Map[Long, Seq[Double]]): Unit =
      earlier.foreach { case (s, pre) =>
        val post = later(s)
        assert(post.length >= pre.length, s"vertex $s lost edges")
        pre.zip(post).foreach { case (p, q) =>
          assert(q >= p - 1e-9, s"vertex $s: rank slot degraded $p -> $q")
        }
      }
    dominates(r1, r0); dominates(r2, r1)
    // and it genuinely improves SOMEWHERE on this corpus
    assert(r2.exists { case (s, post) =>
      r0(s).length < post.length || r0(s).zip(post).exists { case (p, q) => q > p + 1e-9 }
    }, "two descent rounds must improve at least one vertex's list")
    // end-to-end: the refined graph's best-found per query >= the raw
    // graph's (same beam budget); ranks dense; every query answers
    val raw = Similarity.annGraphSearch(tables).orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getDouble(3)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).max }
    val nnd = Similarity.annGraphSearchNnd(tables).orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(nnd.map(_._1).distinct.length == raw.size, "every query must answer")
    nnd.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length), s"query $q ranks dense")
    }
    val nndBest = nnd.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._4).max }
    raw.foreach { case (q, rb) =>
      assert(nndBest(q) >= rb - 1e-9,
        s"query $q: refined-graph search lost to raw ($rb -> ${nndBest(q)})")
    }
    // D51 carries the graph_nnd ledger row
    val ledger = Similarity.annMethodRecall(tables).orderBy("method").collect()
      .map(r => r.getString(0)).toSeq
    assert(ledger.contains("graph_nnd"), s"ledger rows: $ledger")
  }

  test("ivf residual pq: ranks dense, no self-match, residual energy strictly below raw energy") {
    val rows = Similarity.annIvfRpq(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length), s"query $q ranks dense")
      assert(!rs.exists(_._3 == q), s"query $q must not match itself")
      assert(rs.forall(_._4 >= 0.0), s"query $q: ADC distances are sums of squared dists — non-negative")
    }
    // the reason residual PQ exists: the residual corpus carries
    // strictly less energy than the raw corpus (assignment to a
    // trained center beats the zero vector), so the same PQ budget
    // quantizes a finer range
    import org.apache.spark.sql.functions.sum
    val coarse = Similarity.trainedCenters(tables, 16)
    val raw = Similarity.withNorm(tables.embeddings)
      .agg(sum("n2")).collect()(0).getDouble(0)
    val res = Similarity.residualRel(tables, coarse)
      .agg(sum("n2")).collect()(0).getDouble(0)
    assert(res < raw,
      s"residual energy $res must be below raw energy $raw")
    // ...and the D48 card measures the payoff: at the same trained
    // code budget, residual-PQ reconstructs with lower mean error
    val err = Similarity.embRpqError(tables).orderBy("variant").collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(err("pq_residual") < err("pq_raw"),
      s"residual-PQ error ${err("pq_residual")} must beat raw-PQ ${err("pq_raw")}")
  }

  test("rpq recall: refined >= adc per query (pool-superset theorem), recalls in [0,1]") {
    val rows = Similarity.annRpqRecall(tables).orderBy("method", "q_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, _, rc) => rc >= 0.0 && rc <= 1.0 })
    val byQ = rows.groupBy(_._2).map { case (q, rs) =>
      q -> rs.map(r => r._1 -> r._3).toMap
    }
    byQ.foreach { case (q, m) =>
      // theorem (rerankR >= k): the adc top-k is a subset of the
      // refine pool, and any true-top-k member of the pool survives
      // the exact rescore — so refined recall can never drop below adc
      assert(m("refined") >= m("adc"),
        s"query $q: refine must not lose recall (adc=${m("adc")} refined=${m("refined")})")
    }
  }

  test("rpq nprobe sweep: scan fraction strictly increasing (theorem), recalls in [0,1], all queries at every level") {
    val rows = Similarity.annRpqNprobeTuning(tables).orderBy("nprobe").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    assert(rows.forall(_._2 == rows.head._2), "every level covers all queries")
    assert(rows.forall(r => r._3 >= 0.0 && r._3 <= 1.0))
    // more probes scan strictly more (every query's next cell is
    // non-empty only if it exists; ≥ always holds, and on this corpus
    // each probe adds rows) — recall is deliberately NOT pinned
    // monotone: ADC can rank a new wrong candidate above a true hit
    rows.sliding(2).foreach { w =>
      assert(w(1)._4 >= w(0)._4,
        s"scan fraction must not shrink with probes: ${w(0)} -> ${w(1)}")
    }
  }

  /** The row-form IVF-ADC path graft scored with before the packed
    * scorer, kept as its reference: codes are one row per (vector,
    * subspace), the distance table one row per (query, probed cell,
    * subspace, code), and a candidate's distance is a three-key
    * broadcast equi-join plus a grouped decimal sum. */
  private object RowFormAdc {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    type Centers = Array[(Int, Seq[Double], Double)]

    private def perSub(x: String, cb: Centers, m: Int) = {
      val dsub = cb.head._2.length / m
      (0 until m).map { j =>
        struct(lit(j.toLong).as("sub_j"), graft.functions.VectorExprs.pqDists(
          slice(col(x), j * dsub + 1, dsub), Similarity.subCodebook(cb, j, dsub)).as("ds"))
      }
    }

    /** (vec_id, cell, sub_j, code) from a (vec_id, cell, v) relation. */
    def codes(e: DataFrame, cb: Centers, m: Int): DataFrame =
      e.select(col("vec_id"), col("cell"), explode(array(perSub("v", cb, m): _*)).as("s"))
        .select(col("vec_id"), col("cell"), col("s.sub_j").as("sub_j"),
          col("s.ds").as("ds"), array_min(col("s.ds")).as("mn"))
        .select(col("vec_id"), col("cell"), col("sub_j"),
          (array_position(col("ds"), col("mn")) - 1L).as("code"))

    /** (q_id, vec_id, adc_dist_r, crank) over a (q_id, pcell, x, crank)
      * probe relation; D50's probe rank rides the group as its max. */
    def scores(codes: DataFrame, probes: DataFrame, cb: Centers, m: Int): DataFrame = {
      val adc = probes.select(col("q_id").as("q_id2"), col("pcell"), col("crank"),
          explode(array(perSub("x", cb, m): _*)).as("s"))
        .select(col("q_id2"), col("pcell"), col("crank"), col("s.sub_j").as("qsub_j"),
          posexplode(col("s.ds")))
        .select(col("q_id2"), col("pcell"), col("crank"), col("qsub_j"),
          col("pos").cast("long").as("qcode"), col("col").as("d_r"))
      codes.join(broadcast(adc), col("cell") === col("pcell") &&
          col("sub_j") === col("qsub_j") && col("code") === col("qcode") &&
          col("vec_id") =!= col("q_id2"))
        .groupBy(col("q_id2"), col("vec_id"))
        .agg(sum(col("d_r").cast(DecimalType(18, 6))).cast("double").as("adc_dist_r"),
          max(col("crank")).as("crank"))
        .select(col("q_id2").as("q_id"), col("vec_id"), col("adc_dist_r"), col("crank"))
    }

    /** v − c_cell, spelled out independently of the code under test. */
    def minus(coarse: Centers, cell: String): org.apache.spark.sql.Column =
      zip_with(col("v"), element_at(typedLit(coarse.sortBy(_._1).toSeq.map(_._2)),
        col(cell).cast("int") + 1), (x, c) => x - c)
  }

  test("packed IVF-ADC scorer == the row-form scorer row-for-row for D10, D46 and D50, over duplicated vectors (ties) and a NULL embedding") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // every vector again under a higher id (its ADC distance ties the
    // original's), plus one NULL embedding: the row form never scores it
    val base = tables.embeddings
    val corpus = base
      .unionByName(base.withColumn("vec_id", col("vec_id") + 100000L))
      .unionByName(Seq((999999L, Option.empty[Seq[Float]], 0))
        .toDF("vec_id", "embedding", "label"))
    val tt = tables.copy(embOverride = Some(corpus))
    val (m, nQueries, k) = (8, 8, 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    def sorted(df: org.apache.spark.sql.DataFrame) =
      rows(df).sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
    val e = Similarity.withNorm(tt.embeddings)
    val coarse = Similarity.trainedCenters(tt, 16)
    val queries = Similarity.probeCells(tt, coarse, nQueries, 4)

    // D10: raw codes, raw query vectors
    val pq = Similarity.trainedCenters(tt, 8)
    val d10Ref = Similarity.adcTopK(RowFormAdc.scores(
      RowFormAdc.codes(Similarity.withCell(e, coarse), pq, m),
      queries.select(col("q_id"), col("pcell"), col("v").as("x"), lit(0L).as("crank")),
      pq, m).drop("crank"), k)
    val d10 = rows(Similarity.annIvfAdc(tt, nQueries, k, m))
    assert(d10.nonEmpty && d10 == rows(d10Ref), "D10: packed scorer diverged from the row form")

    // D46: residual codes, per-probed-cell residual queries
    val pqr = Similarity.residualPqCenters(tt, coarse, 8)
    val resCodes = RowFormAdc.codes(Similarity.withCell(e, coarse)
      .select(col("vec_id"), col("cell"), RowFormAdc.minus(coarse, "cell").as("v")), pqr, m)
    val d46Ref = Similarity.adcTopK(RowFormAdc.scores(resCodes,
      queries.select(col("q_id"), col("pcell"), RowFormAdc.minus(coarse, "pcell").as("x"),
        lit(0L).as("crank")), pqr, m).drop("crank"), k)
    val d46 = rows(Similarity.annIvfRpq(tt, nQueries, k, m))
    assert(d46.nonEmpty && d46 == rows(d46Ref), "D46: packed scorer diverged from the row form")

    // D50: every probe rank up to 8 cells, carried through the scorer
    val ranked = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"),
        posexplode(Similarity.nearestCells(coarse, 8)).as(Seq("pi", "p")), col("v"))
      .select(col("q_id"), (col("pi") + 1).cast("long").as("crank"),
        col("p.cell").as("pcell"), col("v"))
    val d50Ref = RowFormAdc.scores(resCodes,
      ranked.select(col("q_id"), col("pcell"), RowFormAdc.minus(coarse, "pcell").as("x"),
        col("crank")), pqr, m)
    val d50 = Similarity.ivfAdcScores(Similarity.rpqCodesOf(tt.embeddings, coarse, pqr, m),
        Similarity.residualProbes(ranked, coarse), pqr, m)
      .select(col("q_id"), col("vec_id"), col("adc_dist_r"), col("crank"))
    assert(sorted(d50).nonEmpty && sorted(d50) == sorted(d50Ref),
      "D50: packed scores with the carried probe rank diverged from the row form")

    // the ties are real and the NULL vector never scores
    assert(d46.exists(_(2).asInstanceOf[Long] >= 100000L), "duplicates must compete for the top-k")
    assert(!(d10 ++ d46).exists(_(2) == 999999L) && !sorted(d50).exists(_(1) == 999999L))
  }

  test("lloyd training: SSE non-increasing per round; trained centers beat the seed and move off it") {
    val rounds = 4
    val curve = Similarity.embKmeansTrainCurve(tables, nCenters = 8, rounds = rounds).orderBy("round")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(curve.map(_._1).toSeq == (1L to rounds), "one row per round")
    val n = tables.embeddings.count()
    assert(curve.forall(_._2 == n), "every round assigns the whole corpus")
    curve.sliding(2).foreach { w =>
      assert(w(1)._3 <= w(0)._3 + 1e-6,
        s"Lloyd SSE must not increase: round ${w(0)._1}=${w(0)._3} -> round ${w(1)._1}=${w(1)._3}")
    }
    assert(curve.last._3 < curve.head._3,
      "training must actually reduce SSE vs the seed on this corpus")
    // the deploy-arc centers are the trained set, deterministic
    val t1 = Similarity.trainedCenters(tables, 8)
    assert(t1.toSeq == Similarity.trainedCenters(tables, 8).toSeq)
    assert(t1.map(_._1).toSeq == Similarity.hashCenters(tables, 8).map(_._1).toSeq,
      "cell ids stable through training")
  }

  test("trainedCenters over an embOverride corpus equals training on the same vectors written to their own dir") {
    import org.apache.spark.sql.functions._
    val flipped = tables.embeddings.withColumn("embedding", transform(col("embedding"), x => -x))
    val dir = java.nio.file.Files.createTempDirectory("emb_flipped").toString
    flipped.write.parquet(s"$dir/embeddings.parquet")
    val canonical = Similarity.trainedCenters(tables, 8)
    val viaOverride = Similarity.trainedCenters(tables.copy(embOverride = Some(flipped)), 8)
    val written = Similarity.trainedCenters(graft.sources.Tables(spark, dir), 8)
    assert(viaOverride.sameElements(written),
      "an override corpus must train on its own vectors, not the table dir's")
    assert(!viaOverride.sameElements(canonical), "flipped vectors train different centers")
  }

  test("coarse kernel: withCell and probeCellsOf match the unrolled struct-argmin at 1, 7 and 256 centers, duplicate centers, a null and a NaN embedding") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    import graft.functions.VectorExprs
    val e = Similarity.withNorm(tables.embeddings).select(col("vec_id"), col("v"))
    // edge rows: a null embedding, and a NaN in the first element
    val edges = e.filter(col("vec_id") === 0L).select(lit(-1L).as("vec_id"),
        lit(null).cast("array<double>").as("v"))
      .unionByName(e.filter(col("vec_id") === 0L).select(lit(-2L).as("vec_id"),
        concat(array(lit(Double.NaN)), slice(col("v"), 2, 1 << 16)).as("v")))
    val rel = e.unionByName(edges).withColumn("n2", VectorExprs.dot(col("v"), col("v")))
    val n = e.count()
    // the reference: the unrolled per-center form both readers replaced
    def r6(c: org.apache.spark.sql.Column) = floor(c * 1e6 + 0.5) / 1e6
    def unrolled(cs: Array[(Int, Seq[Double], Double)]) = array(cs.map { case (cell, cv, c2) =>
      struct(r6(col("n2") - lit(2.0) * VectorExprs.dot(col("v"), typedLit(cv)) + lit(c2))
        .as("dist2_r"), lit(cell.toLong).as("cell"))
    }.toSeq: _*)
    def dist(r: Row, i: Int): Option[Double] = if (r.isNullAt(i)) None else Some(r.getDouble(i))
    val seed7 = Similarity.hashCenters(tables, 7)
    val cases = Seq(
      "1 center" -> Similarity.hashCenters(tables, 1),
      "7 centers" -> seed7,
      "256 centers" -> Similarity.hashCenters(tables, 256),
      // every center twice (cells 7..13 copy 0..6), listed out of order:
      // ties must go to the lowest cell
      "duplicates" -> (seed7.map { case (c, v, c2) => (c + 7, v, c2) } ++ seed7).reverse)
    cases.foreach { case (name, cs) =>
      val got = Similarity.withCell(rel, cs)
        .select(col("vec_id"), col("cell"), col("dist2_r")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), dist(r, 2))).toMap
      val ref = rel.select(col("vec_id"), array_min(unrolled(cs)).as("b"))
        .select(col("vec_id"), col("b.cell"), col("b.dist2_r")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), dist(r, 2))).toMap
      assert(got.keySet == ref.keySet && got.size == n + 2, name)
      got.foreach { case (id, (cell, d)) =>
        assert(cell == ref(id)._1, s"$name: vec $id cell $cell != ${ref(id)._1}")
        if (id == -2L) assert(d.exists(_.isNaN) && ref(id)._2.contains(0.0),
          s"$name: NaN row distance is NaN (the unrolled BIGINT floor gave 0.0), got $d")
        else assert(d == ref(id)._2, s"$name: vec $id dist2_r $d != ${ref(id)._2}")
      }
      assert(got(-1L) == (cs.map(_._1).min.toLong, None),
        s"$name: a null embedding takes the lowest cell with a null distance")
      if (name == "duplicates") assert(got.values.forall(_._1 < 7), "lowest duplicate wins")
      // probes: top-4 (dist2_r, cell) lists in order, and probeCellsOf's cells
      def lists(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getSeq[Row](1).map(p => (dist(p, 0), p.getLong(1))))
        .toMap
      val gotP = lists(rel.select(col("vec_id"), Similarity.nearestCells(cs, 4)))
      val refP = lists(rel.select(col("vec_id"), slice(array_sort(unrolled(cs)), 1, 4)))
      assert(gotP.keySet == refP.keySet, name)
      gotP.foreach { case (id, ps) =>
        assert(ps.map(_._2) == refP(id).map(_._2), s"$name: vec $id probe cells")
        if (id == -2L) assert(ps.forall(_._1.exists(_.isNaN)), s"$name: NaN row probe distances")
        else assert(ps.map(_._1) == refP(id).map(_._1), s"$name: vec $id probe distances")
      }
      assert(gotP(-1L).map(_._2) == cs.map(_._1.toLong).sorted.take(4).toSeq,
        s"$name: a null embedding probes the lowest cells")
      val probed = Similarity.probeCellsOf(rel.withColumnRenamed("vec_id", "q_id"), cs, 4)
        .collect().toSeq.map(r => r.getLong(0) -> r.getLong(1))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2) }
      assert(probed == gotP.map { case (q, ps) => q -> ps.map(_._2) }, s"$name: probeCellsOf")
    }
  }
}
