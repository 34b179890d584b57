package graft

import org.apache.spark.sql.functions._

import graft.operators.Analytics

class SketchSpec extends SparkSpec {

  test("HLL approx distinct within configured 2% rsd (allow 3 sigma) of exact") {
    val approx = Analytics.qApproxDistinct(tables).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val exact = tables.lineitem
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("o"), countDistinct(col("l_partkey")).as("p"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    exact.foreach { case (k, (o, p)) =>
      val (ao, ap) = approx(k)
      assert(math.abs(ao - o).toDouble / o < 0.06, s"$k orders: $ao vs $o")
      assert(math.abs(ap - p).toDouble / p < 0.06, s"$k parts: $ap vs $p")
    }
  }

  test("CMS heavy hitters: estimate never undercounts, overcount within the 2N/w bound, planted hitter surfaces") {
    import graft.functions.CountMin
    val rows = Analytics.qHeavyHittersCms(tables, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 10)
    val n = tables.events.count()
    rows.foreach { case (id, exact, est, over) =>
      assert(est >= exact, s"user $id: CMS must never undercount ($est < $exact)")
      assert(over == est - exact, s"user $id overcount arithmetic")
      // expected collisions N/w per counter; min-of-4 makes 2N/w a loose
      // deterministic ceiling on this fixed corpus
      assert(over <= 2 * n / CountMin.W + 1, s"user $id overcount $over vs N=$n w=${CountMin.W}")
    }
    assert(rows.map(_._2).sorted.reverse.toSeq == rows.map(_._2).toSeq, "descending by exact count")
    // planted heavy hitter: one key owning half a synthetic corpus
    // must surface at rank 1 with an estimate >= its true count
    val tmp = java.nio.file.Files.createTempDirectory("graft-cms").toString
    import spark.implicits._
    val hot = (1L to 500L).map(i => (i, 777L)) ++ (1L to 500L).map(i => (500L + i, i % 97))
    // ts as raw int64 nanos — Tables.events reads the column with an
    // explicit LongType schema (TIMESTAMP(NANOS) parquet convention)
    hot.map { case (eid, uid) => (eid, 1704067200000000000L + eid, uid, "click", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val planted = Analytics.qHeavyHittersCms(graft.sources.Tables(spark, tmp), k = 3).collect()
    assert(planted.head.getLong(0) == 777L && planted.head.getLong(1) == 500L,
      s"planted hitter must lead: ${planted.head}")
    assert(planted.head.getLong(2) >= 500L, "estimate >= true count")
  }

  test("approx percentiles: each estimate's rank within the GK n/accuracy bound of the target") {
    import org.apache.spark.sql.functions._
    val accuracy = 1000
    val got = graft.operators.Analytics.qApproxPercentiles(tables, accuracy).collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val vals = tables.orders.select(col("o_orderpriority"), col("o_totalprice").cast("double"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    for ((prio, est) <- got; (p, e) <- Seq(0.25, 0.5, 0.9).zip(est)) {
      val xs = vals(prio)
      val n = xs.length
      // e was rounded to 4dp for display; rank-check with matching slack
      val lo = xs.count(_ < e - 5e-5) // rank interval of the estimate
      val hi = xs.count(_ <= e + 5e-5)
      val target = p * n
      val slack = n.toDouble / accuracy + 1
      assert(lo <= target + slack && hi >= target - slack,
        s"$prio p$p: estimate $e has rank [$lo,$hi], target $target ± $slack (n=$n)")
    }
  }

  test("KMV: merge(halves) == reduce(whole); exact below k; estimate within 5/sqrt(k) of exact") {
    import graft.functions.KmvSketch
    val k = 64
    val s = KmvSketch(k)
    // deterministic pseudo-hash population with duplicates
    val vals = (0 until 5000).map(i => ((i * 2654435761L) % 3000) * 384307168202282325L & Long.MaxValue)
    def reduceAll(xs: Seq[Long]) = xs.foldLeft(s.zero)(s.reduce)
    val whole = reduceAll(vals)
    val (l, r) = vals.splitAt(vals.size / 3)
    val merged = s.merge(reduceAll(l), reduceAll(r))
    assert(java.util.Arrays.equals(whole, merged), "merge of halves must equal one-pass reduce")
    assert(whole.length == k && whole.sorted.sameElements(whole), "k smallest, sorted")
    assert(whole.toSet.size == k, "kept hashes are distinct")
    // exact below k: fewer than k distinct values keeps them all
    val small = reduceAll(vals.take(200).map(_ % 20))
    assert(small.length == vals.take(200).map(_ % 20).distinct.size)
    // estimator accuracy against the operator's exact column (the
    // oracle already pins bit-equality; this pins the STATISTICS)
    val rows = Analytics.qDistinctKmv(tables, k).collect()
    assert(rows.nonEmpty)
    rows.foreach { row =>
      val (est, exact) = (row.getDouble(3), row.getLong(4))
      val rel = math.abs(est - exact) / exact.toDouble
      assert(rel < 5.0 / math.sqrt(k),
        s"${row.getString(0)}: KMV est $est vs exact $exact (rel $rel)")
    }
  }

  /** A planted events corpus of (event_type, user_id) rows. */
  private def plantedEvents(prefix: String, rows: Seq[(String, Option[Long])]): graft.sources.Tables = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    // ts as raw int64 nanos — Tables.events reads the column with an
    // explicit LongType schema (TIMESTAMP(NANOS) parquet convention)
    rows.zipWithIndex.map { case ((ty, uid), i) =>
        (i.toLong, 1704067200000000000L + i, uid, ty, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    graft.sources.Tables(spark, tmp)
  }

  /** (event_type → (n_distinct, n_words, max_word, density_r)) with NULLs as None. */
  private def bitmapCards(t: graft.sources.Tables) =
    Analytics.qDistinctBitmap(t).collect().map { r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.get(4)).map(_.asInstanceOf[Double]))
    }.toMap

  test("bitmap distinct: planted word-boundary keys and real corpus == countDistinct") {
    // clustered keys with heavy duplication (many bits per word) plus
    // the word-boundary keys, split over two event types
    val vals = (0 until 8000).map(i => (i * 2654435761L) % 4096) ++
      Seq(0L, 63L, 64L, 127L, 128L, 4095L)
    val t = plantedEvents("graft-bitmap",
      vals.zipWithIndex.map { case (v, i) => (if (i % 3 == 0) "click" else "view", Some(v)) })
    val exact = t.events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")), countDistinct(shiftrightunsigned(col("user_id"), 6)),
        shiftrightunsigned(max(col("user_id")), 6))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), Some(r.getLong(3)))).toMap
    val got = bitmapCards(t).view.mapValues { case (d, w, m, _) => (d, w, m) }.toMap
    assert(got == exact, "bitmap popcount, touched words and top word must be exact")
    assert(exact.keySet == Set("click", "view"))
    // the operator's card equals countDistinct on the real corpus
    val real = Analytics.qDistinctBitmap(tables).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val realExact = tables.events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("d")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(real == realExact, "bitmap distinct must be exact per group")
  }

  test("bitmap distinct ignores NULL keys, as COUNT(DISTINCT) does") {
    val t = plantedEvents("graft-bitmap-null",
      Seq("a" -> Some(1L), "a" -> None, "a" -> Some(70L), "b" -> None))
    assert(bitmapCards(t) == Map(
      "a" -> (2L, 2L, Some(1L), Some(0.015625)),
      "b" -> (0L, 0L, None, None)))
  }

  test("bitmap distinct rejects a negative key") {
    val t = plantedEvents("graft-bitmap-neg", Seq("a" -> Some(3L), "a" -> Some(-5L)))
    val e = intercept[Exception](Analytics.qDistinctBitmap(t).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("requires nonnegative keys, got -5")), e)
  }

  test("portable HLL: 3-sigma error bound; duplicate-insensitive; linear counting engages on small groups") {
    // 1.04/sqrt(256) = 6.5% rsd; allow 3 sigma on the fixed corpus
    Analytics.qHllPortable(tables).collect().foreach { r =>
      val est = r.getDouble(4); val exact = r.getLong(5)
      assert(math.abs(est - exact) <= 0.195 * exact + 1.0,
        s"${r.getString(0)}: HLL est $est vs exact $exact breaks the 3-sigma bound")
    }
    // planted corpus: a 30-user group (linear-counting regime) and a
    // 2000-user group (raw regime); the same logical corpus written
    // with every event duplicated 3x must yield IDENTICAL cards (the
    // sketch is a max over registers — duplicate-insensitive), which
    // is also the per-register-MAX mergeability that lets 100 TB
    // shards combine without rescanning
    import spark.implicits._
    def write(dir: String, dup: Int): Unit =
      (1 to dup).flatMap(d =>
        (1L to 30L).map(u => (d * 100000L + u, "tiny", u)) ++
        (1L to 2000L).map(u => (d * 100000L + 3000L + u, "big", u)))
        .map { case (eid, ty, uid) =>
          (eid, 1704067200000000000L + eid, uid, ty, 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val t1 = java.nio.file.Files.createTempDirectory("graft-hll1").toString
    val t3 = java.nio.file.Files.createTempDirectory("graft-hll3").toString
    write(t1, 1); write(t3, 3)
    val once = Analytics.qHllPortable(graft.sources.Tables(spark, t1)).collect()
    val thrice = Analytics.qHllPortable(graft.sources.Tables(spark, t3)).collect()
    assert(once.toSeq == thrice.toSeq,
      "HLL card must be invariant under event duplication")
    val byType = once.map(r => r.getString(0) -> r).toMap
    val tiny = byType("tiny")
    assert(tiny.getDouble(3) != tiny.getDouble(4),
      "linear counting must engage (correct the raw estimate) on the 30-user group")
    assert(math.abs(tiny.getDouble(4) - 30.0) <= 9.0,
      s"linear counting estimate ${tiny.getDouble(4)} far from 30")
    val big = byType("big")
    assert(math.abs(big.getDouble(4) - 2000.0) <= 0.195 * 2000.0,
      s"raw-regime estimate ${big.getDouble(4)} far from 2000")
  }

  test("HLL register shards: merge(halves) == direct at register and estimate level") {
    import graft.sources.{Sinks, Tables}
    val ev = tables.events
    val tmp = java.nio.file.Files.createTempDirectory("graft-hllshard").toString
    Sinks.writeHllRegisters(ev.filter(col("event_id") % 2 === 0), s"$tmp/even")
    Sinks.writeHllRegisters(ev.filter(col("event_id") % 2 === 1), s"$tmp/odd")
    val merged = Sinks.mergeHllRegisters(spark, Seq(s"$tmp/even", s"$tmp/odd"))
    val direct = graft.operators.Analytics.hllRegisters(ev)
    val key = (r: org.apache.spark.sql.Row) => (r.getString(0), r.getLong(1), r.getInt(2))
    assert(merged.collect().map(key).sorted.toSeq == direct.collect().map(key).sorted.toSeq,
      "per-register MAX over event-id-parity shards must equal the one-pass registers")
    val estM = Sinks.hllEstimate(merged).collect()
      .map(r => (r.getString(0), r.getDouble(4))).sorted.toSeq
    val estD = Sinks.hllEstimate(direct).collect()
      .map(r => (r.getString(0), r.getDouble(4))).sorted.toSeq
    assert(estM == estD, "merged-shard estimate must be bit-identical to direct")
  }

  test("top-k rows aggregator: merge(splits) == reduce(whole); result == rank window row-for-row") {
    import graft.functions.TopKRows
    val k = 3
    val s = TopKRows(k)
    val pairs = (0 until 4000).map { i =>
      (((i * 2654435761L) % 97).toDouble, i.toLong)
    }
    def reduceAll(xs: Seq[(Double, Long)]) = xs.foldLeft(s.zero)(s.reduce)
    val whole = reduceAll(pairs)
    val (l, r) = pairs.splitAt(pairs.size / 3)
    val merged = s.merge(reduceAll(l), reduceAll(r))
    assert(java.util.Arrays.equals(whole._1, merged._1) &&
      java.util.Arrays.equals(whole._2, merged._2),
      "merge of splits must equal one-pass reduce")
    val expect = pairs.sortBy { case (v, id) => (-v, id) }.take(k)
    assert(s.finish(whole) == expect, "aggregator must keep exactly the window's top-k")
    // overlapping-run merge (the cross-run artifact contract): two runs
    // sharing rows must not double-count a pair and evict a genuine
    // top-k member — merge dedups on the exact (v, id) pair
    val (ol, or) = (pairs.take(2 * pairs.size / 3), pairs.drop(pairs.size / 3))
    val overlapped = s.merge(reduceAll(ol), reduceAll(or))
    assert(java.util.Arrays.equals(whole._1, overlapped._1) &&
      java.util.Arrays.equals(whole._2, overlapped._2),
      "merge of OVERLAPPING runs must equal the whole-corpus top-k")
    // partitioning-invariance under DUPLICATE (v, id) pairs (r11
    // ADVICE): reduce must dedup exactly like merge, so a group whose
    // duplicates never cross a merge boundary agrees with one whose
    // duplicates do
    val dups = pairs ++ pairs.take(5)
    val viaReduce = reduceAll(dups)
    val (dl, dr) = (pairs, pairs.take(5))
    val viaMerge = s.merge(reduceAll(dl), reduceAll(dr))
    assert(java.util.Arrays.equals(viaReduce._1, viaMerge._1) &&
      java.util.Arrays.equals(viaReduce._2, viaMerge._2),
      "duplicate pairs must yield the same buffer via reduce as via merge")
    assert(java.util.Arrays.equals(viaReduce._1, whole._1) &&
      java.util.Arrays.equals(viaReduce._2, whole._2),
      "duplicate pairs are kept once — buffer equals the distinct-input buffer")
    // on the corpus: aggregator == the B8 rank window at the same k
    val agg = Analytics.qTopkSketch(tables, k).collect().map(_.toSeq)
    val win = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      tables.orders
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(w).cast("long"))
        .filter(col("rnk") <= k)
        .orderBy(col("o_orderpriority"), col("rnk"))
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"), col("rnk"))
        .collect().map(_.toSeq)
    }
    assert(agg.toSeq == win.toSeq, "aggregator result must equal the rank window row-for-row")
  }

  test("bottom-k sample: merge(splits) == reduce(whole); exact below k; sample quantiles within the DKW rank bound") {
    import graft.functions.BottomKSample
    val k = 256
    val s = BottomKSample(k)
    // deterministic pseudo-hash population with value payloads and
    // duplicate (h, v) pairs (rejected) + hash ties with distinct v (kept)
    val pairs = (0 until 5000).map { i =>
      val h = ((i * 2654435761L) % 1500) * 384307168202282325L & Long.MaxValue
      (h, (i % 7).toDouble)
    }
    def reduceAll(xs: Seq[(Long, Double)]) = xs.foldLeft(s.zero)(s.reduce)
    val whole = reduceAll(pairs)
    val (l, r) = pairs.splitAt(pairs.size / 3)
    val merged = s.merge(reduceAll(l), reduceAll(r))
    assert(java.util.Arrays.equals(whole._1, merged._1) &&
      java.util.Arrays.equals(whole._2, merged._2),
      "merge of splits must equal one-pass reduce")
    assert(whole._1.length == k, "state capped at k pairs")
    val zipped = whole._1.zip(whole._2)
    assert(zipped.sorted.sameElements(zipped), "pairs sorted by (h, v)")
    assert(zipped.distinct.length == k, "kept pairs are distinct")
    // exact below k: fewer than k distinct pairs keeps them all
    val small = reduceAll(pairs.take(50))
    assert(small._1.length == pairs.take(50).distinct.size)
    // rank accuracy on the corpus: each reported sample quantile's
    // TRUE rank must sit within the DKW eps = sqrt(ln(2/0.01)/(2k))
    // (~0.1 at k=256) of its target — the statistics the oracle's
    // bit-equality can't see
    val eps = math.sqrt(math.log(2.0 / 0.01) / (2.0 * k))
    val rows = Analytics.qQuantileSample(tables, k).collect()
    assert(rows.nonEmpty)
    val prices = tables.lineitem
      .groupBy(col("l_returnflag"))
      .agg(collect_list(col("l_extendedprice")).as("xs")).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).sorted).toMap
    rows.foreach { row =>
      val xs = prices(row.getString(0))
      Seq(0.25 -> 3, 0.50 -> 4, 0.75 -> 5, 0.90 -> 6).foreach { case (p, idx) =>
        val v = row.getDouble(idx)
        val rank = xs.count(_ <= v).toDouble / xs.length
        assert(math.abs(rank - p) <= eps,
          s"${row.getString(0)} p=$p: sample value $v has true rank $rank (eps $eps)")
      }
    }
  }
}
