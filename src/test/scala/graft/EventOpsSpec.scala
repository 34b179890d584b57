package graft

import org.apache.spark.sql.functions._

import graft.operators.EventOps

/** Semantic invariants of the TTL-cache family (the DuckDB oracle
  * checks exact equality at sf0.01; these check the *laws* hold).
  */
class EventOpsSpec extends SparkSpec {

  test("ttl cache: first event per key always emitted; no same-key emissions within TTL") {
    val ttlH = 24L
    val emitted = EventOps.evTtlCache(tables, ttlH).collect()
    assert(emitted.nonEmpty)
    val byKey = emitted.groupBy(_.getString(0))
    val firstPerKey = EventOps.evDedupExact(tables).collect()
      .map(r => r.getString(0) -> r.getTimestamp(1)).toMap
    byKey.foreach { case (key, rows) =>
      val times = rows.map(_.getTimestamp(1)).sortBy(_.getTime)
      assert(times.head == firstPerKey(key), s"first event for $key must be emitted")
      times.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getTime - a.getTime >= ttlH * 3600 * 1000,
            s"$key emitted twice within TTL: $a, $b")
        case _ =>
      }
    }
  }

  test("ttl cache emissions are a subset of throttle-lag emissions' keys universe") {
    val ttl = EventOps.evTtlCache(tables).select("key").distinct().count()
    val all = EventOps.evDedupExact(tables).count()
    assert(ttl == all, "every key must emit at least once")
  }

  test("cache stats: hits + misses == total") {
    EventOps.evCacheStats(tables).collect().foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3))
    }
  }

  test("sessionize: session bounds ordered and counts positive") {
    val s = EventOps.evSessionize(tables).collect()
    assert(s.nonEmpty)
    s.foreach { r =>
      assert(!r.getTimestamp(2).after(r.getTimestamp(3)))
      assert(r.getLong(4) > 0)
    }
  }

  test("anomaly MAD: a planted rate spike is flagged; the flat baseline hours are not") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-mad").toString
    val hourNs = 3600L * 1000 * 1000 * 1000
    val base = 1704067200000000000L // raw int64 nanos (Tables.events schema)
    // 24 flat hours of 10 events/hour, then ONE hour at 100
    val flat = for (h <- 0 until 24; i <- 0 until 10)
      yield (h * 10L + i, base + h * hourNs + i, 1L, "click", 1.0, "{}")
    val spike = (0 until 100)
      .map(i => (1000L + i, base + 24 * hourNs + i, 1L, "click", 1.0, "{}"))
    (flat ++ spike)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = EventOps.evAnomalyMad(graft.sources.Tables(spark, tmp)).collect()
      .map(r => (r.getTimestamp(1), r.getLong(2), r.getInt(5)))
    assert(out.length == 25)
    val (anomalies, normal) = out.partition(_._3 == 1)
    assert(anomalies.map(_._2).toSeq == Seq(100L), s"only the spike hour flags: $anomalies")
    assert(normal.forall(_._2 == 10L), "flat hours stay unflagged")
  }

  test("ewma: flat series baseline equals the rate; planted spike flags; first hour never does") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ewma").toString
    val hourNs = 3600L * 1000 * 1000 * 1000
    val base = 1704067200000000000L
    val flat = for (h <- 0 until 24; i <- 0 until 10)
      yield (h * 10L + i, base + h * hourNs + i, 1L, "click", 1.0, "{}")
    val spike = (0 until 100)
      .map(i => (1000L + i, base + 24 * hourNs + i, 1L, "click", 1.0, "{}"))
    (flat ++ spike)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = EventOps.evEwma(graft.sources.Tables(spark, tmp)).collect()
      .map(r => (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]), r.getInt(4)))
    assert(out.length == 25)
    // hour 0: no history -> NULL baseline, unflagged
    assert(out.head._2.isEmpty && out.head._3 == 0)
    // a flat series' weighted mean of 10s is exactly 10 (dyadic-exact)
    out.tail.init.foreach { case (n, e, f) =>
      assert(n == 10L && e.contains(10.0) && f == 0, s"flat hour: ($n, $e, $f)")
    }
    // spike hour: baseline still 10, 100 > 3*10 flags
    val last = out.last
    assert(last._1 == 100L && last._2.contains(10.0) && last._3 == 1, last.toString)
  }

  test("state transitions: counts conserve (n_events - n_users), P(to|from) rows to ~1, planted chain exact") {
    import spark.implicits._
    val out = EventOps.evStateTransitions(tables).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val nEvents = tables.events.count()
    val nUsers = tables.events.select("user_id").distinct().count()
    assert(out.map(_._3).sum == nEvents - nUsers,
      "every user with k events contributes exactly k-1 transitions")
    out.groupBy(_._1).foreach { case (from, rs) =>
      val pSum = rs.map(_._5).sum
      assert(math.abs(pSum - 1.0) < 1e-3, s"$from: row probabilities sum to $pSum")
    }
    // planted chain: one user, click -> error -> click (ts-ordered)
    val tmp = java.nio.file.Files.createTempDirectory("graft-st").toString
    val base = 1704067200000000000L
    Seq((1L, base, 7L, "click", 1.0, "{}"),
        (2L, base + 60L * 1000 * 1000 * 1000, 7L, "error", 1.0, "{}"),
        (3L, base + 120L * 1000 * 1000 * 1000, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val planted = EventOps.evStateTransitions(graft.sources.Tables(spark, tmp)).orderBy("from_type", "to_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(planted.toSeq == Seq(
      ("click", "error", 1L, 60L * 1000 * 1000, 1.0),
      ("error", "click", 1L, 60L * 1000 * 1000, 1.0)), planted.toSeq.toString)
  }

  test("cusum: planted persistent level shift fires after the shift, steady series never fires") {
    import spark.implicits._
    // steady type: alternating 8/12 per hour (μ=10, σ=2) for 120 h.
    // shifted type: same baseline for 72 h, then 11/15 (μ=13 — a
    // +1.5σ persistent shift that never crosses a pointwise 3σ rule:
    // max hourly value 15 < μ+3σ = 16) for 48 h. Only the cumulative
    // detector can see it.
    val base = 1704067200000000000L // 2024-01-01T00:00 in ns
    def hourEvents(ty: String, hour: Int, n: Int, idBase: Long) =
      (0 until n).map { i =>
        (idBase + hour.toLong * 100 + i, base + hour.toLong * 3600L * 1000 * 1000 * 1000,
          7L, ty, 1.0, "{}")
      }
    def alt(h: Int, lo: Int, hi: Int) = if (h % 2 == 0) lo else hi
    val steady = (0 until 120).flatMap(h => hourEvents("steady", h, alt(h, 8, 12), 1000000L))
    val shifted = (0 until 72).flatMap(h => hourEvents("shifted", h, alt(h, 8, 12), 2000000L)) ++
      (72 until 120).flatMap(h => hourEvents("shifted", h, alt(h, 11, 15), 2000000L))
    val tmp = java.nio.file.Files.createTempDirectory("graft-cusum").toString
    (steady ++ shifted).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = EventOps.evCusumChangepoint(graft.sources.Tables(spark, tmp)).orderBy("event_type", "hour")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getBoolean(4)))
    assert(!out.filter(_._1 == "steady").exists(_._3), "steady series must never fire")
    val shiftedFlags = out.filter(_._1 == "shifted")
    val shiftInstant = base / 1000 + 72L * 3600L * 1000 * 1000
    assert(!shiftedFlags.filter(_._2.getTime * 1000 < shiftInstant).exists(_._3),
      "no flags before the shift")
    assert(shiftedFlags.filter(_._2.getTime * 1000 >= shiftInstant).exists(_._3),
      "the persistent shift must fire after onset")
  }

  test("slo burn: steady 5% never alerts; a 1-frame burst is suppressed; a sustained burst fires") {
    import spark.implicits._
    // 48h of 15-min frames, 20 events each. Baseline 1 error/frame
    // (5% -> burn 0.5 at budget 0.1). Hour 24: single-frame 50% burst
    // (1h burn crosses 2 but the 6h window stays under 1.5 -> the
    // two-window rule SUPPRESSES it). Hours 36-39: sustained 50%
    // (both windows cross -> alert).
    val base = 1704067200000000000L
    def frame(fi: Int, nErr: Int) = (0 until 20).map { i =>
      (fi.toLong * 1000 + i, base + fi.toLong * 900L * 1000 * 1000 * 1000,
        7L, if (i < nErr) "error" else "view", 1.0, "{}")
    }
    val rows = (0 until 192).flatMap { fi =>
      val h = fi / 4
      val errs =
        if (fi == 96) 10                    // single-frame burst (hour 24)
        else if (h >= 36 && h < 40) 10      // sustained burst
        else 1
      frame(fi, errs)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-slo").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = EventOps.evSloBurn(graft.sources.Tables(spark, tmp))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getBoolean(7)))
    def hourOf(t: Long): Long = (t - base / 1000000L) / 3600000L
    val alerts = out.filter(_._2).map(x => hourOf(x._1)).distinct.sorted
    assert(alerts.nonEmpty, "sustained burst must alert")
    assert(alerts.forall(h => h >= 36 && h <= 41),
      s"alerts only during/just after the sustained burst, got hours $alerts")
    assert(!alerts.exists(h => h >= 24 && h < 26),
      "the single-frame burst must be suppressed by the slow window")
  }

  test("cooccurrence: counts equal the driver-recomputed cell intersections; symmetric-complete") {
    import org.apache.spark.sql.functions._
    // recompute from first principles: distinct (user, hour, type)
    // cells; n_cooccur(a,b) = |cells(a) ∩ cells(b)| for a < b
    val cells = tables.events
      .select(col("user_id"), date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getString(2)))
    val byType = cells.groupBy(_._3).map { case (ty, xs) =>
      ty -> xs.map(x => (x._1, x._2)).toSet
    }
    val types = byType.keys.toSeq.sorted
    val expected = (for {
      a <- types; b <- types if a < b
      n = byType(a).intersect(byType(b)).size if n > 0
    } yield (a, b) -> n.toLong).toMap
    val got = EventOps.evCooccurrence(tables).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected, s"got=${got.size} expected=${expected.size} pairs")
  }

  test("rfm: one row per user; buckets monotone in their metric; quartiles roughly balanced") {
    val rows = EventOps.evRfm(tables).collect()
    val nUsers = tables.events.select("user_id").distinct().count()
    assert(rows.length == nUsers, "exactly one row per user")
    // bucket must be monotone non-decreasing in its metric: sort by
    // metric and check the bucket sequence never decreases
    def monotone(metric: Array[(Double, Long)]): Unit = {
      metric.sortBy(_._1).map(_._2).sliding(2).foreach {
        case Array(a, b) => assert(a <= b, s"bucket fell $a -> $b as metric grew")
        case _ =>
      }
    }
    monotone(rows.map(r => (r.getLong(1).toDouble, r.getLong(4)))) // recency -> r_b
    monotone(rows.map(r => (r.getLong(2).toDouble, r.getLong(5)))) // freq -> f_b
    monotone(rows.map(r => (r.getDouble(3), r.getLong(6))))        // monetary -> m_b
    // quartile cutoffs put at most ~75% of users below bucket 4 and at
    // least one user in bucket 1 for each dimension (ties can skew the
    // split, but a degenerate all-in-one-bucket split means the cutoff
    // join broke)
    Seq(4, 5, 6).foreach { i =>
      val hist = rows.groupBy(_.getLong(i)).view.mapValues(_.length).toMap
      assert(hist.keySet.subsetOf(Set(1L, 2L, 3L, 4L)), s"bucket outside 1..4: $hist")
      assert(hist.size >= 2, s"degenerate bucketing in col $i: $hist")
    }
    // segment string is the concatenation of the three buckets
    rows.foreach { r =>
      assert(r.getString(7) == s"R${r.getLong(4)}F${r.getLong(5)}M${r.getLong(6)}")
    }
  }

  test("stationary dist: run-deterministic, mass bounded by 1, near-fixed-point of the transition matrix") {
    import graft.operators.EventOps
    val a = EventOps.evStationaryDist(tables).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = EventOps.evStationaryDist(tables).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b, "integer-lattice recursion must be run-deterministic")
    assert(a.nonEmpty && a.values.forall(_ >= 0))
    // truncating integer division only sheds mass: total <= 1e12
    assert(a.values.sum <= 1000000000000L, s"mass=${a.values.sum}")
    // fixed point: one more exact step moves nothing by > k*k lattice
    // truncation units + chain non-convergence slack (1e-4 of mass)
    val trans = EventOps.evStateTransitions(tables).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nFrom = trans.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val stepped = trans.groupBy(_._2).view.mapValues(_.map { case (f, _, n) =>
      a.getOrElse(f, 0L) * n / nFrom(f)
    }.sum).toMap
    a.foreach { case (ty, p) =>
      val next = stepped.getOrElse(ty, 0L)
      assert(math.abs(next - p) <= 100000000L,
        s"$ty moved $p -> $next after one extra step; not near the fixed point")
    }
  }

  test("cusum drop: planted sustained traffic loss fires; steady series never fires") {
    import spark.implicits._
    // steady: alternating 8/12 (mu=10, sigma=2) for 120 h. dropped:
    // same baseline 72 h, then 6/8 (mu=7 — a -1.5 sigma persistent
    // deficit whose every value stays above mu-3sigma=4, invisible to
    // a pointwise drop rule) for 48 h.
    val base = 1704067200000000000L
    def hourEvents(ty: String, hour: Int, n: Int, idBase: Long) =
      (0 until n).map { i =>
        (idBase + hour.toLong * 100 + i, base + hour.toLong * 3600L * 1000 * 1000 * 1000,
          7L, ty, 1.0, "{}")
      }
    def alt(h: Int, lo: Int, hi: Int) = if (h % 2 == 0) lo else hi
    val steady = (0 until 120).flatMap(h => hourEvents("steady", h, alt(h, 8, 12), 1000000L))
    val dropped = (0 until 72).flatMap(h => hourEvents("dropped", h, alt(h, 8, 12), 2000000L)) ++
      (72 until 120).flatMap(h => hourEvents("dropped", h, alt(h, 6, 8), 2000000L))
    val tmp = java.nio.file.Files.createTempDirectory("graft-cusumdrop").toString
    (steady ++ dropped).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = EventOps.evCusumDrop(graft.sources.Tables(spark, tmp)).orderBy("event_type", "hour")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getBoolean(4)))
    assert(!out.filter(_._1 == "steady").exists(_._3), "steady series must never fire")
    val flags = out.filter(_._1 == "dropped")
    val onset = base / 1000 + 72L * 3600L * 1000 * 1000
    assert(!flags.filter(_._2.getTime * 1000 < onset).exists(_._3), "no flags before the loss")
    assert(flags.filter(_._2.getTime * 1000 >= onset).exists(_._3),
      "the sustained loss must fire after onset")
  }

  test("token bucket: conservation, bounds, planted burst drops exactly cap") {
    import spark.implicits._
    val out = EventOps.evTokenBucket(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    out.foreach { case (u, n, a, d, tok) =>
      assert(a + d == n, s"user $u: allowed+dropped must equal events")
      assert(a >= 1, s"user $u: first event always sees a full bucket")
      assert(tok >= 0 && tok <= 2000000L, s"user $u: tokens outside [0, cap]")
    }
    // planted: one user fires 7 events one second apart — each 1 s gap
    // refills 1e6//43200 = 23 µtokens (6·23 = 138 total, far below the
    // 1e6 a consume needs), so exactly cap=2 are allowed and the
    // leftover micro-refill is the final balance.
    val base = 1704067200000000000L
    val burst = (0 until 7).map(i =>
      (9000L + i, base + i * 1000000000L, 42L, "click", 1.0, "{}"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-tb").toString
    burst.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val planted = EventOps.evTokenBucket(graft.sources.Tables(spark, tmp)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(planted.toSeq == Seq((42L, 7L, 2L, 5L, 138L)),
      s"burst must admit exactly the bucket capacity: ${planted.toSeq}")
  }

  test("ttl tuning ladder: 24h rung == A3, monotone in TTL, planted ladder exact") {
    import spark.implicits._
    val out = EventOps.evTtlTuning(tables).orderBy("ttl_hours").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSeq == Seq(1L, 6L, 24L, 96L))
    assert(out.map(_._3).distinct.length == 1, "every rung shares one total")
    out.sliding(2).foreach { w =>
      assert(w(1)._2 <= w(0)._2,
        s"emitted must be non-increasing in TTL: ${w(0)} -> ${w(1)}")
    }
    // the 24 h rung IS A3: the ladder at the cache's default TTL must
    // count exactly the rows evTtlCache emits.
    val a3 = EventOps.evTtlCache(tables).count()
    assert(out.find(_._1 == 24L).get._2 == a3,
      "the 24h rung must reproduce the A3 cache's emitted count")
    // planted: one key, 10 events exactly 1 h apart. TTL=1h re-admits
    // every event (ts >= lastEmit + ttl holds at the boundary), 6h
    // admits h0+h6, 24h/96h collapse to the first.
    val base = 1704067200000000000L
    val evs = (0 until 10).map(i =>
      (100L + i, base + i.toLong * 3600L * 1000000000L, 7L, "click", 1.0, "{}"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-ttl").toString
    evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val planted = EventOps.evTtlTuning(graft.sources.Tables(spark, tmp)).orderBy("ttl_hours")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(planted.toSeq == Seq((1L, 10L), (6L, 2L), (24L, 1L), (96L, 1L)),
      s"planted ladder mismatch: ${planted.toSeq}")
  }

  test("abtest: planted treatment effect detected with the right sign; null corpus stays insignificant") {
    import spark.implicits._
    // variant assignment is the operator's own salted hash — recompute
    // it JVM-side to plant per-arm counts (arm B gets +5 events/user)
    def variant(u: Long): Long =
      graft.functions.Hashing.md5_60Jvm(s"ab:$u") % 2
    val base = 1704067200000000000L
    def corpus(effect: Int) = (1L to 120L).flatMap { u =>
      val n = 10 + (u % 3).toInt + (if (variant(u) == 1) effect else 0)
      (0 until n).map(i =>
        (u * 1000L + i, base + i.toLong * 60000000000L, u, "click", 1.0, "{}"))
    }
    def card(effect: Int) = {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-ab$effect").toString
      corpus(effect).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      EventOps.evAbtest(graft.sources.Tables(spark, tmp)).orderBy("event_type").collect()(0)
    }
    val planted = card(5)
    assert(planted.getBoolean(7), "a +5 events/user arm-B lift must be significant")
    assert(planted.getDouble(5) < -4.0 && planted.getDouble(6) < -1.96,
      s"diff/t must point at arm B: diff=${planted.getDouble(5)} t=${planted.getDouble(6)}")
    val nullCase = card(0)
    assert(!nullCase.getBoolean(7) && math.abs(nullCase.getDouble(6)) < 1.96,
      s"identical arms must stay insignificant: t=${nullCase.getDouble(6)}")
    // both arms populated by the hash split
    assert(planted.getLong(1) > 30 && planted.getLong(2) > 30, "hash split degenerate")
  }

  test("conversion window sweep: monotone in window; planted 2h converter lands in the 6h and 24h rungs only") {
    import spark.implicits._
    val rows = EventOps.evConversionWindowSweep(tables).orderBy("window_hours").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq(1L, 6L, 24L))
    assert(rows.map(_._2).distinct.length == 1, "every rung shares one click total")
    rows.sliding(2).foreach { w =>
      assert(w(1)._3 >= w(0)._3, s"conversions must be monotone in window: ${w(0)} -> ${w(1)}")
    }
    val base = 1704067200000000000L
    val evs = Seq(
      (1L, base, 7L, "click", 1.0, "{}"),
      (2L, base + 2L * 3600000000000L, 7L, "purchase", 1.0, "{}"),
      (3L, base, 8L, "click", 1.0, "{}")) // never converts
    val tmp = java.nio.file.Files.createTempDirectory("graft-convw").toString
    evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val planted = EventOps.evConversionWindowSweep(
      graft.sources.Tables(spark, tmp)).orderBy("window_hours").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(planted.toSeq == Seq((1L, 2L, 0L), (6L, 2L, 1L), (24L, 2L, 1L)),
      s"2h gap converts at 6h/24h only: ${planted.toSeq}")
  }

  test("bot suspects: planted metronome ranks first with cv 0 and flag; human-noise users unflagged") {
    import spark.implicits._
    val base = 1704067200000000000L
    // bot: exactly 60s gaps; humans: gaps jittered by a u-dependent
    // pattern (cv well above the 0.3 flag)
    val evs = (0 until 60).map(i =>
      (9000L + i, base + i.toLong * 60000000000L, 777L, "click", 1.0, "{}")) ++
      (1L to 30L).flatMap { u =>
        var ts = base
        (0 until 40).map { i =>
          ts += (30L + ((u * 7 + i * 13) % 120)) * 1000000000L
          (u * 1000L + i, ts, u, "click", 1.0, "{}")
        }
      }
    val tmp = java.nio.file.Files.createTempDirectory("graft-bot").toString
    evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val rows = EventOps.evBotSuspects(graft.sources.Tables(spark, tmp)).collect()
    assert(rows.head.getLong(0) == 777L && rows.head.getDouble(3) == 0.0 &&
      rows.head.getBoolean(4),
      s"the metronome must rank first with cv 0, got ${rows.head}")
    rows.tail.foreach { r =>
      assert(!r.getBoolean(4),
        s"jittered user ${r.getLong(0)} (cv ${r.getDouble(3)}) must not be flagged")
    }
  }

  test("cuped: planted persistent users yield high variance reduction; adjusted variance ties to rho2") {
    import spark.implicits._
    // user u's activity level 5 + u%10 persists across halves (+ noise
    // u%3 in the post half) — pre strongly predicts post, the CUPED
    // sweet spot; the operator splits at the time midpoint, so plant
    // pre events in hour 0 and post events in hour 20 of a 21h span
    val base = 1704067200000000000L
    val evs = (1L to 300L).flatMap { u =>
      val lvl = 5 + (u % 10).toInt
      val pre = (0 until lvl).map(i =>
        (u * 10000L + i, base + i * 60000000000L, u, "click", 1.0, "{}"))
      val post = (0 until (lvl + (u % 3).toInt)).map(i =>
        (u * 10000L + 5000L + i, base + 20L * 3600000000000L + i * 60000000000L, u, "click", 1.0, "{}"))
      pre ++ post
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-cuped").toString
    evs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val r = EventOps.evCuped(graft.sources.Tables(spark, tmp)).orderBy("event_type").collect()(0)
    val (theta, rho2, vy, vadj) =
      (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
    assert(rho2 > 0.5, s"persistent users must show high variance reduction, got $rho2")
    assert(theta > 0.5, s"theta must point the right way, got $theta")
    assert(math.abs(vadj - vy * (1.0 - rho2)) < 1e-4,
      s"adjusted variance must equal var_y*(1-rho2): $vadj vs ${vy * (1.0 - rho2)}")
    // and on the real (temporally-uncorrelated) corpus the reduction
    // is honest noise — CUPED reports ~0, never a fabricated win
    // (bound loose: at sf0.001 the per-type user sample is small, so
    // chance correlation reaches ~0.12 — still far below the planted
    // persistent-user regime)
    EventOps.evCuped(tables).orderBy("event_type").collect().foreach { row =>
      assert(row.getDouble(3) < 0.3,
        s"${row.getString(0)}: synthetic corpus halves are independent; rho2 ${row.getDouble(3)}")
    }
  }

  test("mde power: arithmetic ties MDE to SE; quadrupled traffic halves the MDE") {
    import spark.implicits._
    EventOps.evMdePower(tables).orderBy("event_type").collect().foreach { r =>
      val se = r.getDouble(4); val mde = r.getDouble(5)
      assert(math.abs(mde - 2.8016 * se) < 5e-6,
        s"${r.getString(0)}: mde $mde != 2.8016*se ${2.8016 * se}")
      assert(r.getDouble(6) > 0 && r.getDouble(6) < 1,
        s"relative MDE ${r.getDouble(6)} implausible on this corpus")
    }
    val base = 1704067200000000000L
    def card(nUsers: Int) = {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-mde$nUsers").toString
      (1L to nUsers.toLong).flatMap { u =>
        (0 until (10 + (u % 5).toInt)).map(i =>
          (u * 1000L + i, base + i.toLong * 60000000000L, u, "click", 1.0, "{}"))
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$tmp/events.parquet")
      EventOps.evMdePower(graft.sources.Tables(spark, tmp)).orderBy("event_type")
        .collect()(0).getDouble(5)
    }
    val ratio = card(100) / card(400)
    assert(ratio > 1.7 && ratio < 2.3,
      s"4x the users must ~halve the MDE (sqrt-n law), got ratio $ratio")
  }
}
