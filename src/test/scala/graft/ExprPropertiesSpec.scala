package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{GramHashes, IntersectCount, Md5Prefix60, SimHash60}

/** Property-based laws for the native expressions: each fused fast
  * path must equal its naive reference formulation on arbitrary input
  * (deterministic scalacheck sampling, seed 42).
  */
class ExprPropertiesSpec extends SparkSpec {

  private def forAll[A](gen: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    var seed = Seed(42L)
    (0 until n).foreach { _ =>
      gen.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
    }
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(p => f(p._1, p._2))

  private val word = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
  private val text = Gen.listOf(word).map(_.mkString(" "))

  private def refMd5_60(s: String): Long =
    java.lang.Long.parseUnsignedLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(15), 16)

  test("Md5Prefix60 == parse(first 15 hex chars of md5)") {
    forAll(text) { s =>
      assert(Md5Prefix60.hash(UTF8String.fromString(s)) == refMd5_60(s))
    }
  }

  test("IntersectCount == |distinct common values|, order- and duplicate-insensitive") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val arr = Gen.listOf(Gen.chooseNum(0L, 30L)) // small domain forces collisions+dups
    forAll(arr, arr) { (a, b) =>
      val expected = a.toSet.intersect(b.toSet).size
      val got = IntersectCount.compute(
        new GenericArrayData(a.toArray), new GenericArrayData(b.toArray))
      assert(got == expected, s"a=$a b=$b")
    }
  }

  test("IntersectCount fast path: sentinels, negatives, nulls, table growth, scratch reuse") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // values adjacent to Long.MinValue collide with the open-addressing
    // sentinels and must route to the boxed fallback; extremes and
    // negatives exercise the hash finalizer; the small domain keeps
    // duplicate/collision pressure high
    val nasty = Gen.oneOf(Long.MinValue, Long.MinValue + 1, Long.MinValue + 2,
      Long.MaxValue, -1L, 0L, 1L, 7L, 13L)
    val arrNasty = Gen.listOf(nasty)
    forAll(arrNasty, arrNasty) { (a, b) =>
      val expected = a.toSet.intersect(b.toSet).size
      val got = IntersectCount.compute(
        new GenericArrayData(a.toArray), new GenericArrayData(b.toArray))
      assert(got == expected, s"a=$a b=$b")
    }
    // null elements: array_intersect semantics — null present in BOTH
    // sides is one common value
    def withNulls(xs: Seq[java.lang.Long]) = new GenericArrayData(xs.toArray[Any])
    assert(IntersectCount.compute(
      withNulls(Seq(1L, null, 2L)), withNulls(Seq(null, 2L, 9L))) == 2)
    assert(IntersectCount.compute(
      withNulls(Seq(1L, null)), withNulls(Seq(2L, 3L))) == 0)
    // alternate big (> initial 1024-slot scratch, forces growth) and
    // small calls on ONE thread: the grow-only reused buffer must not
    // leak stale entries from a larger earlier call into a smaller one
    val big = (0L until 5000L).toArray
    val bigGot = IntersectCount.compute(
      new GenericArrayData(big), new GenericArrayData(big.map(x => x * 2)))
    assert(bigGot == 2500, s"big: $bigGot") // evens 0..4998 shared
    val smallGot = IntersectCount.compute(
      new GenericArrayData(Array(4999L, 10000L)), new GenericArrayData(Array(4999L)))
    assert(smallGot == 1, s"stale scratch leaked: $smallGot")
    val missGot = IntersectCount.compute(
      new GenericArrayData(Array(123L)), new GenericArrayData(Array(456L)))
    assert(missGot == 0, s"stale scratch leaked: $missGot")
  }

  test("GramHashes == naive lowercase-split-shingle-hash composition") {
    forAll(text, Gen.oneOf(3, 5)) { (s, n) =>
      val toks = s.toLowerCase.split(" ", -1)
      val expected =
        (if (toks.length >= n) toks.sliding(n).map(_.mkString(" ")).toSeq
         else Seq(s.toLowerCase)).map(refMd5_60).distinct
      val got = GramHashes.compute(UTF8String.fromString(s), n, distinct = true).toLongArray.toSeq
      assert(got == expected, s"text=<$s> n=$n")
    }
  }

  test("WordGrams == naive lowercase-split-sliding composition (both distinct flags)") {
    forAll(text, Gen.oneOf(2, 3)) { (s, n) =>
      val toks = s.toLowerCase.split(" ", -1)
      val raw =
        if (toks.length < n) Seq.empty
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      Seq(false, true).foreach { distinct =>
        val expected = if (distinct) raw.distinct else raw
        val got = graft.functions.WordGrams
          .compute(UTF8String.fromString(s), n, distinct)
          .array.toSeq.map(_.toString)
        assert(got == expected, s"text=<$s> n=$n distinct=$distinct")
        // hashing the strings lands exactly on GramHashes when the
        // short-doc fallback doesn't apply
        if (distinct && toks.length >= n) {
          val viaStrings = got.map(refMd5_60)
          val fused = GramHashes.compute(UTF8String.fromString(s), n, distinct = true)
            .toLongArray.toSeq
          assert(viaStrings == fused, s"string-path vs fused-path: <$s> n=$n")
        }
      }
    }
  }

  test("SimHash60 == per-bit sign-sum reference") {
    forAll(Gen.listOf(Gen.choose(0L, (1L << 60) - 1))) { hs =>
      val expected = (0 until 60).map { j =>
        val sum = hs.map(h => if (((h >> j) & 1L) == 1L) 1 else -1).sum
        if (sum > 0) 1L << j else 0L
      }.sum
      val got = SimHash60.hash(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(hs.toArray))
      assert(got == expected)
    }
  }

  test("RollingHashMin O(n) recurrence == naive per-window fold") {
    def fold(bs: Seq[Byte]): Long =
      bs.foldLeft(0L)((a, c) => (a * 31 + (c & 0xff)) % 1073741789L)
    forAll(text) { s =>
      val bytes = s.getBytes("UTF-8").toSeq
      val naive =
        if (bytes.isEmpty) 0L
        else if (bytes.length < 16) fold(bytes)
        else bytes.sliding(16).map(fold).min
      val got = graft.functions.RollingHashMin.hash(UTF8String.fromString(s), 16)
      assert(got == naive, s"text=<$s>")
    }
  }

  test("DotProduct nullSafeEval == sequential fold") {
    forAll(Gen.listOfN(8, Gen.choose(-10.0, 10.0)), Gen.listOfN(8, Gen.choose(-10.0, 10.0))) {
      (a, b) =>
        val expected = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
        val got = graft.functions.DotProduct(null, null).nullSafeEval(
          new org.apache.spark.sql.catalyst.util.GenericArrayData(a.toArray),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(b.toArray))
        assert(got == expected)
    }
  }

  test("CountMinAgg: for ANY key multiset, estimate >= exact; per-row mass == total; merge order-free") {
    import graft.functions.{CountMin, CountMinAgg, Hashing}
    val (d, w) = (CountMin.D, CountMin.W)
    val agg = new CountMinAgg(d, w)
    def pos(key: Long): Array[Long] = {
      val base = math.floorMod(refMd5_60(key.toString), Hashing.M30)
      (0 until d).map { r =>
        val (a, b) = Hashing.Perms(r)
        math.floorMod(math.floorMod(a * base + b, Hashing.P), w.toLong)
      }.toArray
    }
    forAll(Gen.listOf(Gen.choose(0L, 50L)), n = 100) { keys =>
      val sketch = keys.map(pos).foldLeft(agg.zero)(agg.reduce)
      // per-row mass conservation
      (0 until d).foreach { r =>
        assert(sketch.slice(r * w, (r + 1) * w).sum == keys.size, s"row $r mass")
      }
      // never undercount any key (present or absent)
      val exact = keys.groupBy(identity).view.mapValues(_.size.toLong)
      (0L to 50L).foreach { key =>
        val est = pos(key).zipWithIndex.map { case (p, r) => sketch(r * w + p.toInt) }.min
        assert(est >= exact.getOrElse(key, 0L), s"key $key: $est < exact")
      }
      // merge of split halves == single-pass sketch (order-free)
      val (l, rr) = keys.splitAt(keys.size / 2)
      val merged = agg.merge(
        rr.map(pos).foldLeft(agg.zero)(agg.reduce),
        l.map(pos).foldLeft(agg.zero)(agg.reduce))
      assert(merged.toSeq == sketch.toSeq, "merge must be order-independent")
    }
  }

  test("KmvSketch: reduce-fold == sorted-distinct-take-k reference on arbitrary input") {
    val sk = graft.functions.KmvSketch(16)
    val gen = Gen.listOfN(300, Gen.chooseNum(0L, 200L)) // dense → many duplicates
    forAll(gen, n = 100) { xs =>
      val folded = xs.foldLeft(sk.zero)(sk.reduce).toSeq
      val ref = xs.distinct.sorted.take(16)
      assert(folded == ref, s"fold $folded != reference $ref")
      // merge of an arbitrary split equals the whole
      val (a, b) = xs.splitAt(xs.size / 2)
      val merged = sk.merge(a.foldLeft(sk.zero)(sk.reduce),
        b.foldLeft(sk.zero)(sk.reduce)).toSeq
      assert(merged == ref, s"merge $merged != reference $ref")
    }
  }

  test("md5_60Jvm == the md5_60 Column on arbitrary strings (typed-state parity)") {
    import org.apache.spark.sql.functions.{col, lit, concat}
    import spark.implicits._
    val samples = Seq("", "a", "kmv:0", "kmv:123456789", "cms:42",
      "unicode ✓ ünïcødé", "long " * 50)
    val viaColumn = samples.toDF("s")
      .select(graft.functions.Hashing.md5_60(col("s")))
      .collect().map(_.getLong(0))
    samples.zip(viaColumn).foreach { case (s, expect) =>
      assert(graft.functions.Hashing.md5_60Jvm(s) == expect, s"mismatch on '$s'")
    }
  }
}
