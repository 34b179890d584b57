package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Deterministic bottom-k ROW sample as a typed Aggregator — the
  * portable QUANTILE sketch completing the suite next to KMV
  * (distinct, B47), CMS (heavy hitters, B48) and portable HLL
  * (cardinality, B59): Spark's `approx_percentile` (B24) is a
  * KLL/GK-style engine-private summary no SQL oracle can reproduce,
  * while "the k lexicographically-smallest (md5_60(row-key), value)
  * pairs" is plain order statistics — any engine computes the
  * identical sample, so sample quantiles are oracle-gateable
  * bit-for-bit (the values are PICKED, never interpolated — no
  * floating-point divergence surface at all).
  *
  * Statistics: hashing a UNIQUE row key uniformly at random and
  * keeping the k smallest is a simple random sample of k rows
  * (bottom-k sampling), so the sample CDF obeys DKW:
  * P(sup|F̂−F| > ε) ≤ 2e^(−2kε²) — at k=256, ε=0.1 the failure
  * probability is ~1.2%, and the spec pins a planted corpus inside
  * that bound. Unlike KMV this is a ROW sample (duplicated values
  * weigh by multiplicity), which is what quantiles need.
  *
  * Scale shape: state is a ≤k-pair sorted buffer per group; Spark
  * applies `merge` map-side, so the shuffle carries at most k pairs
  * per (group, partition) regardless of corpus size — never the rows
  * — and the same merge composes samples from separate shards/runs
  * (the G25 artifact discipline). Ties on the hash break by value
  * (the pair ordering IS (h, v) lexicographic), so a hash collision
  * cannot make the kept sample depend on encounter order.
  */
final case class BottomKSample(k: Int)
    extends Aggregator[(Long, Double), (Array[Long], Array[Double]), Array[Double]] {

  override def zero: (Array[Long], Array[Double]) =
    (Array.emptyLongArray, Array.emptyDoubleArray)

  /** (h, v) < (h2, v2) lexicographic; insertion point for a new pair
    * into the sorted buffer, or −1 if an identical pair is present. */
  private def insertionPoint(hs: Array[Long], vs: Array[Double],
      h: Long, v: Double): Int = {
    var lo = 0
    var hi = hs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val c = java.lang.Long.compare(hs(mid), h) match {
        case 0 => java.lang.Double.compare(vs(mid), v)
        case x => x
      }
      if (c < 0) lo = mid + 1 else hi = mid
    }
    if (lo < hs.length && hs(lo) == h && vs(lo) == v) -1 else lo
  }

  override def reduce(b: (Array[Long], Array[Double]),
      in: (Long, Double)): (Array[Long], Array[Double]) = {
    val (hs, vs) = b
    val (h, v) = in
    val ins = insertionPoint(hs, vs, h, v)
    if (ins < 0) b // identical pair already sampled
    else if (hs.length < k) {
      val oh = new Array[Long](hs.length + 1)
      val ov = new Array[Double](vs.length + 1)
      System.arraycopy(hs, 0, oh, 0, ins); System.arraycopy(vs, 0, ov, 0, ins)
      oh(ins) = h; ov(ins) = v
      System.arraycopy(hs, ins, oh, ins + 1, hs.length - ins)
      System.arraycopy(vs, ins, ov, ins + 1, vs.length - ins)
      (oh, ov)
    } else if (ins < k) { // displaces the current k-th smallest pair
      val oh = new Array[Long](k)
      val ov = new Array[Double](k)
      System.arraycopy(hs, 0, oh, 0, ins); System.arraycopy(vs, 0, ov, 0, ins)
      oh(ins) = h; ov(ins) = v
      System.arraycopy(hs, ins, oh, ins + 1, k - ins - 1)
      System.arraycopy(vs, ins, ov, ins + 1, k - ins - 1)
      (oh, ov)
    } else b
  }

  override def merge(a: (Array[Long], Array[Double]),
      b: (Array[Long], Array[Double])): (Array[Long], Array[Double]) = {
    if (a._1.isEmpty) return b
    if (b._1.isEmpty) return a
    val n = math.min(a._1.length + b._1.length, k)
    val oh = new Array[Long](n)
    val ov = new Array[Double](n)
    var (i, j, m) = (0, 0, 0)
    while (m < n && (i < a._1.length || j < b._1.length)) {
      val takeA = j >= b._1.length || (i < a._1.length &&
        (a._1(i) < b._1(j) || (a._1(i) == b._1(j) && a._2(i) <= b._2(j))))
      val (h, v) = if (takeA) { val x = (a._1(i), a._2(i)); i += 1; x }
                   else { val x = (b._1(j), b._2(j)); j += 1; x }
      if (m == 0 || h != oh(m - 1) || v != ov(m - 1)) {
        oh(m) = h; ov(m) = v; m += 1
      }
    }
    if (m == n) (oh, ov)
    else (java.util.Arrays.copyOf(oh, m), java.util.Arrays.copyOf(ov, m))
  }

  /** The sampled VALUES in canonical (hash, value) order — consumers
    * `array_sort` for quantile ranks; [[graft.sources.Sinks]]' G25
    * artifact keeps the (h, v) pairs instead so shards stay mergeable. */
  override def finish(r: (Array[Long], Array[Double])): Array[Double] = r._2

  override def bufferEncoder: Encoder[(Array[Long], Array[Double])] =
    ExpressionEncoder[(Array[Long], Array[Double])]()

  override def outputEncoder: Encoder[Array[Double]] =
    ExpressionEncoder[Array[Double]]()
}

/** [[BottomKSample]] finishing with the (hash, value) PAIRS instead of
  * the values alone — the shape the G25 sample-shard artifact persists
  * (shards stay mergeable only while the hashes travel with the
  * values; the quantile consumer drops them at read time).
  */
final case class BottomKPairs(k: Int)
    extends Aggregator[(Long, Double), (Array[Long], Array[Double]), Seq[(Long, Double)]] {
  private val s = BottomKSample(k)
  override def zero: (Array[Long], Array[Double]) = s.zero
  override def reduce(b: (Array[Long], Array[Double]),
      in: (Long, Double)): (Array[Long], Array[Double]) = s.reduce(b, in)
  override def merge(a: (Array[Long], Array[Double]),
      b: (Array[Long], Array[Double])): (Array[Long], Array[Double]) = s.merge(a, b)
  override def finish(r: (Array[Long], Array[Double])): Seq[(Long, Double)] =
    r._1.zip(r._2).toSeq
  override def bufferEncoder: Encoder[(Array[Long], Array[Double])] =
    s.bufferEncoder
  override def outputEncoder: Encoder[Seq[(Long, Double)]] =
    ExpressionEncoder[Seq[(Long, Double)]]()
}
