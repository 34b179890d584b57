package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** KMV (k-minimum-values) distinct-count sketch as a typed Aggregator —
  * the ENGINE-PORTABLE cardinality sketch next to B12's
  * `approx_count_distinct`: Spark's HLL++ register layout is engine-
  * private (no SQL oracle can reproduce it), while KMV over a
  * deterministic hash is plain order statistics — the k smallest
  * distinct hash values — which any SQL engine computes exactly, so
  * the whole sketch is oracle-gateable bit-for-bit.
  *
  * Estimator (Bar-Yossef et al., RANDOM'02): with h uniform on
  * [0, 2⁶⁰) (md5_60's range), the k-th smallest distinct hash hₖ
  * estimates density k/n ≈ hₖ/2⁶⁰, giving n̂ = (k−1)·2⁶⁰/hₖ (the −1
  * makes it unbiased); below k distinct values the sketch holds ALL
  * hashes and is exact. Relative error ~1/√k.
  *
  * Scale shape: state is a sorted ≤k-long array per group — Spark
  * applies `merge` map-side, so the shuffle carries at most k longs
  * per (group, partition) regardless of corpus size, and the same
  * merge makes sketches from separate shards/runs composable (the
  * corpus-card merge discipline of E50). Insert is binary-search +
  * bounded arraycopy; values ≥ the current k-th minimum are rejected
  * in O(log k) without allocation.
  */
final case class KmvSketch(k: Int)
    extends Aggregator[Long, Array[Long], Array[Long]] {

  override def zero: Array[Long] = Array.emptyLongArray

  override def reduce(b: Array[Long], h: Long): Array[Long] = {
    val pos = java.util.Arrays.binarySearch(b, h)
    if (pos >= 0) b // already present
    else {
      val ins = -pos - 1
      if (b.length < k) {
        val out = new Array[Long](b.length + 1)
        System.arraycopy(b, 0, out, 0, ins)
        out(ins) = h
        System.arraycopy(b, ins, out, ins + 1, b.length - ins)
        out
      } else if (ins < k) { // h < current k-th minimum: displace it
        val out = new Array[Long](k)
        System.arraycopy(b, 0, out, 0, ins)
        out(ins) = h
        System.arraycopy(b, ins, out, ins + 1, k - ins - 1)
        out
      } else b
    }
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    if (a.isEmpty) return b
    if (b.isEmpty) return a
    val out = new Array[Long](math.min(a.length + b.length, k))
    var (i, j, n) = (0, 0, 0)
    var last = Long.MinValue
    while (n < out.length && (i < a.length || j < b.length)) {
      val takeA = j >= b.length || (i < a.length && a(i) <= b(j))
      val v = if (takeA) { val x = a(i); i += 1; x } else { val x = b(j); j += 1; x }
      if (n == 0 || v != last) { out(n) = v; n = n + 1; last = v }
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  override def finish(r: Array[Long]): Array[Long] = r

  override def bufferEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()

  override def outputEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
}
