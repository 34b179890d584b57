package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** EXACT top-k-per-group as a typed Aggregator with ≤k-pair map-side
  * merged state. Honest scale note (measured at 4M rows × 5 groups,
  * cpus=8): Spark ≥3.5's InferWindowGroupLimit ALREADY pushes a
  * `row_number() <= k` rank window below the shuffle (a partial
  * WindowGroupLimit under the exchange, pinned by PlanSpec: 120 rows
  * shuffled, not 4M — the naive "window shuffles every row" claim is
  * stale on this engine), so the
  * aggregator's remaining edge is structural, not asymptotic:
  * (a) top-k becomes an AGGREGATE — composable with other per-group
  * aggregates in the SAME map-side pass (the window form forces a
  * second shuffle+sort pass over the fact), (b) the state is a
  * mergeable summary usable as streaming state or a cross-run
  * artifact (the KMV/HLL/sample-shard discipline), and (c) it still
  * measures 3× fewer shuffle rows / ~4× less wall than the
  * group-limited window (40 vs 120 rows, 984 vs 4016 ms). The result
  * is EXACT and identical to the window form on distinct (v, id)
  * inputs (spec + oracle pin it); exact duplicate pairs are kept ONCE
  * (reduce and merge both dedup on the pair), where the window form
  * would keep each copy — the buffer is a mergeable set-like artifact,
  * so idempotence under re-delivered rows is the chosen contract.
  *
  * Ordering: keep the k largest by (value DESC, key ASC) — the key
  * tiebreak makes the kept set deterministic under ties, matching the
  * window form's `ORDER BY v DESC, key ASC`.
  */
final case class TopKRows(k: Int)
    extends Aggregator[(Double, Long), (Array[Double], Array[Long]), Seq[(Double, Long)]] {

  override def zero: (Array[Double], Array[Long]) =
    (Array.emptyDoubleArray, Array.emptyLongArray)

  /** Position of (v, id) in the buffer's (v DESC, id ASC) order. */
  private def insertionPoint(vs: Array[Double], ids: Array[Long],
      v: Double, id: Long): Int = {
    var lo = 0
    var hi = vs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      // (vs(mid), ids(mid)) before (v, id)? larger value first, then smaller id
      val before = vs(mid) > v || (vs(mid) == v && ids(mid) < id)
      if (before) lo = mid + 1 else hi = mid
    }
    lo
  }

  override def reduce(b: (Array[Double], Array[Long]),
      in: (Double, Long)): (Array[Double], Array[Long]) = {
    val (vs, ids) = b
    val (v, id) = in
    val ins = insertionPoint(vs, ids, v, id)
    // Same pair-dedup contract as merge(): an exact (v, id) already in
    // the buffer is not re-inserted, so output is partitioning-invariant
    // even when the input contains genuinely duplicate pairs.
    if (ins < vs.length && vs(ins) == v && ids(ins) == id) return b
    if (vs.length < k) {
      val ov = new Array[Double](vs.length + 1)
      val oi = new Array[Long](ids.length + 1)
      System.arraycopy(vs, 0, ov, 0, ins); System.arraycopy(ids, 0, oi, 0, ins)
      ov(ins) = v; oi(ins) = id
      System.arraycopy(vs, ins, ov, ins + 1, vs.length - ins)
      System.arraycopy(ids, ins, oi, ins + 1, ids.length - ins)
      (ov, oi)
    } else if (ins < k) {
      val ov = new Array[Double](k)
      val oi = new Array[Long](k)
      System.arraycopy(vs, 0, ov, 0, ins); System.arraycopy(ids, 0, oi, 0, ins)
      ov(ins) = v; oi(ins) = id
      System.arraycopy(vs, ins, ov, ins + 1, k - ins - 1)
      System.arraycopy(ids, ins, oi, ins + 1, k - ins - 1)
      (ov, oi)
    } else b
  }

  override def merge(a: (Array[Double], Array[Long]),
      b: (Array[Double], Array[Long])): (Array[Double], Array[Long]) = {
    if (a._1.isEmpty) return b
    if (b._1.isEmpty) return a
    // dedup on the exact (v, id) pair (mirroring BottomKSample and the
    // SQL shard merge's array_distinct): two runs that share rows must
    // not double-count a pair and evict a genuine top-k member — the
    // buffer is advertised as a mergeable cross-run artifact
    val ov = new Array[Double](math.min(a._1.length + b._1.length, k))
    val oi = new Array[Long](ov.length)
    var (i, j, m) = (0, 0, 0)
    while (m < ov.length && (i < a._1.length || j < b._1.length)) {
      val takeA = j >= b._1.length || (i < a._1.length &&
        (a._1(i) > b._1(j) || (a._1(i) == b._1(j) && a._2(i) <= b._2(j))))
      val (v, id) = if (takeA) (a._1(i), a._2(i)) else (b._1(j), b._2(j))
      if (takeA) i += 1 else j += 1
      if (m == 0 || ov(m - 1) != v || oi(m - 1) != id) {
        ov(m) = v; oi(m) = id; m += 1
      }
    }
    if (m == ov.length) (ov, oi)
    else (java.util.Arrays.copyOf(ov, m), java.util.Arrays.copyOf(oi, m))
  }

  override def finish(r: (Array[Double], Array[Long])): Seq[(Double, Long)] =
    r._1.zip(r._2).toSeq

  override def bufferEncoder: Encoder[(Array[Double], Array[Long])] =
    Encoders.tuple(Encoders.javaSerialization[Array[Double]],
      Encoders.javaSerialization[Array[Long]])

  override def outputEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
}
