package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded posting-list aggregate for df-capped candidate generation
  * (C5b/C16): per group (shingle), the total input count `n` and the
  * `cap + 1` SMALLEST input ids, sorted ascending.
  *
  * The point (guide §2.3/§2.4): the old capped-candidates shape ran
  * THREE passes over the exploded gram relation — a df aggregate, a
  * stop-set anti-join probe, and a `collect_set` posting aggregate of
  * the survivors. This aggregate fuses them into ONE gram-keyed pass:
  * a group with n ≤ cap holds its COMPLETE sorted posting list (the
  * buffer capacity cap+1 is never exceeded before the cap binds), and
  * a group with n > cap is the stop set — detected by the same `n`,
  * dropped by the caller's filter. Spark applies `merge` map-side, so
  * the shuffle carries at most cap+1 ids per (group, partition) — a
  * stop-shingle shared by millions of documents ships ≤ cap+1 ids per
  * map partition instead of every id (the OOM the old anti-join
  * existed to prevent).
  *
  * Exactness: input ids are distinct per group by construction
  * (gramSets is per-document DISTINCT shingles, so a doc contributes
  * one row per gram), and partial buffers partition the rows, so
  * `merge` never sees the same id twice; for n ≤ cap the finished
  * `ids` equal `sort_array(collect_set(doc_id))` bit-for-bit.
  */
final case class BoundedPostings(cap: Int)
    extends Aggregator[Long, (Long, Array[Long]), (Long, Array[Long])] {

  // cap + 1 without overflow: the C5b cap=∞ law passes Int.MaxValue
  private val k = if (cap >= Int.MaxValue) Int.MaxValue else cap + 1

  override def zero: (Long, Array[Long]) = (0L, Array.emptyLongArray)

  override def reduce(b: (Long, Array[Long]), id: Long): (Long, Array[Long]) = {
    val (n, ids) = b
    if (ids.length >= k && id >= ids(ids.length - 1)) (n + 1, ids)
    else {
      var lo = 0
      var hi = ids.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ids(mid) < id) lo = mid + 1 else hi = mid
      }
      val outLen = math.min(ids.length + 1, k)
      val out = new Array[Long](outLen)
      System.arraycopy(ids, 0, out, 0, lo)
      if (lo < outLen) {
        out(lo) = id
        System.arraycopy(ids, lo, out, lo + 1, outLen - lo - 1)
      }
      (n + 1, out)
    }
  }

  override def merge(a: (Long, Array[Long]), b: (Long, Array[Long])): (Long, Array[Long]) = {
    if (a._2.isEmpty) return (a._1 + b._1, b._2)
    if (b._2.isEmpty) return (a._1 + b._1, a._2)
    val n = math.min(a._2.length + b._2.length, k)
    val out = new Array[Long](n)
    var (i, j, m) = (0, 0, 0)
    while (m < n) {
      val takeA = j >= b._2.length || (i < a._2.length && a._2(i) <= b._2(j))
      if (takeA) { out(m) = a._2(i); i += 1 } else { out(m) = b._2(j); j += 1 }
      m += 1
    }
    (a._1 + b._1, out)
  }

  override def finish(r: (Long, Array[Long])): (Long, Array[Long]) = r

  override def bufferEncoder: Encoder[(Long, Array[Long])] =
    ExpressionEncoder[(Long, Array[Long])]()

  override def outputEncoder: Encoder[(Long, Array[Long])] =
    ExpressionEncoder[(Long, Array[Long])]()
}
