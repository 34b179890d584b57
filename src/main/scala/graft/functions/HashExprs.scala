package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 60-bit md5-prefix hash: the long whose value equals parsing
  * the first 15 hex chars of md5(s) — i.e. the top 60 bits of the
  * digest — computed straight from the digest bytes.
  *
  * Semantically identical to `conv(substring(md5(s),1,15),16,10)::long`
  * (and to the oracle's `('0x'||substr(md5(s),1,15))::BIGINT`) but
  * skips the hex-string render + re-parse and their allocations; the
  * digest instance is thread-local. Generated code is a single static
  * call, inlined into whole-stage codegen.
  */
case class Md5Prefix60(child: Expression) extends UnaryExpression {

  // null-in → null-out exactly (nullSafeEval): declaring it lets
  // constraint inference emit IsNotNull(input attr) instead of
  // IsNotNull(thisExpr) — without it the inferred join-key null
  // filter RE-EVALUATES the expression below the Project (guide §4.4
  // duplicate-eval; measured in every banding-join plan)
  override def nullIntolerant: Boolean = true

  override def dataType: DataType = LongType

  protected override def nullSafeEval(input: Any): Any =
    Md5Prefix60.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Md5Prefix60.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 60-bit SimHash over an array of 60-bit hashes, in one pass: per bit
  * j, sign-sum of ((h >> j) & 1)·2−1 over the array; bit j of the
  * result is set iff the sum is positive.
  *
  * Replaces the explode → 60 partial-sum aggregates → reassemble
  * formulation: same value (the oracle's unnest+SUM SQL is unchanged)
  * but computed per row in whole-stage codegen with NO shuffle of the
  * exploded gram relation.
  */
case class SimHash60(child: Expression) extends UnaryExpression {

  // null-in → null-out exactly (nullSafeEval): declaring it lets
  // constraint inference emit IsNotNull(input attr) instead of
  // IsNotNull(thisExpr) — without it the inferred join-key null
  // filter RE-EVALUATES the expression below the Project (guide §4.4
  // duplicate-eval; measured in every banding-join plan)
  override def nullIntolerant: Boolean = true

  override def dataType: DataType = LongType

  protected override def nullSafeEval(input: Any): Any =
    SimHash60.hash(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash60.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SimHash60 fused with the gram hashing: input array<string> of
  * shingles, output the 60-bit simhash of their Md5Prefix60 hashes.
  * The two-step composition (`transform(gs, md5_60)` → SimHash60) pays
  * higher-order-function interpretation per element — ArrayTransform
  * has no codegen; this fusion is one native loop.
  */
case class SimHashGrams(child: Expression) extends UnaryExpression {

  // null-in → null-out exactly (nullSafeEval): declaring it lets
  // constraint inference emit IsNotNull(input attr) instead of
  // IsNotNull(thisExpr) — without it the inferred join-key null
  // filter RE-EVALUATES the expression below the Project (guide §4.4
  // duplicate-eval; measured in every banding-join plan)
  override def nullIntolerant: Boolean = true

  override def dataType: DataType = LongType

  protected override def nullSafeEval(input: Any): Any =
    SimHash60.hashGrams(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash60.hashGrams($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Null contract (both entry points, registered as `graft_simhash60` /
  * `graft_simhash_grams` for arbitrary user arrays): null elements are
  * SKIPPED — the simhash of the non-null elements, never garbage from
  * reading a null slot.
  */
object SimHash60 {
  def hashGrams(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val counts = new Array[Int](60)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) tally(counts, Md5Prefix60.hash(arr.getUTF8String(i)))
      i += 1
    }
    fold(counts)
  }

  def hash(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val counts = new Array[Int](60)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) tally(counts, arr.getLong(i))
      i += 1
    }
    fold(counts)
  }

  private def tally(counts: Array[Int], h: Long): Unit = {
    var j = 0
    while (j < 60) {
      if (((h >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
      j += 1
    }
  }

  private def fold(counts: Array[Int]): Long = {
    var s = 0L
    var j = 0
    while (j < 60) {
      if (counts(j) > 0) s |= (1L << j)
      j += 1
    }
    s
  }
}

/** Fused tokenize → word n-gram shingle → 60-bit hash: input the raw
  * text, output `array<long>` of (optionally distinct, first-occurrence
  * order) Md5Prefix60 hashes of the space-joined n-grams of the
  * lowercased space-split tokens — value-identical to the composed
  * `transform(sequence…, array_join(slice…))` + md5_60 pipeline, but
  * one native loop instead of three interpreted higher-order functions
  * per row. Downstream joins/aggregates shuffle 8-byte longs instead
  * of gram strings.
  */
case class GramHashes(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {

  // null-in → null-out exactly (nullSafeEval): declaring it lets
  // constraint inference emit IsNotNull(input attr) instead of
  // IsNotNull(thisExpr) — without it the inferred join-key null
  // filter RE-EVALUATES the expression below the Project (guide §4.4
  // duplicate-eval; measured in every banding-join plan)
  override def nullIntolerant: Boolean = true

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  protected override def nullSafeEval(input: Any): Any =
    GramHashes.compute(input.asInstanceOf[UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramHashes.compute($c, $n, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GramHashes {
  // Named `compute`, NOT `eval`: the case class inherits Expression.eval,
  // and Scala suppresses the companion's static forwarder on a name
  // collision — a static `eval(UTF8String,int,boolean)` would not exist
  // in bytecode, Janino compilation would fail, and Spark would silently
  // fall back to interpreted projections for every gram-based query.
  def compute(s: UTF8String, n: Int, distinct: Boolean): org.apache.spark.sql.catalyst.util.ArrayData = {
    val text = s.toLowerCase.toString
    val toks = text.split(" ", -1)
    val raw: Array[Long] =
      if (toks.length >= n) {
        val out = new Array[Long](toks.length - n + 1)
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i < out.length) {
          sb.setLength(0)
          var j = 0
          while (j < n) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          out(i) = Md5Prefix60.hashBytes(
            sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          i += 1
        }
        out
      } else Array(Md5Prefix60.hashBytes(
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    val vals =
      if (!distinct) raw
      else {
        val seen = new java.util.LinkedHashSet[java.lang.Long]()
        raw.foreach(seen.add(_))
        val out = new Array[Long](seen.size)
        var i = 0
        val it = seen.iterator()
        while (it.hasNext) { out(i) = it.next(); i += 1 }
        out
      }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(vals)
  }
}

/** Fused tokenize → word n-gram STRINGS — GramHashes' sibling for
  * consumers that need the gram text itself (collocations, repetition
  * stats): `array<string>` of space-joined n-grams of the lowercased
  * space-split tokens, optionally distinct (first-occurrence order).
  * EMPTY for docs with fewer than n tokens — a 1-token doc has no
  * bigrams (unlike GramHashes' whole-text fallback, whose consumers
  * want every doc representable). Value-identical to the composed
  * `transform(sequence…, concat(element_at…))` formulation, which at
  * sf0.1 spent ~2.7 s/query in interpreted lambda evaluation; this is
  * one native loop inlined into whole-stage codegen.
  */
case class WordGrams(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {

  // null-in → null-out exactly (nullSafeEval): declaring it lets
  // constraint inference emit IsNotNull(input attr) instead of
  // IsNotNull(thisExpr) — without it the inferred join-key null
  // filter RE-EVALUATES the expression below the Project (guide §4.4
  // duplicate-eval; measured in every banding-join plan)
  override def nullIntolerant: Boolean = true

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)

  protected override def nullSafeEval(input: Any): Any =
    WordGrams.compute(input.asInstanceOf[UTF8String], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordGrams.compute($c, $n, $distinct)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordGrams {
  // `compute`, not `eval` — see the GramHashes forwarder-suppression note
  def compute(s: UTF8String, n: Int, distinct: Boolean): org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks = s.toLowerCase.toString.split(" ", -1)
    if (toks.length < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < out.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    val vals =
      if (!distinct) out
      else {
        val seen = new java.util.LinkedHashSet[Any]()
        out.foreach(seen.add)
        seen.toArray
      }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(vals)
  }
}

/** Minimum polynomial rolling hash over fixed-size character windows
  * (Rabin–Karp): h(w) = fold((a,c) -> (a·B + c) mod P) over the
  * window's chars; result = min over all windows (docs shorter than
  * the window hash whole). Computed with the O(n) rolling recurrence
  * (subtract the outgoing term via B^(k−1) mod P, shift, add) — the
  * DuckDB oracle recomputes each window's fold O(n·k); identical
  * values, which is exactly what makes it a *rolling* hash.
  * Chars are taken as bytes (== code points for the ASCII corpus).
  */
/** Sliding-window minima over an `array<long>` (the winnowing
  * selection step, Schleimer et al.): the DISTINCT minima of every
  * `w`-wide window, first-occurrence order; whole-array min for inputs
  * shorter than the window. One O(n) monotonic-deque pass in codegen —
  * the composed `transform(sequence…, array_min(slice…))` +
  * `array_distinct` formulation is its reference semantics (asserted
  * in GramFusionSpec) but costs O(n·w) in interpreted lambda eval
  * (measured 9.3 s for text_winnow at sf0.1; this expression is the
  * reason that query is sub-second).
  */
case class WinnowMins(child: Expression, window: Int) extends UnaryExpression {

  // null-in → null-out exactly (nullSafeEval): declaring it lets
  // constraint inference emit IsNotNull(input attr) instead of
  // IsNotNull(thisExpr) — without it the inferred join-key null
  // filter RE-EVALUATES the expression below the Project (guide §4.4
  // duplicate-eval; measured in every banding-join plan)
  override def nullIntolerant: Boolean = true

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  protected override def nullSafeEval(input: Any): Any =
    WinnowMins.compute(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WinnowMins.compute($c, $window)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowMins {
  def compute(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      w: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    if (n < w) {
      var m = arr.getLong(0)
      var i = 1
      while (i < n) { val v = arr.getLong(i); if (v < m) m = v; i += 1 }
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(m))
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val idx = new Array[Int](n) // monotonic deque of candidate indices
    var head = 0
    var tail = 0
    var i = 0
    while (i < n) {
      val v = arr.getLong(i)
      while (tail > head && arr.getLong(idx(tail - 1)) >= v) tail -= 1
      idx(tail) = i
      tail += 1
      if (idx(head) <= i - w) head += 1
      if (i >= w - 1) seen.add(arr.getLong(idx(head)))
      i += 1
    }
    val out = new Array[Long](seen.size)
    var j = 0
    val it = seen.iterator()
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** ALL window hashes of the Rabin–Karp roll (RollingHashMin's
  * recurrence, emitted per position instead of min-folded): element i
  * is h(s[i .. i+window)) — the relation content-defined chunking cuts
  * on. O(n) one pass; the oracle recomputes each window's fold O(n·k)
  * with identical values. Inputs shorter than the window yield an
  * empty array (no full window exists → no cut candidates).
  */
case class RollingHashAll(child: Expression, window: Int) extends UnaryExpression {

  // null-in → null-out exactly (nullSafeEval): declaring it lets
  // constraint inference emit IsNotNull(input attr) instead of
  // IsNotNull(thisExpr) — without it the inferred join-key null
  // filter RE-EVALUATES the expression below the Project (guide §4.4
  // duplicate-eval; measured in every banding-join plan)
  override def nullIntolerant: Boolean = true

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  protected override def nullSafeEval(input: Any): Any = input match {
    case b: Array[Byte] => RollingHashAll.hashes(b, window)
    case s => RollingHashAll.hashes(s.asInstanceOf[UTF8String], window)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // the Java overload on byte[] vs UTF8String resolves statically from
    // the child's generated type, so one template serves both input types
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHashAll.hashes($c, $window)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHashAll {
  import RollingHashMin.{B, P}

  /** String input hashes its UTF-8 OCTETS — identical to handing the
    * raw bytes to the binary overload (the property the byte-level CDC
    * arc rides: cut offsets are byte offsets regardless of charset
    * width).
    */
  def hashes(s: UTF8String, window: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    hashes(s.getBytes, window)

  def hashes(bytes: Array[Byte], window: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = bytes.length
    if (n < window)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val out = new Array[Long](n - window + 1)
    var pw = 1L
    var j = 1
    while (j < window) { pw = pw * B % P; j += 1 }
    var h = 0L
    var i = 0
    while (i < window) { h = (h * B + (bytes(i) & 0xffL)) % P; i += 1 }
    out(0) = h
    while (i < n) {
      val outgoing = (bytes(i - window) & 0xffL) * pw % P
      h = ((h + P - outgoing) % P * B + (bytes(i) & 0xffL)) % P
      out(i - window + 1) = h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

case class RollingHashMin(child: Expression, window: Int) extends UnaryExpression {

  // null-in → null-out exactly (nullSafeEval): declaring it lets
  // constraint inference emit IsNotNull(input attr) instead of
  // IsNotNull(thisExpr) — without it the inferred join-key null
  // filter RE-EVALUATES the expression below the Project (guide §4.4
  // duplicate-eval; measured in every banding-join plan)
  override def nullIntolerant: Boolean = true

  override def dataType: DataType = LongType

  protected override def nullSafeEval(input: Any): Any =
    RollingHashMin.hash(input.asInstanceOf[UTF8String], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHashMin.hash($c, $window)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHashMin {
  val B = 31L
  val P = 1073741789L

  def hash(s: UTF8String, window: Int): Long = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n == 0) return 0L
    if (n < window) {
      var h = 0L
      var i = 0
      while (i < n) { h = (h * B + (bytes(i) & 0xffL)) % P; i += 1 }
      return h
    }
    var pw = 1L // B^(window-1) mod P
    var j = 1
    while (j < window) { pw = pw * B % P; j += 1 }
    var h = 0L
    var i = 0
    while (i < window) { h = (h * B + (bytes(i) & 0xffL)) % P; i += 1 }
    var min = h
    while (i < n) {
      val out = (bytes(i - window) & 0xffL) * pw % P
      h = ((h + P - out) % P * B + (bytes(i) & 0xffL)) % P
      if (h < min) min = h
      i += 1
    }
    min
  }
}

/** 16-permutation MinHash signature over an `array<long>` of shingle
  * hashes, one native pass: element i of the result is
  * min over the array of (aᵢ·(h mod 2³⁰)+bᵢ) mod P — value-identical
  * to the batch groupBy-per-permutation-min formulation (same
  * per-element values, same minima), but computed PER ROW. That is
  * the form the streaming probe needs: a groupBy(doc_id) signature
  * aggregate is stateful on a stream, a per-row expression is not.
  * Null elements are skipped (SimHash60's contract); an empty array
  * yields an empty signature.
  */
case class MinHashSig(child: Expression) extends UnaryExpression {

  // null-in → null-out exactly (nullSafeEval): declaring it lets
  // constraint inference emit IsNotNull(input attr) instead of
  // IsNotNull(thisExpr) — without it the inferred join-key null
  // filter RE-EVALUATES the expression below the Project (guide §4.4
  // duplicate-eval; measured in every banding-join plan)
  override def nullIntolerant: Boolean = true

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_minhash_sig requires array<bigint>, got ${other.sql}")
    }
  }

  protected override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashSig.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSig {
  private val A = Hashing.Perms.map(_._1).toArray
  private val B = Hashing.Perms.map(_._2).toArray

  // `compute`, not `eval` — see the GramHashes forwarder-suppression note
  def compute(arr: org.apache.spark.sql.catalyst.util.ArrayData): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    if (n == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val k = A.length
    val out = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val base = arr.getLong(i) % Hashing.M30
        var j = 0
        while (j < k) {
          val v = (A(j) * base + B(j)) % Hashing.P
          if (v < out(j)) out(j) = v
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** F6: 60-bit gradient ("difference hash") perceptual signature over a
  * binary payload: the payload's first 61 `blockBytes`-sized blocks
  * are summed (blocks past the end sum to 0); bit i is set iff block
  * i's sum exceeds block i+1's — integer compares, so the oracle's
  * SQL formulation is bit-exact with no floating-point divergence.
  * 60 bits keeps the value positive in a BIGINT on both engines,
  * matching the md5_60/simhash60 convention.
  *
  * The gradient rule (not the global-mean blockhash rule) matters: a
  * mean-threshold bit is set for every nonempty block of a
  * short-payload asset, so the signature degenerates into a length
  * hash (measured: 13 808 banded pairs at hamming ≤ 4 on the sf0.01
  * corpus, nearly all length coincidences vs 343 under the gradient
  * rule). Near-dup assets survive re-encode/light edits under a
  * block-gradient hash where F5's exact checksum misses them; the
  * stub grid stands in for the decoded luma plane (this container
  * has no codecs) — a real deployment hashes decoded bytes with the
  * identical bit rule.
  */
/** Byte-gradient ENERGY Σ|b[i+1]−b[i]| over the payload (unsigned
  * bytes) — F16's sharpness proxy in ONE tight pass. The composed
  * `sequence()+aggregate()` formulation materializes a position array
  * per row (measured 6.5 s over 5k sf0.1 assets); this is the DHash60
  * discipline instead: no allocation, codegen'd via a static call.
  * Oracle formulation: list_reduce([abs(ord(..i+1..)-ord(..i..))]).
  */
case class GradEnergy(child: Expression) extends UnaryExpression {

  // null-in → null-out exactly (nullSafeEval): declaring it lets
  // constraint inference emit IsNotNull(input attr) instead of
  // IsNotNull(thisExpr) — without it the inferred join-key null
  // filter RE-EVALUATES the expression below the Project (guide §4.4
  // duplicate-eval; measured in every banding-join plan)
  override def nullIntolerant: Boolean = true

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case org.apache.spark.sql.types.BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_grad_energy requires a binary argument, got ${other.sql}")
    }
  }

  protected override def nullSafeEval(input: Any): Any =
    GradEnergy.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GradEnergy.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GradEnergy {
  // `compute`, not `eval` — see the GramHashes forwarder-suppression note
  def compute(bytes: Array[Byte]): Long = {
    var s = 0L
    var i = 1
    while (i < bytes.length) {
      s += math.abs((bytes(i) & 0xff) - (bytes(i - 1) & 0xff))
      i += 1
    }
    s
  }
}

case class DHash60(child: Expression, blockBytes: Int) extends UnaryExpression {

  // null-in → null-out exactly (nullSafeEval): declaring it lets
  // constraint inference emit IsNotNull(input attr) instead of
  // IsNotNull(thisExpr) — without it the inferred join-key null
  // filter RE-EVALUATES the expression below the Project (guide §4.4
  // duplicate-eval; measured in every banding-join plan)
  override def nullIntolerant: Boolean = true

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    child.dataType match {
      case org.apache.spark.sql.types.BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_dhash60 requires a binary argument, got ${other.sql}")
    }
  }

  protected override def nullSafeEval(input: Any): Any =
    DHash60.compute(input.asInstanceOf[Array[Byte]], blockBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.DHash60.compute($c, $blockBytes)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DHash60 {
  // `compute`, not `eval` — see the GramHashes forwarder-suppression note
  def compute(bytes: Array[Byte], blockBytes: Int): Long = {
    val sums = new Array[Long](61)
    var i = 0
    while (i < 61) {
      var s = 0L
      var j = i * blockBytes
      val end = math.min(bytes.length, j + blockBytes)
      while (j < end) { s += (bytes(j) & 0xffL); j += 1 }
      sums(i) = s
      i += 1
    }
    var h = 0L
    i = 0
    while (i < 60) {
      if (sums(i) > sums(i + 1)) h |= (1L << i)
      i += 1
    }
    h
  }
}

object Md5Prefix60 {
  private val digests = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  def hash(s: UTF8String): Long = hashBytes(s.getBytes)

  def hashBytes(bytes: Array[Byte]): Long = {
    val md = digests.get()
    md.reset()
    val d = md.digest(bytes)
    // first 8 bytes big-endian, dropped low nibble = first 15 hex chars
    val top =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    top >>> 4
  }
}

/** Count of DISTINCT common values of two long-array shingle sets —
  * value-identical to `size(array_intersect(a, b))` (common VALUES
  * counted once even under duplicates) but with no intermediate
  * intersection array: the Jaccard verify evaluates this once per
  * candidate pair (~10⁶ rows/query), where array_intersect's
  * allocated-and-discarded ArrayData per row is pure overhead. Hash
  * set built from the smaller side, probed by the larger,
  * remove-on-match so each common value counts once.
  */
case class IntersectCount(left: Expression, right: Expression) extends BinaryExpression {

  // null-in → null-out exactly (nullSafeEval): declaring it lets
  // constraint inference emit IsNotNull(input attr) instead of
  // IsNotNull(thisExpr) — without it the inferred join-key null
  // filter RE-EVALUATES the expression below the Project (guide §4.4
  // duplicate-eval; measured in every banding-join plan)
  override def nullIntolerant: Boolean = true

  override def dataType: DataType = IntegerType

  // long arrays only: UnsafeArrayData.getLong on e.g. int elements
  // would silently read garbage across slots; fail analysis instead
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (left.dataType, right.dataType) match {
      case (org.apache.spark.sql.types.ArrayType(LongType, _),
            org.apache.spark.sql.types.ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_intersect_count requires two array<bigint> arguments, got ${l.sql} and ${r.sql}")
    }
  }

  protected override def nullSafeEval(a: Any, b: Any): Any =
    IntersectCount.compute(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.IntersectCount.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object IntersectCount {

  // Open-addressing scratch table, thread-local and grow-only: the
  // verify stage calls compute() millions of times per task (one per
  // candidate pair), and the previous java.util.HashSet[java.lang.Long]
  // form allocated a table + ~|small| boxed Longs PER CALL — an
  // allocation storm that dominated the hottest dedup stage and made
  // its pre-JIT interpreted window catastrophically slow (measured 98 s
  // task-time vs 6 s warm for the identical stage). Primitive longs,
  // zero per-call allocation, linear probing.
  private val EMPTY = java.lang.Long.MIN_VALUE
  private val TOMB  = java.lang.Long.MIN_VALUE + 1
  private val scratch = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = Array.fill(1024)(EMPTY)
  }

  // static entry named `compute`, not `eval` — see GramHashes note
  def compute(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    val (small, large) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = small.numElements()
    // sentinel collision (values within 2 of Long.MinValue — impossible
    // for the 60-bit gram/fingerprint hashes this serves, but compute()
    // is generic): correctness fallback to the boxed path. BOTH sides
    // must be scanned — a sentinel-valued probe from `large` would
    // false-match EMPTY slots (tombstoning one per duplicate until no
    // EMPTY remains and the probe loop can never terminate)
    var i = 0
    while (i < n) {
      if (!small.isNullAt(i) && small.getLong(i) < TOMB + 1) return computeBoxed(small, large)
      i += 1
    }
    val mProbe = large.numElements()
    i = 0
    while (i < mProbe) {
      if (!large.isNullAt(i) && large.getLong(i) < TOMB + 1) return computeBoxed(small, large)
      i += 1
    }
    var cap = 4
    while (cap < n * 2) cap <<= 1
    var table = scratch.get()
    if (table.length < cap) { table = new Array[Long](cap); scratch.set(table) }
    // only the [0, cap) prefix of a larger reused buffer is filled and
    // probed (mask < cap): stale entries beyond it are unreachable
    val mask = cap - 1
    java.util.Arrays.fill(table, 0, cap, EMPTY)
    def slotOf(x: Long): Int = {
      // splitmix-style finalizer so adjacent hashes spread across slots
      val h = x * -7046029254386353131L
      ((h ^ (h >>> 32)).toInt) & mask
    }
    var smallNull = false
    i = 0
    while (i < n) {
      if (small.isNullAt(i)) smallNull = true
      else {
        val x = small.getLong(i)
        var s = slotOf(x)
        while (table(s) != EMPTY && table(s) != x) s = (s + 1) & mask
        table(s) = x
      }
      i += 1
    }
    val m = large.numElements()
    var c = 0
    var largeNull = false
    i = 0
    while (i < m) {
      if (large.isNullAt(i)) largeNull = true
      else {
        val x = large.getLong(i)
        var s = slotOf(x)
        // remove-on-match (tombstone), so duplicates in `large` count once
        while (table(s) != EMPTY && table(s) != x) s = (s + 1) & mask
        if (table(s) == x) { table(s) = TOMB; c += 1 }
      }
      i += 1
    }
    // array_intersect treats NULL elements as equal: a null present in
    // BOTH arrays is one common value
    if (smallNull && largeNull) c + 1 else c
  }

  private def computeBoxed(small: org.apache.spark.sql.catalyst.util.ArrayData,
      large: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    val n = small.numElements()
    val set = new java.util.HashSet[java.lang.Long](math.max(4, n * 2))
    var smallNull = false
    var i = 0
    while (i < n) {
      if (small.isNullAt(i)) smallNull = true else set.add(small.getLong(i))
      i += 1
    }
    val m = large.numElements()
    var c = 0
    var largeNull = false
    i = 0
    while (i < m) {
      if (large.isNullAt(i)) largeNull = true
      else if (set.remove(large.getLong(i))) c += 1
      i += 1
    }
    if (smallNull && largeNull) c + 1 else c
  }
}
