package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst dot-product over two `array<double>` columns.
  *
  * The higher-order-function formulation (`aggregate(zip_with(a,b,*))`)
  * allocates an intermediate array and evaluates a lambda per element —
  * interpreted, not codegen'd. This expression generates a tight
  * primitive loop inside whole-stage codegen instead (~10× on the
  * all-pairs cosine workload). Summation is the same sequential
  * ascending-index fold, so results stay bit-identical to the
  * `list_reduce` DuckDB oracle.
  *
  * Null contract (registered as `graft_dot` for arbitrary user arrays):
  * a null ELEMENT contributes 0 to the sum (the pair at that index is
  * skipped) — defined output, never a read of a null slot. The
  * per-element null check is only EMITTED when an input's ArrayType
  * says `containsNull`; the embedding hot path (containsNull = false)
  * keeps the branch-free loop.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // null-in → null-out exactly (nullSafeEval): declaring it lets
  // constraint inference emit IsNotNull(input attr) instead of
  // IsNotNull(thisExpr) — without it the inferred join-key null
  // filter RE-EVALUATES the expression below the Project (guide §4.4
  // duplicate-eval; measured in every banding-join plan)
  override def nullIntolerant: Boolean = true

  // inputs are array<double> by construction (withNorm casts); no
  // ExpectsInputTypes — AbstractDataType is private[sql] in Spark 4
  override def dataType: DataType = DoubleType

  private def mayHaveNullElements: Boolean =
    Seq(left, right).exists(e => e == null || (e.dataType match {
      case ArrayType(_, n) => n
      case _ => true
    }))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    if (mayHaveNullElements) {
      while (i < n) {
        if (!x.isNullAt(i) && !y.isNullAt(i)) s += x.getDouble(i) * y.getDouble(i)
        i += 1
      }
    } else {
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val body =
        if (mayHaveNullElements)
          s"if (!$a.isNullAt($i) && !$b.isNullAt($i)) $s += $a.getDouble($i) * $b.getDouble($i);"
        else
          s"$s += $a.getDouble($i) * $b.getDouble($i);"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $body
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native PQ distance table: the r6-rounded squared-L2 distance from
  * the input subvector to EVERY entry of a literal codebook, as one
  * `array<double>` indexed by code.
  *
  * Why an expression at all: the unrolled formulation — an
  * `array(struct(dist, code), …)` argmin with one inlined literal
  * center per element — generates O(nCodes · dsub) Java per subspace;
  * at m=8 × nCodes=8 janino hits its 64 KB method limit in the
  * Generate stage's consume ("Code grows beyond 64 KB", observed in
  * the sf0.01 verify run) and Spark silently drops the WHOLE stage
  * out of whole-stage codegen. This loop form is constant bytecode
  * regardless of codebook size, so D8/D9 stay codegen'd at any
  * (m, nCodes). It is the COARSE-quantizer kernel too
  * (`Similarity.centerDists`: every cell assignment and IVF probe,
  * with the full center set as the codebook): the unrolled coarse
  * form hit the same limit at 256 cells, and since the generated code
  * never embeds codebook values, re-trained centers reuse the
  * compiled class.
  *
  * Bit parity with the unrolled form (and therefore the unchanged
  * DuckDB oracle): ascending-index folds for x·x and x·c (DotProduct's
  * order), ‖c‖² folded at construction in the same ascending order the
  * driver previously used, the identical left-associated
  * (xn2 − 2·s) + c2 combination, and the same floor(d·1e6 + 0.5)/1e6
  * rounding. Downstream argmin/tiebreak semantics are preserved by
  * `array_position(ds, array_min(ds))`: first occurrence of the
  * minimum ⇒ lowest code wins ties, exactly like the old
  * struct(dist, code) min. Null elements contribute 0 (DotProduct's
  * contract); the check is only emitted when the ArrayType admits
  * nulls.
  *
  * The codebook child must be a foldable `array<array<double>>`
  * (element i = code i's subvector); it is folded ONCE into flat
  * primitive arrays at first use and referenced from generated code —
  * never evaluated per row.
  */
case class PqDists(vec: Expression, codebook: Expression)
    extends BinaryExpression {

  // null-in → null-out exactly (nullSafeEval): declaring it lets
  // constraint inference emit IsNotNull(input attr) instead of
  // IsNotNull(thisExpr) — without it the inferred join-key null
  // filter RE-EVALUATES the expression below the Project (guide §4.4
  // duplicate-eval; measured in every banding-join plan)
  override def nullIntolerant: Boolean = true

  override def left: Expression = vec
  override def right: Expression = codebook
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  // registered as public SQL (graft_pq_dists): reject bad shapes at
  // ANALYSIS time, not as an executor-side RuntimeException at first
  // eval — a non-foldable codebook would otherwise only fail inside
  // the lazy fold, deep in a running job
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    (vec.dataType, codebook.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        if (codebook.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "graft_pq_dists codebook must be a literal (foldable) array<array<double>>")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_pq_dists requires (array<double>, array<array<double>>), got ${l.sql} and ${r.sql}")
    }
  }

  private def mayHaveNullElements: Boolean = vec.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  }

  // (flat row-major codebook, per-code ‖c‖², nCodes, dsub)
  @transient private lazy val folded: (Array[Double], Array[Double], Int, Int) = {
    val cb = codebook.eval(null).asInstanceOf[ArrayData]
    require(cb != null, "PqDists codebook must not be null")
    val n = cb.numElements()
    require(n > 0, "PqDists codebook must be non-empty")
    require(!cb.isNullAt(0), "PqDists codebook element 0 is null")
    val d = cb.getArray(0).numElements()
    val flat = new Array[Double](n * d)
    val c2 = new Array[Double](n)
    var c = 0
    while (c < n) {
      // a ragged or null-element codebook would otherwise read
      // undefined slots via getDouble on an absent index
      require(!cb.isNullAt(c), s"PqDists codebook element $c is null")
      val a = cb.getArray(c)
      require(a.numElements() == d,
        s"PqDists codebook is ragged: element $c has ${a.numElements()} dims, expected $d")
      var s = 0.0
      var i = 0
      while (i < d) {
        require(!a.isNullAt(i), s"PqDists codebook element $c has a null at dim $i")
        val x = a.getDouble(i)
        flat(c * d + i) = x
        s += x * x
        i += 1
      }
      c2(c) = s
      c += 1
    }
    (flat, c2, n, d)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val (flat, c2, n, d) = folded
    val len = math.min(d, x.numElements())
    val checkNulls = mayHaveNullElements
    var xn2 = 0.0
    var i = 0
    while (i < len) {
      if (!checkNulls || !x.isNullAt(i)) { val xi = x.getDouble(i); xn2 += xi * xi }
      i += 1
    }
    val out = new Array[Double](n)
    var c = 0
    while (c < n) {
      var s = 0.0
      i = 0
      while (i < len) {
        if (!checkNulls || !x.isNullAt(i)) s += x.getDouble(i) * flat(c * d + i)
        i += 1
      }
      val dist = xn2 - 2.0 * s + c2(c)
      out(c) = math.floor(dist * 1e6 + 0.5) / 1e6
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (flat, c2, n, d) = folded
    val flatRef = ctx.addReferenceObj("pqFlat", flat, "double[]")
    val c2Ref = ctx.addReferenceObj("pqC2", c2, "double[]")
    nullSafeCodeGen(ctx, ev, (x, _) => {
      val len = ctx.freshName("len")
      val xn2 = ctx.freshName("xn2")
      val out = ctx.freshName("out")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val dist = ctx.freshName("dist")
      val xi = ctx.freshName("xi")
      val guard = if (mayHaveNullElements) s"!$x.isNullAt($i)" else "true"
      s"""
         |int $len = java.lang.Math.min($d, $x.numElements());
         |double $xn2 = 0.0;
         |for (int $i = 0; $i < $len; $i++) {
         |  if ($guard) { double $xi = $x.getDouble($i); $xn2 += $xi * $xi; }
         |}
         |double[] $out = new double[$n];
         |for (int $c = 0; $c < $n; $c++) {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $len; $i++) {
         |    if ($guard) $s += $x.getDouble($i) * $flatRef[$c * $d + $i];
         |  }
         |  double $dist = $xn2 - 2.0 * $s + $c2Ref[$c];
         |  $out[$c] = java.lang.Math.floor($dist * 1.0E6 + 0.5) / 1.0E6;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(vec = newLeft, codebook = newRight)
}

object VectorExprs {
  private val FnName = "graft_dot"

  /** (name, implementing class, builder) for EVERY graft native
    * function — the one list GraftExtensions injects into every graft
    * session, and [[requireInstalled]] checks. The class name feeds
    * ExpressionInfo so DESCRIBE FUNCTION reports the actual expression
    * class, not the registrar.
    */
  val functions: Seq[(String, String,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
    (FnName, classOf[DotProduct].getName, exprs => DotProduct(exprs.head, exprs(1))),
    ("graft_md5_60", classOf[Md5Prefix60].getName, exprs => Md5Prefix60(exprs.head)),
    ("graft_simhash60", classOf[SimHash60].getName, exprs => SimHash60(exprs.head)),
    ("graft_simhash_grams", classOf[SimHashGrams].getName, exprs => SimHashGrams(exprs.head)),
    ("graft_gram3_hashes", classOf[GramHashes].getName,
      exprs => GramHashes(exprs.head, 3, distinct = true)),
    ("graft_gram4_hashes", classOf[GramHashes].getName,
      exprs => GramHashes(exprs.head, 4, distinct = false)),
    ("graft_gram5_hashes", classOf[GramHashes].getName,
      exprs => GramHashes(exprs.head, 5, distinct = false)),
    ("graft_rolling_min", classOf[RollingHashMin].getName,
      exprs => RollingHashMin(exprs.head, 16)),
    ("graft_rolling_hashes", classOf[RollingHashAll].getName,
      // optional second arg = window (foldable int literal); 1-arg
      // form keeps the historical default of 16
      exprs => RollingHashAll(exprs.head,
        if (exprs.length > 1) exprs(1).eval(null) match {
          case n: Number => n.intValue
          case other => throw new IllegalArgumentException(
            s"graft_rolling_hashes window must be an int literal, got $other")
        } else 16)),
    ("graft_winnow8_mins", classOf[WinnowMins].getName,
      exprs => WinnowMins(exprs.head, 8)),
    ("graft_bigram_strings", classOf[WordGrams].getName,
      exprs => WordGrams(exprs.head, 2, distinct = false)),
    ("graft_bigram_strings_distinct", classOf[WordGrams].getName,
      exprs => WordGrams(exprs.head, 2, distinct = true)),
    ("graft_intersect_count", classOf[IntersectCount].getName,
      exprs => IntersectCount(exprs.head, exprs(1))),
    ("graft_pq_dists", classOf[PqDists].getName,
      exprs => PqDists(exprs.head, exprs(1))),
    ("graft_dhash60", classOf[DHash60].getName,
      exprs => DHash60(exprs.head, 8)),
    // 1-byte blocks: the frame-granularity variant (a 64-byte frame
    // fills the 61-block grid at blockBytes=1; at 8 it would collapse
    // into 8 blocks and lose the gradient)
    ("graft_dhash60_b1", classOf[DHash60].getName,
      exprs => DHash60(exprs.head, 1)),
    ("graft_minhash_sig", classOf[MinHashSig].getName,
      exprs => MinHashSig(exprs.head)),
    ("graft_grad_energy", classOf[GradEnergy].getName,
      exprs => GradEnergy(exprs.head)))

  /** Fails unless every name in [[functions]] resolves, in `spark`'s
    * function registry, to graft's own expression class. Read-only: a
    * missing name means the session was built without GraftExtensions;
    * a name taken by another class is a foreign function shadowing
    * graft's, which every graft query would silently call.
    */
  def requireInstalled(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, cls, _) =>
      reg.lookupFunction(FunctionIdentifier(name)) match {
        case Some(info) if info.getClassName == cls =>
        case Some(info) =>
          throw new IllegalStateException(s"function $name is registered by " +
            s"${Option(info.getClassName).getOrElse("an anonymous builder")}, not graft's " +
            s"$cls; drop it or use a fresh session")
        case None =>
          throw new IllegalStateException(s"function $name is not registered in this " +
            "session; build it with graft.GraftSession, or launch it with " +
            "spark.sql.extensions=graft.GraftExtensions")
      }
    }
  }

  def dot(a: Column, b: Column): Column = call_function(FnName, a, b)

  /** r6'd squared-L2 distance to every entry of a LITERAL codebook. */
  def pqDists(v: Column, codebook: Column): Column =
    call_function("graft_pq_dists", v, codebook)
}
