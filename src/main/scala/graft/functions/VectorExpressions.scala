package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Shared element-type handling: the similarity expressions accept both
  * ARRAY<FLOAT> (the embeddings table) and ARRAY<DOUBLE> (the
  * framework's canonical `features` type). Anything else fails at
  * analysis time — silently reinterpreting bytes via the wrong getter
  * returns garbage, which is strictly worse than an error.
  */
private[functions] object VecType {
  def check(name: String, children: Seq[Expression]): TypeCheckResult = {
    val bad = children.filterNot(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires ARRAY<FLOAT> or ARRAY<DOUBLE> inputs, got " +
        bad.map(_.dataType.sql).mkString(", "))
  }

  def isDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** Java source for reading element `idx` of `arr` as a double. */
  def getJava(arr: String, isDouble: Boolean, idx: String = "i"): String =
    if (isDouble) s"$arr.getDouble($idx)" else s"(double)$arr.getFloat($idx)"
}

/** Native Catalyst expressions for embedding similarity (SURVEY.md §2.8 X3).
  *
  * Why a custom expression instead of `aggregate(zip_with(...))` HOFs:
  * (a) whole-stage codegen — the HOF path allocates per-row lambda
  * frames, this compiles to a tight primitive loop inside the generated
  * code, which matters when the kNN cross join evaluates millions of
  * pairs; (b) cross-engine determinism — scores quantized to integers
  * are exact in any summation order, so the DuckDB oracle reproduces
  * them bit-for-bit, which unquantized float dot products cannot
  * guarantee.
  *
  * Rounding is half-away-from-zero computed via exact fraction
  * comparison (not `+0.5` truncation, which mis-rounds
  * 0.49999999999999994), matching both Spark's and DuckDB's `round()`.
  */
case class QuantizedDot(left: Expression, right: Expression, scale: Double)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "quantized_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    VecType.check(prettyName, Seq(left, right))

  private lazy val leftIsDouble = VecType.isDouble(left)
  private lazy val rightIsDouble = VecType.isDouble(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val xv = if (leftIsDouble) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (rightIsDouble) y.getDouble(i) else y.getFloat(i).toDouble
      s += QuantizedDot.q(xv * scale) * QuantizedDot.q(yv * scale)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val qFn = QuantizedDot.getClass.getName.stripSuffix("$") + ".q"
      // freshName on every local: two instances of this expression in
      // one projection would otherwise redeclare the same Java locals,
      // fail Janino, and silently fall back to interpreted eval
      val n = ctx.freshName("n"); val s = ctx.freshName("s"); val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $qFn(${VecType.getJava(a, leftIsDouble, i)} * $scale) * $qFn(${VecType.getJava(b, rightIsDouble, i)} * $scale);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object QuantizedDot {
  /** Round half away from zero, exactly (public so codegen can call it). */
  def q(v: Double): Long = {
    val t = v.toLong
    val frac = v - t
    if (frac >= 0.5) t + 1 else if (frac <= -0.5) t - 1 else t
  }
}

/** ARRAY<FLOAT> → ARRAY<BIGINT>: each element rounded half-away-from-zero
  * after scaling. Factoring quantization out of [[LongDot]] matters in
  * pair joins: quantize is O(N) rows while the dot runs O(N²) times, so
  * the inner loop should be pure integer multiply-add.
  */
case class QuantizeVec(child: Expression, scale: Double) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "quantize_vec"

  override def checkInputDataTypes(): TypeCheckResult =
    VecType.check(prettyName, Seq(child))

  private lazy val childIsDouble = VecType.isDouble(child)

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val v = if (childIsDouble) x.getDouble(i) else x.getFloat(i).toDouble
      out(i) = QuantizedDot.q(v * scale)
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val qFn = QuantizedDot.getClass.getName.stripSuffix("$") + ".q"
      val arrData = classOf[ArrayData].getName
      val n = ctx.freshName("n"); val out = ctx.freshName("out"); val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = $qFn(${VecType.getJava(a, childIsDouble, i)} * $scale);
         |}
         |${ev.value} = $arrData.toArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Dot product of two ARRAY<BIGINT> — the tight inner loop of the
  * similarity pair joins. Whole-stage codegen emits a primitive loop
  * over the array data with no allocation.
  */
case class LongDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "long_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val s = ctx.freshName("s"); val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Count character-trigram hits against P language profiles in ONE
  * pass over the text: returns `ARRAY<BIGINT>` of length P. An
  * explode formulation (the test-side reference that
  * [[graft.llm.TextOps.trigramLangId]] is pinned against) ships one
  * row per sliding window (25M+ rows at sf0.1) through a Generate and
  * a two-level hash aggregate; this expression slides the window
  * inside generated code, probes P hash sets per position, and emits
  * nothing but the final counts — no explode, no shuffle. Semantics
  * identical to the explode path (spec-pinned): text is lowercased
  * first, windows shorter than 3 chars match nothing.
  */
case class TrigramProfileCount(child: Expression, profiles: Seq[Seq[String]])
    extends UnaryExpression {
  require(profiles.nonEmpty && profiles.forall(_.forall(_.length == 3)),
    "profiles must be non-empty lists of 3-char grams")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "trigram_profile_count"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${other.sql}")
  }

  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    profiles.map { grams =>
      val s = new java.util.HashSet[String]()
      grams.foreach(g => s.add(g))
      s
    }.toArray

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toString.toLowerCase(java.util.Locale.ROOT)
    val counts = new Array[Long](profiles.length)
    val n = s.length
    var i = 0
    while (i + 3 <= n) {
      val tri = s.substring(i, i + 3)
      var p = 0
      while (p < sets.length) { if (sets(p).contains(tri)) counts(p) += 1; p += 1 }
      i += 1
    }
    ArrayData.toArrayData(counts)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val setsRef = ctx.addReferenceObj("trigramSets", sets, "java.util.HashSet[]")
      val arrData = classOf[ArrayData].getName
      val s = ctx.freshName("s"); val counts = ctx.freshName("counts")
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val tri = ctx.freshName("tri"); val p = ctx.freshName("p")
      s"""
         |String $s = $c.toString().toLowerCase(java.util.Locale.ROOT);
         |long[] $counts = new long[${profiles.length}];
         |int $n = $s.length();
         |for (int $i = 0; $i + 3 <= $n; $i++) {
         |  String $tri = $s.substring($i, $i + 3);
         |  for (int $p = 0; $p < ${profiles.length}; $p++) {
         |    if ($setsRef[$p].contains($tri)) $counts[$p]++;
         |  }
         |}
         |${ev.value} = $arrData.toArrayData($counts);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Asymmetric-distance (ADC) dot product for product quantization:
  * given a corpus row's PQ codes (`ARRAY<BIGINT>`, one code per
  * subspace) and a query's per-subspace lookup tables
  * (`ARRAY<ARRAY<BIGINT>>`, `tbl[m][c]` = dot of the query's m-th
  * subvector with codeword c), returns Σ_m tbl[m][codes[m]] — the
  * approximate dot in M array reads instead of a D-element
  * multiply-add. This is the PQ hot loop (it runs per candidate
  * PAIR); as a HOF chain (zip_with + aggregate) it falls back to
  * interpreted eval, here it stays in whole-stage codegen.
  * Out-of-range codes contribute 0 (dropped codewords cannot be
  * referenced by a consistent encode, so this only pads ragged input).
  */
case class PqAdcDot(codes: Expression, tables: Expression) extends BinaryExpression {

  override def left: Expression = codes
  override def right: Expression = tables
  override def dataType: DataType = LongType
  override def prettyName: String = "pq_adc_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val cs = a.asInstanceOf[ArrayData]
    val tbl = b.asInstanceOf[ArrayData]
    val m = math.min(cs.numElements(), tbl.numElements())
    var s = 0L
    var i = 0
    while (i < m) {
      val row = tbl.getArray(i)
      val c = cs.getLong(i).toInt
      if (c >= 0 && c < row.numElements()) s += row.getLong(c)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val arrData = classOf[ArrayData].getName
      val m = ctx.freshName("m"); val s = ctx.freshName("s"); val i = ctx.freshName("i")
      val row = ctx.freshName("row"); val c = ctx.freshName("c")
      s"""
         |int $m = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $m; $i++) {
         |  $arrData $row = $b.getArray($i);
         |  int $c = (int) $a.getLong($i);
         |  if ($c >= 0 && $c < $row.numElements()) $s += $row.getLong($c);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(codes = newLeft, tables = newRight)
}

/** Column-level API for the vector expressions. */
object VectorFunctions {
  def quantizedDot(a: Column, b: Column, scale: Int = 1000): Column =
    ColumnBridge.toColumn(
      QuantizedDot(ColumnBridge.toExpr(a), ColumnBridge.toExpr(b), scale.toDouble))

  /** Squared quantized L2 norm — self dot product. */
  def quantizedNorm2(a: Column, scale: Int = 1000): Column =
    quantizedDot(a, a, scale)

  /** Pre-quantize a float vector to ARRAY<BIGINT> (do this once per row
    * BEFORE a pair join, then combine with [[longDot]]).
    */
  def quantizeVec(a: Column, scale: Int = 1000): Column =
    ColumnBridge.toColumn(QuantizeVec(ColumnBridge.toExpr(a), scale.toDouble))

  /** Integer dot product over two quantized vectors. */
  def longDot(a: Column, b: Column): Column =
    ColumnBridge.toColumn(LongDot(ColumnBridge.toExpr(a), ColumnBridge.toExpr(b)))

  /** One-pass trigram-profile hit counts (ARRAY<BIGINT>, one per profile). */
  def trigramProfileCount(text: Column, profiles: Seq[Seq[String]]): Column =
    ColumnBridge.toColumn(TrigramProfileCount(ColumnBridge.toExpr(text), profiles))

  /** PQ asymmetric-distance dot: Σ_m tables[m][codes[m]]. */
  def pqAdcDot(codes: Column, tables: Column): Column =
    ColumnBridge.toColumn(PqAdcDot(ColumnBridge.toExpr(codes), ColumnBridge.toExpr(tables)))
}
