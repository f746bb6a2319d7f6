package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Shared element accessors for the numeric-array kernels below.
  *
  * `elemNullable` drives the null-element contract: when a child's
  * schema says `containsNull = true` (parquet float lists read that way
  * by default), the kernels CHECK each element and return NULL on a null
  * element — the loud contract, and for the fold kernels exactly what
  * the HOF twin computes (a null element nulls the fold). When the
  * schema proves `containsNull = false`, no per-element check is
  * emitted, so the clean-schema hot loop is unchanged.
  */
private[functions] object VecKernel {
  def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  def elemNullable(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull

  def checkNumericArrays(prettyName: String, left: Expression,
      right: Expression): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall { e =>
      e.dataType match {
        case ArrayType(FloatType | DoubleType | IntegerType | LongType, _) => true
        case _ => false
      }
    }
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires numeric array inputs, got ${left.dataType} / ${right.dataType}")
  }

  def get(a: ArrayData, t: DataType, i: Int): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case DoubleType => a.getDouble(i)
    case IntegerType => a.getInt(i).toDouble
    case LongType => a.getLong(i).toDouble
    case other => throw new IllegalStateException(s"unsupported element type $other")
  }

  def getter(arr: String, i: String, t: DataType): String = t match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case LongType => s"(double) $arr.getLong($i)"
    case other => throw new IllegalStateException(s"unsupported element type $other")
  }

  /** Per-element null guard for the generated loop body: empty when the
    * schema proves elements non-null (zero-cost fast path), else a check
    * that nulls the whole result and exits the loop.
    */
  def nullGuard(check: Boolean, arr: String, i: String, isNull: String): String =
    if (check) s"if ($arr.isNullAt($i)) { $isNull = true; break; }" else ""
}

/** Native Catalyst dot product over two numeric array columns.
  *
  * This is the tier-(b) custom operator of the preference order (compose
  * built-ins > custom Expression > custom plan > mapPartitions): the
  * higher-order-function formulation
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` allocates an intermediate
  * array per row and is not whole-stage-codegen'd; this expression
  * generates a tight primitive loop inside the stage's generated code —
  * the shape that matters when scoring 10⁹ embeddings.
  *
  * Accumulation is a sequential left fold in element order, bit-identical
  * to the HOF version and to DuckDB's `list_sum` over an index
  * comprehension — so oracle hash-parity is preserved.
  *
  * Null semantics: a null array yields null (nullSafeEval); a null
  * ELEMENT yields null when the child schema admits one
  * (`containsNull = true`) — same as the HOF fold, where the null
  * element nulls the accumulation — and costs nothing when the schema
  * proves elements non-null. Mismatched lengths dot the common prefix.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullable: Boolean =
    left.nullable || right.nullable ||
      VecKernel.elemNullable(left) || VecKernel.elemNullable(right)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecKernel.checkNumericArrays(prettyName, left, right)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (at, bt) = (VecKernel.elemType(left), VecKernel.elemType(right))
    val (aN, bN) = (VecKernel.elemNullable(left), VecKernel.elemNullable(right))
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if ((aN && a.isNullAt(i)) || (bN && b.isNullAt(i))) return null
      acc += VecKernel.get(a, at, i) * VecKernel.get(b, bt, i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val (aN, bN) = (VecKernel.elemNullable(left), VecKernel.elemNullable(right))
      val finish =
        if (aN || bN) s"if (!${ev.isNull}) { ${ev.value} = $acc; }"
        else s"${ev.value} = $acc;"
      s"""
        |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $acc = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  ${VecKernel.nullGuard(aN, a, i, ev.isNull.toString)}
        |  ${VecKernel.nullGuard(bN, b, i, ev.isNull.toString)}
        |  $acc += ${VecKernel.getter(a, i, VecKernel.elemType(left))} * ${VecKernel.getter(b, i, VecKernel.elemType(right))};
        |}
        |$finish
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native squared L2 distance over two numeric array columns — the
  * [[DotProduct]] treatment for the PQ/ANN distance kernel: the HOF form
  * `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0, _+_)` is
  * interpreted per element, and the PQ encoder evaluates it M·K times
  * per vector (128 subvector distances at the default shape) — the
  * index-build hot path. Same sequential left fold in element order as
  * the HOF form and the DuckDB comprehension, so results are
  * bit-identical (spec-locked).
  *
  * Length mismatch yields NULL — same as the HOF form (`zip_with` pads
  * the shorter array with null elements, which nulls the whole fold)
  * and the DuckDB comprehension, so the bit-identical contract covers
  * ragged inputs too. A null ELEMENT likewise yields NULL when the
  * child schema admits one (`containsNull = true`) — matching the HOF
  * fold — with no per-element check emitted when the schema proves
  * elements non-null.
  */
case class L2DistSq(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  // null on length mismatch even when both inputs are non-nullable
  override def nullable: Boolean = true
  override def prettyName: String = "l2_dist_sq"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecKernel.checkNumericArrays(prettyName, left, right)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val (at, bt) = (VecKernel.elemType(left), VecKernel.elemType(right))
    val (aN, bN) = (VecKernel.elemNullable(left), VecKernel.elemNullable(right))
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if ((aN && a.isNullAt(i)) || (bN && b.isNullAt(i))) return null
      val d = VecKernel.get(a, at, i) - VecKernel.get(b, bt, i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val (aN, bN) = (VecKernel.elemNullable(left), VecKernel.elemNullable(right))
      val finish =
        if (aN || bN) s"if (!${ev.isNull}) { ${ev.value} = $acc; }"
        else s"${ev.value} = $acc;"
      s"""
        |if ($a.numElements() != $b.numElements()) {
        |  ${ev.isNull} = true;
        |} else {
        |  final int $n = $a.numElements();
        |  double $acc = 0.0;
        |  for (int $i = 0; $i < $n; $i++) {
        |    ${VecKernel.nullGuard(aN, a, i, ev.isNull.toString)}
        |    ${VecKernel.nullGuard(bN, b, i, ev.isNull.toString)}
        |    final double $d = ${VecKernel.getter(a, i, VecKernel.elemType(left))} - ${VecKernel.getter(b, i, VecKernel.elemType(right))};
        |    $acc += $d * $d;
        |  }
        |  $finish
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native sum of squared deviations of a numeric array from a numeric
  * scalar, `Σ (values(i) − center)²` — the kernel of the replicate
  * variance ([[graft.sources.VarRep.replicateVariance]]). It is
  * [[L2DistSq]] against the center repeated once per element, without
  * building that array: the same left fold in element order in doubles, so
  * bit-identical to `aggregate(values, 0.0, (acc, v) => acc + (v - center)
  * * (v - center))` (spec-locked), and an int-typed input cannot overflow.
  *
  * Null semantics follow that fold: a null array gives NULL, an empty
  * array gives 0 (whatever the center), and otherwise a null center or a
  * null element (when the schema admits one) gives NULL.
  */
case class SumSqDev(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sum_sq_dev"

  override def nullable: Boolean =
    left.nullable || right.nullable || VecKernel.elemNullable(left)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    right.dataType match {
      case FloatType | DoubleType | IntegerType | LongType =>
        VecKernel.checkNumericArrays(prettyName, left, left)
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a numeric center, got $t")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input).asInstanceOf[ArrayData]
    if (a == null) return null
    val n = a.numElements()
    if (n == 0) return 0.0
    val c = right.eval(input)
    if (c == null) return null
    val center = c.asInstanceOf[Number].doubleValue
    val (t, elemN) = (VecKernel.elemType(left), VecKernel.elemNullable(left))
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (elemN && a.isNullAt(i)) return null
      val d = VecKernel.get(a, t, i) - center
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val (a, c) = (left.genCode(ctx), right.genCode(ctx))
    val (i, n, acc, d) =
      (ctx.freshName("i"), ctx.freshName("n"), ctx.freshName("acc"), ctx.freshName("d"))
    ev.copy(code = code"""
      |${a.code}
      |boolean ${ev.isNull} = ${a.isNull};
      |double ${ev.value} = 0.0;
      |if (!${ev.isNull} && ${a.value}.numElements() > 0) {
      |  ${c.code}
      |  ${ev.isNull} = ${c.isNull};
      |  if (!${ev.isNull}) {
      |    final int $n = ${a.value}.numElements();
      |    double $acc = 0.0;
      |    for (int $i = 0; $i < $n; $i++) {
      |      ${VecKernel.nullGuard(VecKernel.elemNullable(left), a.value.toString, i, ev.isNull.toString)}
      |      final double $d = ${VecKernel.getter(a.value.toString, i, VecKernel.elemType(left))} - (double) ${c.value};
      |      $acc += $d * $d;
      |    }
      |    if (!${ev.isNull}) { ${ev.value} = $acc; }
      |  }
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native element-wise difference `a(i) - b(i)` of two numeric array
  * columns, as `array<double>` — the residual kernel of the IVF-PQ
  * index build ([[graft.operators.Pq.residual]]): the HOF form
  * `zip_with(a, b, (x, c) => x.cast(double) - c)` is interpreted per
  * element and the residual-index build evaluates it once per corpus
  * vector — the same interpreted-HOF class [[L2DistSq]] eliminated for
  * the distance kernel. The subtraction is the identical exact IEEE
  * double op in the identical element order, so results are
  * bit-identical to the HOF twin (spec-locked) and the q115 oracle.
  *
  * Length mismatch yields NULL (the HOF twin nulls the padded elements
  * instead — a shape this kernel's callers never produce; NULL is the
  * loud contract). A null ELEMENT likewise yields a NULL result when
  * the child schema admits one (`containsNull = true`) — the HOF twin
  * would carry a null element instead; whole-result NULL is the same
  * loud contract as the length case, and the output's
  * `containsNull = false` promise stays true. No per-element check is
  * emitted when the schema proves elements non-null.
  */
case class VectorSub(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  // null on length mismatch even when both inputs are non-nullable
  override def nullable: Boolean = true
  override def prettyName: String = "vector_sub"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    VecKernel.checkNumericArrays(prettyName, left, right)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val (at, bt) = (VecKernel.elemType(left), VecKernel.elemType(right))
    val (aN, bN) = (VecKernel.elemNullable(left), VecKernel.elemNullable(right))
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if ((aN && a.isNullAt(i)) || (bN && b.isNullAt(i))) return null
      out(i) = VecKernel.get(a, at, i) - VecKernel.get(b, bt, i)
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val (aN, bN) = (VecKernel.elemNullable(left), VecKernel.elemNullable(right))
      val finish =
        if (aN || bN)
          s"if (!${ev.isNull}) { ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out); }"
        else
          s"${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);"
      s"""
        |if ($a.numElements() != $b.numElements()) {
        |  ${ev.isNull} = true;
        |} else {
        |  final int $n = $a.numElements();
        |  final double[] $out = new double[$n];
        |  for (int $i = 0; $i < $n; $i++) {
        |    ${VecKernel.nullGuard(aN, a, i, ev.isNull.toString)}
        |    ${VecKernel.nullGuard(bN, b, i, ev.isNull.toString)}
        |    $out[$i] = ${VecKernel.getter(a, i, VecKernel.elemType(left))} - ${VecKernel.getter(b, i, VecKernel.elemType(right))};
        |  }
        |  $finish
        |}
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  import org.apache.spark.sql.GraftSqlBridge

  /** Column API for [[DotProduct]]. */
  def dotNative(a: Column, b: Column): Column =
    GraftSqlBridge.column(DotProduct(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Column API for [[L2DistSq]]. */
  def d2Native(a: Column, b: Column): Column =
    GraftSqlBridge.column(L2DistSq(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Column API for [[SumSqDev]]: `Σ (values(i) − center)²`. */
  def sumSqDev(values: Column, center: Column): Column =
    GraftSqlBridge.column(SumSqDev(
      GraftSqlBridge.expression(values), GraftSqlBridge.expression(center)))

  /** Column API for [[VectorSub]]. */
  def subNative(a: Column, b: Column): Column =
    GraftSqlBridge.column(VectorSub(
      GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** Register the vector kernels for SQL use — same codegen'd
    * expressions the Column API binds, so a SQL-surface user never
    * falls back to interpreted `aggregate`/`zip_with` HOFs for these.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    def binary(name: String, make: (org.apache.spark.sql.catalyst.expressions.Expression,
        org.apache.spark.sql.catalyst.expressions.Expression) =>
        org.apache.spark.sql.catalyst.expressions.Expression): Unit =
      GraftSqlBridge.registerFunction(spark, name, { exprs =>
        require(exprs.length == 2,
          s"$name takes exactly 2 array arguments, got ${exprs.length}")
        make(exprs(0), exprs(1))
      })
    binary("dot_product", DotProduct(_, _))
    binary("l2_dist_sq", L2DistSq(_, _))
    binary("vector_sub", VectorSub(_, _))
  }
}
