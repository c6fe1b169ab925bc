package graft.plans

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native binary vector folds with hand-written codegen: the dot product
  * of two `array<float>` columns (`float_vec_dot`, the cosine of every
  * in-bucket pair of the similarity joins) and the squared euclidean
  * distance of two `array<float|double>` columns (`vec_sq_dist`, the
  * k-means / IVF argmin, evaluated once per row per centroid).
  *
  * Spark's higher-order functions (`zip_with`, `aggregate`) are
  * `CodegenFallback`: evaluated interpreted, per row, with a closure call
  * per element. This expression generates one primitive loop instead, and
  * keeps the stage inside WholeStageCodegen (NativeVecSpec).
  *
  * Semantics are identical to `Vec.dot` and `Vec.sqDist`, the HOF folds
  * the DuckDB oracle reproduces: per element, widen exactly to float64,
  * multiply (or square the difference), accumulate strictly left to right.
  * Mismatched lengths yield null (zip_with pads the short side with null),
  * and so does a null element — never a partial sum. The per-element null
  * check is generated only when the array type says `containsNull`, so
  * dense literal centers stay check-free. `sqDist` takes float and double
  * arrays on either side independently: the corpus is float32 and centroid
  * arrays are float64.
  */
case class VecOp(left: Expression, right: Expression, sqDist: Boolean)
  extends BinaryExpression {

  /** Null can arise from non-null inputs (length mismatch, null element). */
  override def nullable: Boolean = true

  override def dataType: DataType = DoubleType
  override def prettyName: String = if (sqDist) "vec_sq_dist" else "float_vec_dot"
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  private def elemNullable(dt: DataType): Boolean = dt match {
    case ArrayType(_, n) => n
    case _               => false
  }

  private def elemType(dt: DataType): Option[DataType] = dt match {
    case ArrayType(FloatType, _)            => Some(FloatType)
    case ArrayType(DoubleType, _) if sqDist => Some(DoubleType)
    case _                                  => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left.dataType).isDefined && elemType(right.dataType).isDefined) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires ${if (sqDist) "array<float|double>" else "two array<float>"} " +
          s"inputs, got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  private def get(a: ArrayData, dt: DataType, i: Int): Double = dt match {
    case FloatType => a.getFloat(i).toDouble
    case _         => a.getDouble(i)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val lt = elemType(left.dataType).get
    val rt = elemType(right.dataType).get
    val checkL = elemNullable(left.dataType)
    val checkR = elemNullable(right.dataType)
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if ((checkL && x.isNullAt(i)) || (checkR && y.isNullAt(i))) return null
      if (sqDist) {
        val diff = get(x, lt, i) - get(y, rt, i)
        acc += diff * diff
      } else acc += get(x, lt, i) * get(y, rt, i)
      i += 1
    }
    acc
  }

  private def genGet(arr: String, dt: DataType, i: String): String = dt match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case _         => s"$arr.getDouble($i)"
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      val accumulate =
        if (sqDist) {
          val diff = ctx.freshName("diff")
          val lt = elemType(left.dataType).get
          val rt = elemType(right.dataType).get
          s"""final double $diff = ${genGet(a, lt, i)} - ${genGet(b, rt, i)};
             |    $acc += $diff * $diff;""".stripMargin
        } else s"$acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);"
      val nullChecks = Seq(
        if (elemNullable(left.dataType)) Some(s"$a.isNullAt($i)") else None,
        if (elemNullable(right.dataType)) Some(s"$b.isNullAt($i)") else None,
      ).flatten
      val elemGuard =
        if (nullChecks.isEmpty) ""
        else s"if (${nullChecks.mkString(" || ")}) { $bad = true; break; }"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  final int $n = $a.numElements();
         |  double $acc = 0.0;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elemGuard
         |    $accumulate
         |  }
         |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VecOp {
  /** Codegen'd Σ xᵢ·yᵢ over two float vectors. */
  def dot(a: Column, b: Column): Column = of(a, b, sqDist = false)

  /** Codegen'd Σ (xᵢ−yᵢ)² over float or double vectors. */
  def sqDist(a: Column, b: Column): Column = of(a, b, sqDist = true)

  private def of(a: Column, b: Column, sqDist: Boolean): Column =
    GraftSqlBridge.column(
      VecOp(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b), sqDist))
}
