package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Native Catalyst expression: SQUARED-L2 distance of two numeric-array
 * columns, computed in DOUBLE with a single ascending-index pass — the
 * distance of the exact L2 top-k (the [[CosineSim]] rule applied to
 * distance instead of similarity).
 *
 * Float semantics are IDENTICAL to the higher-order-function form
 * (`aggregate(zip_with(a, b, (x,y) -> (x-y)²), 0.0, _+_)`, spec-proven
 * bit-for-bit): both fold `(double(a_i) − double(b_i))²` ascending from 0.0
 * — the exact same IEEE operation sequence, only compiled into whole-stage
 * codegen instead of interpreted per element — and a NULL element in either
 * array nulls the WHOLE result, exactly as the HOF's null-propagating `+`
 * does (ArrayData.getFloat on a null slot would otherwise read garbage).
 * Accepts float or double arrays; mismatched lengths fold over the shorter
 * (the operators always pass equal-dimension vectors; the HOF's zip_with
 * null-pads instead — the one documented divergence).
 */
case class L2Sq(left: Expression, right: Expression) extends BinaryExpression {

  /** Nullable also when either array TYPE admits null elements — the
    * null-element → null-result rule above needs a real isNull slot in
    * generated code even under non-nullable array columns. */
  override def nullable: Boolean = left.nullable || right.nullable ||
    elementsNullable

  private def elementsNullable: Boolean =
    Seq(left, right).exists(_.dataType match {
      case ArrayType(_, cn) => cn
      case _ => false
    })

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float> or array<double> inputs, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2sq"

  private def elementType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (xt, yt) = (elementType(left), elementType(right))
    def get(arr: ArrayData, et: DataType, i: Int): Double = et match {
      case FloatType => arr.getFloat(i).toDouble
      case _         => arr.getDouble(i)
    }
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0d
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = get(x, xt, i) - get(y, yt, i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def getter(arr: String, et: DataType, idx: String): String = et match {
        case FloatType => s"(double) $arr.getFloat($idx)"
        case _         => s"$arr.getDouble($idx)"
      }
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      // a null element nulls the whole distance (HOF parity); the isNull
      // assignment only compiles when a real slot exists, which `nullable`
      // guarantees whenever an input type admits null elements
      val nullBreak =
        if (elementsNullable)
          s"""if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"""
        else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullBreak
         |  double $d = ${getter(a, elementType(left), i)} - ${getter(b, elementType(right), i)};
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
