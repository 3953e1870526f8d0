package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native codegen twins of the similarity layer's two hot HOF expressions
  * (r6, guide §1.2 step 2 / this round's rule 4 — no interpreted
  * `Expression`s in the hot path):
  *
  *  - [[ArrayDotProduct]]  ≡ `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)`
  *  - [[LshPlaneDot]]      ≡ `aggregate(zip_with(v, sequence(0, size-1),
  *                             (x, i) => x * (((i*37 + off) % 13 - 6).cast(double))), 0.0, _ + _)`
  *
  * Spark evaluates higher-order-function lambdas INTERPRETED, boxing every
  * element and allocating the zipped intermediate array per call — measured
  * as the dominant cost of the bucketed-ANN score job (q_ann_bucketed's
  * single in-bucket scoring task). These expressions run the identical
  * left-fold (same IEEE accumulation order, bit-identical results) as one
  * codegen'd JVM loop over the unsafe array data.
  *
  * Null semantics mirror the HOF chain exactly: null array → null; any
  * null element → null product → null fold result; length mismatch in
  * ArrayDotProduct → zip_with pads with nulls → null. (LshPlaneDot's index
  * array is derived from the vector itself, so no mismatch case exists;
  * an EMPTY vector meets `sequence(0, -1)` = [0, -1], so zip_with pads a
  * null and the fold is null.)
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<double>, array<double>), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayDotProduct.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Double ${ev.value}_r =
         |  graft.functions.ArrayDotProduct$$.MODULE$$.compute($a, $b);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

object ArrayDotProduct {
  /** Exact left fold: acc = 0.0; acc += x(i)*y(i) in index order — the same
    * IEEE operation sequence as aggregate(zip_with(x, y, _*_), 0.0, _+_).
    */
  def compute(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (y.numElements() != n) return null // zip_with pads → null product
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** See [[ArrayDotProduct]] scaladoc. `right` is the per-plane offset
  * (j * 17); the weight for position i is ((i*37 + off) % 13) - 6 computed
  * in Int then cast to double — Similarity.planeWeight verbatim.
  */
case class LshPlaneDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects (array<double>, int), got ($l, $r)")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_lsh_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    LshPlaneDot.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Double ${ev.value}_r =
         |  graft.functions.LshPlaneDot$$.MODULE$$.compute($a, $b);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LshPlaneDot =
    copy(left = newLeft, right = newRight)
}

object LshPlaneDot {
  def compute(x: ArrayData, off: Int): java.lang.Double = {
    val n = x.numElements()
    if (n == 0) return null // the HOF's index array is [0, -1]: padded → null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      acc += x.getDouble(i) * (((i * 37 + off) % 13) - 6).toDouble
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}
