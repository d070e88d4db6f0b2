package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType}

/** Native Catalyst dot product over two numeric array columns, accumulated
  * in double — the hot loop of every similarity operator here.
  *
  * Why an Expression and not the zip_with/aggregate HOF (SURVEY §4.3):
  * the HOF builds an intermediate array and evaluates two lambdas per
  * element through interpreted closures; this expression compiles (via
  * doGenCode) to a primitive float loop inside whole-stage codegen — no
  * allocation, no virtual calls. Same sequential accumulation order as
  * the HOF, so results are bit-identical and the DuckDB goldens prove the
  * swap is semantics-preserving.
  *
  * Embeddings are L2-normalized (FIXTURES.md), so this is also cosine
  * similarity.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall { e =>
      e.dataType match {
        case ArrayType(FloatType | DoubleType | ByteType, _) => true
        case _ => false
      }
    }
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float>, array<double> or array<tinyint> inputs, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  /** Both sides int8 (SQ8-quantized): the loop multiply-accumulates in
    * LONG — exact (dim * 127^2 never overflows) and integer-unit-cheap,
    * the point of quantized scanning — and widens once at the end. */
  private def bothByte: Boolean =
    elemType(left) == ByteType && elemType(right) == ByteType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    if (bothByte) {
      var l = 0L
      while (i < n) { l += x.getByte(i).toLong * y.getByte(i); i += 1 }
      return l.toDouble
    }
    def get(e: Expression, a: ArrayData, j: Int): Double = elemType(e) match {
      case FloatType => a.getFloat(j).toDouble
      case ByteType  => a.getByte(j).toDouble
      case _         => a.getDouble(j)
    }
    var acc = 0.0
    (elemType(left), elemType(right)) match {
      case (FloatType, FloatType) =>
        while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      case (DoubleType, DoubleType) =>
        while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
      case _ =>
        while (i < n) { acc += get(left, x, i) * get(right, y, i); i += 1 }
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(e: Expression, arr: String, i: String): String = elemType(e) match {
      case FloatType => s"(double) $arr.getFloat($i)"
      case ByteType  => s"(double) $arr.getByte($i)"
      case _ => s"$arr.getDouble($i)"
    }
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      if (bothByte)
        // int8 fast path: integer multiply-accumulate, one widening at the
        // end — exact in long (dim * 127^2 << Long.MaxValue)
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |long $acc = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += (long) ($a.getByte($i) * $b.getByte($i));
           |}
           |${ev.value} = (double) $acc;
         """.stripMargin
      else
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += ${getter(left, a, i)} * ${getter(right, b, i)};
           |}
           |${ev.value} = $acc;
         """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
