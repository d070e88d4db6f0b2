package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst table generator (SURVEY §2.K — "UDTF / generator: shingler"):
  * one input row of tokens → one output row per n-gram shingle. Same
  * mechanism as `explode` (a Generator node feeding whole-stage codegen's
  * consume path), so downstream operators see ordinary rows; the n-gram
  * window never materializes an intermediate array per document the way
  * the transform(sequence(...)) HOF recipe does.
  *
  * It emits EVERY window in order, repeats included (not a distinct
  * set), and a window holding a NULL token emits no row at all — unlike
  * `graft_ngrams` (TokenNgrams), which follows `concat_ws` and skips only
  * the NULL token inside its window.
  *
  * SQL name: `shingles(tokens, n)` (n a literal), registered by
  * GraftFunctions.register.
  */
case class ShingleGenerator(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def elementSchema: StructType =
    StructType(Seq(StructField("shingle", StringType, nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingles requires array<string>, got ${other.sql}")
    }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null) Nil
    else {
      val m = arr.numElements()
      if (m < n) Nil
      else (0 to m - n).iterator.flatMap { i =>
        val parts = new Array[UTF8String](2 * n - 1)
        var j = 0
        var hasNull = false
        while (j < n) {
          if (j > 0) parts(2 * j - 1) = ShingleGenerator.Space
          val t = arr.getUTF8String(i + j)
          if (t == null) hasNull = true
          parts(2 * j) = t
          j += 1
        }
        // windows containing a null token are skipped — emitting a null
        // shingle would violate the non-nullable elementSchema
        if (hasNull) Nil else Seq(InternalRow(UTF8String.concat(parts.toIndexedSeq: _*)))
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleGenerator {
  private val Space = UTF8String.fromString(" ")
}
