package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** Token n-grams in one pass: `graft_ngrams(tokens, n, drop)` → every
  * n-token window of the first `size(tokens) - drop` tokens, in window
  * order, each window's tokens joined by one space.
  *
  * Reference semantics (CustomFunctionsSpec pins them, interpreted and
  * codegen): identical to the HOF recipe
  * `CASE WHEN size(toks) - (n - 1 + drop) >= 1 THEN transform(sequence(1,
  * size(toks) - (n - 1 + drop)), i -> concat_ws(' ', element_at(toks, i),
  * ..., element_at(toks, i + n - 1))) ELSE array() END` — same values,
  * same order, same `array<string>` type with `containsNull = false`.
  * A NULL token inside a window is skipped the way `concat_ws` skips it
  * (the window keeps its other tokens; an all-NULL window is the empty
  * string), which is NOT the `shingles` generator's rule (it drops the
  * whole window). Fewer than `n + drop` tokens, or a NULL token array,
  * yield the empty array, as the recipe's guard does under both ANSI
  * settings; the result is never NULL.
  *
  * Why an Expression: Catalyst inlines `toks = split(text, ' ')` into the
  * recipe's lambda, so every `element_at` re-splits the whole document —
  * about n splits per window, quadratic in document length. Here the
  * token array is evaluated once per row and the kernel writes the
  * result straight into one UnsafeArrayData buffer: window bytes are
  * copied from the token bytes with a 0x20 between them — no lambda, no
  * per-window string object, no java.lang.String round trip.
  */
case class TokenNgrams(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = "graft_ngrams"

  override def checkInputDataTypes(): TypeCheckResult = {
    val toksOk = first.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    val intsOk = Seq(second, third).forall(e => e.dataType == IntegerType && e.foldable)
    if (toksOk && intsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, foldable int n, foldable int drop), got " +
        s"(${first.dataType.sql}, ${second.dataType.sql}, ${third.dataType.sql})")
  }

  @transient private lazy val n: Int = {
    val nn = second.eval(null).asInstanceOf[Int]
    require(nn > 0, s"$prettyName: n must be positive, got $nn")
    nn
  }

  @transient private lazy val drop: Int = {
    val d = third.eval(null).asInstanceOf[Int]
    require(d >= 0, s"$prettyName: drop must be non-negative, got $d")
    d
  }

  override def eval(input: InternalRow): Any =
    TokenNgrams.grams(first.eval(input).asInstanceOf[ArrayData], n, drop)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val toks = first.genCode(ctx)
    ev.copy(code = code"""
      |${toks.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.TokenNgrams.grams(
      |  ${toks.isNull} ? null : ${toks.value}, $n, $drop);
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object TokenNgrams {

  /** Eval/codegen kernel. Pass 1 slides a (bytes, non-null count) window
    * over the tokens to size the result exactly; pass 2 writes the
    * UnsafeArrayData layout — header, one (offset << 32 | length) slot
    * per window, then each window's bytes padded to a word — into one
    * freshly allocated buffer. */
  def grams(toks: ArrayData, n: Int, drop: Int): ArrayData = {
    val m = if (toks == null) 0 else toks.numElements() - drop
    val windows = m - n + 1
    if (windows <= 0) return UnsafeArrayData.createFreshArray(0, 8)
    val tok = new Array[UTF8String](m)
    var t = 0
    while (t < m) {
      if (!toks.isNullAt(t)) tok(t) = toks.getUTF8String(t)
      t += 1
    }
    val header = UnsafeArrayData.calculateHeaderPortionInBytes(windows)
    var total = header + 8L * windows
    var bytes = 0L
    var nonNull = 0
    t = 0
    while (t < m) {
      if (tok(t) != null) { bytes += tok(t).numBytes(); nonNull += 1 }
      if (t >= n && tok(t - n) != null) { bytes -= tok(t - n).numBytes(); nonNull -= 1 }
      if (t >= n - 1)
        total += ByteArrayMethods.roundNumberOfBytesToNearestWord(
          bytes + math.max(nonNull - 1, 0))
      t += 1
    }
    require(total <= ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH,
      s"graft_ngrams: $windows windows need $total bytes, over the array size limit")
    val buf = new Array[Byte](total.toInt)
    val base = Platform.BYTE_ARRAY_OFFSET
    Platform.putLong(buf, base, windows.toLong)
    var pos = header + 8 * windows
    var w = 0
    while (w < windows) {
      val start = pos
      var sep = false
      var j = 0
      while (j < n) {
        val u = tok(w + j)
        if (u != null) {
          if (sep) { buf(pos) = ' '; pos += 1 }
          u.writeToMemory(buf, base + pos)
          pos += u.numBytes()
          sep = true
        }
        j += 1
      }
      val len = pos - start
      Platform.putLong(buf, base + header + 8L * w, (start.toLong << 32) | len)
      pos = start + ByteArrayMethods.roundNumberOfBytesToNearestWord(len)
      w += 1
    }
    val out = new UnsafeArrayData()
    out.pointTo(buf, base, buf.length)
    out
  }
}
