package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row banded MinHash signature straight from the TOKEN array:
  * `graft_minhash_buckets(toks, n, k, bands)` → the ordered array of
  * `bands` BIGINT bucket ids the MinHash index keys on.
  *
  * Structural point (SURVEY §4.3, the 100 TB argument): the recipe this
  * replaces signed a corpus by EXPLODING every n-gram shingle through the
  * ShingleGenerator and folding the rows back with the MinHashAgg UDAF —
  * correct, and the shuffle only carried k longs per doc (map-side
  * combine), but the signing stage still materialized one row per shingle
  * and ended in a groupBy(doc_id) exchange. This expression computes the
  * same signature INSIDE the row — signing becomes a map-only projection
  * with NO exchange — and builds each shingle's UTF-8 bytes directly in a
  * scratch buffer (token bytes joined by 0x20), so the hot loop allocates
  * nothing: no shingle strings, no HOF lambdas, no generator rows. (A
  * first r11 draft consumed a pre-built shingle ARRAY; the
  * transform/concat_ws/array_distinct HOF chain that built it cost more
  * than the signing — Catalyst inlines split(text, ' ') into the lambda,
  * so every element_at re-split the document — so shingling moved into
  * the kernel. The refine tier, which needs the shingle strings
  * themselves, builds them with the one-pass `graft_ngrams` kernel
  * (TokenNgrams, via DedupOps.shingleExpr). The two kernels differ only
  * on NULL tokens — this one skips the window, graft_ngrams skips the
  * token as concat_ws does — and `split` tokens are never NULL.)
  *
  * Bit-compatibility contract (CustomFunctionsSpec pins it): per hash
  * index i, sig_i = min over distinct shingles t of
  * xxhash64(concat(cast(i AS STRING), t)) — XxHash64Function, seed 42,
  * UTF-8 bytes, identical to MinHashAgg.reduce and to the retired HOF
  * recipes (`min` ignores shingle multiplicity, so signing every window
  * equals signing the distinct set); per band b, bucket_b =
  * xxhash64(concat_ws(',', [cast(sig AS STRING)...])) — identical to the
  * pre-r11 banding hash. A window holding a NULL token is skipped whole,
  * exactly as ShingleGenerator emits no row for it (r12: an earlier
  * draft hashed the window's non-null remainder concat_ws-style — a
  * divergence CustomFunctionsSpec's null-token case now forbids). The
  * bit-compatibility claim is scoped to SIGNATURE BITS: any two frames
  * signed with the same (k, bands) — by this kernel, by the retired
  * generator/UDAF pipeline, before or after r11 — carry identical
  * bucket values and are join-compatible. It says nothing about STORED
  * index layout, which changed in r11 (flat bands/hashes →
  * grouped cbuckets); layout compatibility is governed by the `layout`
  * stamp in each index's meta (IndexMeta.requireLayout), not by this
  * kernel.
  *
  * Shingle-less docs (< n tokens) are the CALLER's job to filter (every
  * call site guards on token count, matching the old pipeline where a
  * generator-less doc simply had no group): signing one here would give
  * every such doc the same degenerate all-MaxValue signature — a
  * band-bucket flood of mutual false candidates. The same degenerate
  * signature falls out of a doc whose every window holds a null token
  * (zero shingles survive); unreachable via split(text, ' ') tokens,
  * which are never null, but public-SQL callers passing hand-built
  * arrays should filter such rows like any other shingle-less doc. A
  * NULL token ARRAY yields NULL.
  */
case class MinHashBuckets(first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_minhash_buckets"

  override def checkInputDataTypes(): TypeCheckResult = {
    val toksOk = first.dataType match {
      case ArrayType(StringType, _) => true
      case _ => false
    }
    val intsOk = Seq(second, third, fourth).forall(e =>
      e.dataType == IntegerType && e.foldable)
    if (toksOk && intsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<string>, foldable int n, foldable int k, " +
        s"foldable int bands), got (${first.dataType.sql}, ${second.dataType.sql}, " +
        s"${third.dataType.sql}, ${fourth.dataType.sql})")
  }

  @transient private lazy val n: Int = {
    val nn = second.eval(null).asInstanceOf[Int]
    require(nn > 0, s"$prettyName: shingle size must be positive, got $nn")
    nn
  }

  @transient private lazy val k: Int = {
    val kk = third.eval(null).asInstanceOf[Int]
    require(kk > 0, s"$prettyName: k must be positive, got $kk")
    kk
  }

  @transient private lazy val bands: Int = {
    val b = fourth.eval(null).asInstanceOf[Int]
    require(b > 0 && k % b == 0,
      s"$prettyName: bands ($b) must be positive and divide k ($k)")
    b
  }

  override def nullSafeEval(toks: Any, nIn: Any, kIn: Any, bandsIn: Any): Any =
    MinHashBuckets.buckets(toks.asInstanceOf[ArrayData], n, k, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _, _, _) =>
      s"${ev.value} = graft.functions.MinHashBuckets.buckets($a, $n, $k, $bands);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

object MinHashBuckets {

  // salt prefixes "0".."k-1" (cached per k) and a per-thread scratch
  // buffer — the MinHashAgg allocation discipline extended to the
  // shingle bytes themselves: steady-state the loop allocates nothing
  @transient private lazy val scratch: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](512))

  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Array[Byte]]]()

  private def prefixesFor(k: Int): Array[Array[Byte]] =
    prefixCache.computeIfAbsent(k, kk => Array.tabulate(kk)(
      _.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** Eval/codegen kernel. Buffer layout per shingle: the widest salt
    * prefix's bytes reserve [0, maxP); the shingle bytes are assembled
    * ONCE at [maxP, maxP + len); each of the k hashes copies its (1-2
    * byte) prefix to [maxP - |p|) and hashes the contiguous
    * [maxP - |p|, maxP + len) span — k hashes per shingle, one shingle
    * assembly, zero allocation. */
  def buckets(toks: ArrayData, n: Int, k: Int, bands: Int): ArrayData = {
    val prefixes = prefixesFor(k)
    val maxP = prefixes(k - 1).length
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val nToks = toks.numElements()
    // token bytes fetched once per window step would refetch n-1 of them;
    // fetch each token's bytes once up front instead (small arrays — the
    // UTF8String copies are unavoidable through ArrayData's API)
    val tokBytes = new Array[Array[Byte]](nToks)
    var t = 0
    while (t < nToks) {
      tokBytes(t) = if (toks.isNullAt(t)) null else toks.getUTF8String(t).getBytes
      t += 1
    }
    var arr = scratch.get()
    var w = 0
    while (w + n <= nToks) {
      // assemble ' '-joined toks[w..w+n) at offset maxP; a window holding
      // a null token is skipped whole — ShingleGenerator semantics (it
      // emits no row for such a window), pinned by CustomFunctionsSpec's
      // null-token case
      var len = 0
      var j = 0
      var hasNull = false
      while (j < n && !hasNull) {
        val tb = tokBytes(w + j)
        if (tb == null) hasNull = true
        else {
          val need = maxP + len + tb.length + 1
          if (arr.length < need) {
            val bigger = new Array[Byte](math.max(need, arr.length * 2))
            System.arraycopy(arr, 0, bigger, 0, maxP + len)
            arr = bigger
            scratch.set(arr)
          }
          if (j > 0) { arr(maxP + len) = ' '; len += 1 }
          System.arraycopy(tb, 0, arr, maxP + len, tb.length)
          len += tb.length
        }
        j += 1
      }
      if (!hasNull) {
        var i = 0
        while (i < k) {
          val p = prefixes(i)
          System.arraycopy(p, 0, arr, maxP - p.length, p.length)
          val h = XxHash64Function.hash(
            UTF8String.fromBytes(arr, maxP - p.length, p.length + len), StringType, 42L)
          if (h < sig(i)) sig(i) = h
          i += 1
        }
      }
      w += 1
    }
    val r = k / bands
    val out = new Array[Long](bands)
    val sbuf = new java.lang.StringBuilder(24 * r)
    var b = 0
    while (b < bands) {
      sbuf.setLength(0)
      var q = 0
      while (q < r) {
        if (q > 0) sbuf.append(',')
        sbuf.append(sig(b * r + q))
        q += 1
      }
      out(b) = XxHash64Function.hash(
        UTF8String.fromString(sbuf.toString), StringType, 42L)
      b += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}
