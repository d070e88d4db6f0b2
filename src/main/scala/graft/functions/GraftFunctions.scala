package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** graft's native SQL functions, declared ONCE as (name, usage, builder)
  * entries: [[GraftFunctions.register]] binds them into one session and
  * [[GraftExtensions]] injects the same entries into every session built
  * with the extension, so the two paths cannot drift apart. */
object GraftFunctions {

  final case class Entry(name: String, usage: String, builder: Seq[Expression] => Expression)

  val entries: Seq[Entry] = Seq(
    Entry("graft_dot",
      "graft_dot(a, b) - dot product of two numeric arrays, accumulated in double",
      exprs => DotProduct(exprs.head, exprs(1))),
    Entry("graft_dot_simd",
      "graft_dot_simd(a, b) - dot product of two float arrays over 256-bit SIMD lanes " +
        "(value-close to graft_dot, not bit-identical)",
      exprs => SimdDot(exprs.head, exprs(1))),
    Entry("graft_simhash",
      "graft_simhash(tokens) - 32-bit SimHash signature of a token array",
      exprs => SimHash(exprs.head)),
    Entry("graft_topk",
      "graft_topk(item, capacity) - SpaceSaving heavy-hitters sketch; " +
        "emits array<struct<item, cnt, err>> sorted by estimated count",
      TopKSketch.build),
    Entry("graft_nfc",
      "graft_nfc(str) - Unicode NFC normalization (canonical composition)",
      exprs => NfcNormalize(exprs.head)),
    Entry("graft_lsh_buckets",
      "graft_lsh_buckets(embedding, planes, bands) - banded sign-plane LSH signature: " +
        "array of `bands` BIGINT bucket ids",
      exprs => LshBuckets(exprs.head, exprs(1), exprs(2))),
    Entry("graft_minhash_buckets",
      "graft_minhash_buckets(tokens, n, k, bands) - banded MinHash signature over the " +
        "n-token shingles of a token array: array of `bands` BIGINT bucket ids",
      exprs => MinHashBuckets(exprs.head, exprs(1), exprs(2), exprs(3))),
    Entry("graft_ngrams",
      "graft_ngrams(tokens, n, drop) - every n-token window of the first " +
        "size(tokens) - drop tokens, in order, each joined by ' '; a NULL token is " +
        "skipped inside its window as concat_ws skips it; fewer than n + drop tokens " +
        "or a NULL array give an empty array",
      {
        case Seq(toks, n, drop) => TokenNgrams(toks, n, drop)
        case other => throw new IllegalArgumentException(
          s"graft_ngrams(tokens, n, drop) takes 3 arguments, got ${other.size}")
      }),
    Entry("graft_bloom_contains",
      "graft_bloom_contains(hash, bloom) - Bloom-filter membership " +
        "test of an xxhash64 value against a serialized sketch (BloomGate.buildBloom)",
      exprs => BloomMightContain(exprs.head, exprs(1))),
    Entry("graft_kll_agg",
      "graft_kll_agg(x[, k]) - mergeable KLL quantile sketch of a " +
        "numeric column, emitted as BINARY (persist per batch, merge later)",
      KllSketchFns.buildAgg),
    Entry("graft_kll_merge",
      "graft_kll_merge(sketch) - union of BINARY KLL sketches",
      exprs => KllMergeAgg(exprs.head)),
    Entry("graft_kll_quantile",
      "graft_kll_quantile(sketch, rank) - estimated value at " +
        "normalized rank in [0,1]; NULL for an empty sketch",
      exprs => KllQuantile(exprs.head, exprs(1))),
    Entry("graft_kll_rank",
      "graft_kll_rank(sketch, x) - estimated normalized rank of a " +
        "value; NULL for an empty sketch",
      exprs => KllRank(exprs.head, exprs(1))),
    Entry("shingles",
      "shingles(tokens, n) - generator of every n-token window of a token array, " +
        "one ' '-joined row per window in order; a window holding a NULL token emits no row",
      exprs => ShingleGenerator(exprs.head, exprs(1).eval(null) match {
        case i: Int  => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"shingles(tokens, n): n must be an integer literal, got $other")
      })),
  )

  /** Catalog metadata for an entry; `source` is "built-in" for the
    * extension path and "scala_udf" for per-session registration. */
  private[functions] def info(e: Entry, source: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, "", e.name, e.usage, "",
      "", "", "", "", "", source)

  // one (info, builder) pair per entry, built once: re-registering the
  // identical pair does not trip the registry's "replaced a previously
  // registered function" warning on every call
  private lazy val registered =
    entries.map(e => (FunctionIdentifier(e.name), info(e, "scala_udf"), e.builder))

  /** Session-scoped registration of every entry. Idempotent — call at
    * the top of any query that uses a graft function. */
  def register(spark: SparkSession): Unit =
    registered.foreach { case (id, i, b) =>
      spark.sessionState.functionRegistry.registerFunction(id, i, b)
    }
}
