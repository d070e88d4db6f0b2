package graft

import graft.functions.{GraftFunctions, MinHashAgg}
import graft.operators.VectorOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The custom Catalyst pieces must be drop-in equivalent to the declarative
  * forms they replace — bit-identical, not approximately equal.
  */
class CustomFunctionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("graft_dot is bit-identical to the zip_with/aggregate HOF") {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sf)
    val q = e.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val both = e.crossJoin(broadcast(q))
      .select(
        col("vec_id"),
        expr("graft_dot(embedding, qv)").as("native"),
        expr(VectorOps.dotExpr("embedding", "qv")).as("hof"))
    assert(both.where(col("native") =!= col("hof")).count() === 0)
  }

  test("graft_dot handles double arrays and mixed float/double") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(2.0, 0.5, 1.0))).toDF("f", "dd")
    val r = df.select(
      expr("graft_dot(f, dd)").as("fd"),
      expr("graft_dot(dd, dd)").as("ddd"),
      expr("graft_dot(f, f)").as("ff")).head()
    assert(r.getDouble(0) === 1.0 * 2.0 + 2.0 * 0.5 + 3.0 * 1.0)
    assert(r.getDouble(1) === 4.0 + 0.25 + 1.0)
    assert(r.getDouble(2) === 1.0 + 4.0 + 9.0)
  }

  test("graft_dot int8 fast path: exact integer accumulate, codegen == interpreted") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // Seq[Byte], not Array[Byte] — Spark encodes Array[Byte] as BINARY,
    // Seq[Byte] as array<tinyint> (what SQ8 vectors are)
    val df = Seq((Seq[Byte](1, 2, -3, 127), Seq[Byte](4, 5, 6, -127)))
      .toDF("a", "b")
    // 4 + 10 - 18 - 16129 = -16133, exact in the long accumulator
    val codegen = df.select(expr("graft_dot(a, b)")).head().getDouble(0)
    assert(codegen === -16133.0)
    val prevWsc = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interpreted = df.select(expr("graft_dot(a, b)")).head().getDouble(0)
      assert(interpreted === codegen)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", prevWsc)
    // quantize-then-dot round trip: SQ8 approximation of a unit dot stays
    // within the coarse error bound the rerank design assumes
    val e = Tables.embeddings(spark, sf)
    val eq = e.withColumn("scale",
        expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(CAST(x AS DOUBLE)))) / 127.0"))
      .where(col("scale") > 0)
      .withColumn("q8", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS TINYINT))"))
    val q = eq.where(col("vec_id") === 0)
      .select(col("q8").as("qq8"), col("scale").as("qscale"), col("embedding").as("qf"))
    val err = eq.crossJoin(broadcast(q))
      .select(abs(expr("graft_dot(q8, qq8)") * col("scale") * col("qscale") -
        expr("graft_dot(embedding, qf)")).as("err"))
      .agg(max("err")).head().getDouble(0)
    assert(err < 0.02, s"SQ8 dot error too large for a 100-candidate rerank: $err")
  }

  test("graft_dot returns null on null input") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT graft_dot(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT)))").head()
    assert(r.isNullAt(0))
  }

  /** Run `f` on a second session over the SAME SparkContext, built only
    * `.withExtensions(new GraftExtensions)` — the production injection
    * path (spark.sql.extensions), no register() call. Suites run
    * sequentially in this forked JVM (testForkedParallel is off), so the
    * clear/restore of the default session cannot race. */
  private def withExtensionSession(f: SparkSession => Unit): Unit = {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      f(SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate())
    } finally {
      // the session shares the SparkContext — never stop it; just restore
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("GraftExtensions wires the native functions into a session at build time") {
    withExtensionSession { s2 =>
      val r = s2.sql(
        "SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
          "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d, " +
          "graft_simhash(array('a', 'b')) AS s").head()
      assert(r.getDouble(0) === 11.0)
      GraftFunctions.register(spark)
      val expected = spark.sql("SELECT graft_simhash(array('a', 'b'))").head().getLong(0)
      assert(r.getLong(1) === expected,
        "extension-injected simhash disagrees with the register() path")
      // the generator is injected too: 3 tokens -> 2 bigram shingles
      val sh = s2.sql("SELECT shingle FROM (SELECT shingles(array('a','b','c'), 2))")
        .collect().map(_.getString(0)).toSeq
      assert(sh === Seq("a b", "b c"))
      // catalog-visible with a usage string
      val desc = s2.sql("DESCRIBE FUNCTION graft_simhash")
        .collect().map(_.getString(0)).mkString("\n")
      assert(desc.toLowerCase.contains("graft_simhash"))
    }
  }

  test("every function GraftFunctions.register binds also resolves in an extension-only session") {
    // the names register() binds, read off a fresh session's registry
    val fresh = spark.newSession()
    val before = fresh.sessionState.functionRegistry.listFunction().toSet
    GraftFunctions.register(fresh)
    val bound = fresh.sessionState.functionRegistry.listFunction().toSet -- before
    assert(bound.map(_.funcName) === GraftFunctions.entries.map(_.name).toSet)
    assert(bound.exists(_.funcName == "graft_ngrams"))
    // the same calls must resolve and agree on both paths
    val probe =
      "SELECT graft_ngrams(array('a', 'b', 'c', 'd'), 2, 1) AS ng, " +
        "graft_minhash_buckets(array('a', 'b', 'c', 'd'), 3, 4, 2) AS mh, " +
        "graft_lsh_buckets(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)), " +
        "array(array(1.0D, 0.0D), array(0.0D, 1.0D)), 1) AS lsh, " +
        "graft_dot_simd(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS simd"
    val viaRegister = fresh.sql(probe).head()
    withExtensionSession { s2 =>
      val missing = bound.filterNot(s2.sessionState.functionRegistry.functionExists)
      assert(missing.isEmpty, s"bound by register() but absent from GraftExtensions: $missing")
      val viaExtension = s2.sql(probe).head()
      assert(viaExtension === viaRegister)
      assert(viaExtension.getSeq[String](0) === Seq("a b", "b c"))
      assert(viaExtension.getDouble(3) === 11.0)
    }
  }

  test("graft_simhash is bit-identical to the explode/bit-vote recipe it replaced") {
    GraftFunctions.register(spark)
    // the pre-expression declarative shape, inlined as the oracle: per
    // token, 32 (bit, ±1-vote) rows; sig = sum(shiftleft(1, bit)) over
    // strictly-positive vote sums — INT shiftleft, so bit 31 contributes
    // -2^31, which the expression must reproduce exactly
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val recipe = toks
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .withColumn("h", xxhash64(col("token")))
      .select(col("doc_id"),
        explode(expr("transform(sequence(0, 31), b -> " +
          "named_struct('bit', b, 'v', CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1 ELSE -1 END))")).as("bv"))
      .groupBy(col("doc_id"), col("bv.bit").as("bit"))
      .agg(sum("bv.v").as("s"))
      .groupBy("doc_id")
      .agg(sum(when(col("s") > 0, expr("shiftleft(1, bit)")).otherwise(0)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = toks.select(col("doc_id"), expr("graft_simhash(toks)").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native.nonEmpty && native === recipe)
    // null array -> null; empty array -> all votes 0 (not > 0) -> sig 0
    val edge = spark.sql(
      "SELECT graft_simhash(CAST(NULL AS ARRAY<STRING>)) AS a, " +
        "graft_simhash(CAST(array() AS ARRAY<STRING>)) AS b").head()
    assert(edge.isNullAt(0) && edge.getLong(1) === 0L)
  }

  test("graft_topk keeps every true heavy hitter with sound count bounds, across partitions") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // skewed stream: h1 x 300, h2 x 150, h3 x 60, tail of 200 singletons.
    // n = 710, capacity 16 => anything with true count > n/16 ≈ 44 MUST
    // be monitored (SpaceSaving guarantee), including after the partial
    // sketches built on 8 partitions merge through the shuffle.
    val items = Seq.fill(300)("h1") ++ Seq.fill(150)("h2") ++ Seq.fill(60)("h3") ++
      (0 until 200).map(i => s"t$i")
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val df = scala.util.Random.shuffle(items).toDF("item").repartition(8)
    val sketch = df.agg(expr("graft_topk(item, 16)").as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.cnt"), col("e.err"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val monitored = sketch.map(_._1).toSet
    Seq("h1", "h2", "h3").foreach(h =>
      assert(monitored.contains(h), s"heavy hitter $h missing from sketch: $monitored"))
    assert(sketch.length <= 16)
    sketch.foreach { case (item, cnt, err) =>
      val t = truth(item)
      assert(cnt >= t, s"$item: estimate $cnt underestimates true $t")
      assert(cnt - err <= t, s"$item: lower bound ${cnt - err} exceeds true $t")
    }
    // the top of the sketch ranks the heavies correctly
    assert(sketch.take(2).map(_._1).toSeq === Seq("h1", "h2"))
  }

  test("graft_topk is exact (err 0) while distinct items fit the capacity") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq("a", "b", "a", "c", "a", "b").toDF("item").repartition(3)
    val got = df.agg(expr("graft_topk(item, 16)").as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item"), col("e.cnt"), col("e.err"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq(("a", 3L, 0L), ("b", 2L, 0L), ("c", 1L, 0L)))
  }

  test("graft_topk rejects non-positive capacities in both literal widths") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // the Int branch used to pass any Int through to TopKBuffer, where
    // the SpaceSaving recycle path on an empty map overflows minCnt —
    // both integer widths must hit the same [1, Int.MaxValue] guard
    val df = Seq("a").toDF("item")
    for (capSql <- Seq("0", "-3", "CAST(0 AS BIGINT)")) {
      val e = intercept[Exception] {
        df.agg(expr(s"graft_topk(item, $capSql)")).collect()
      }
      def rootMsgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: rootMsgs(x.getCause))
      assert(rootMsgs(e).exists(m => m != null && m.contains("out of range")),
        s"capacity $capSql did not hit the range guard: $e")
    }
  }

  test("MinHashAgg matches the HOF signature recipe of q_dedup_minhash") {
    import spark.implicits._
    val shingles = Seq("a b c", "b c d", "c d e")
    // HOF recipe: per salt i, min over xxhash64(concat(i, shingle)).
    val hofSig = spark.sql(
      s"SELECT transform(sequence(0, 15), i -> array_min(transform(" +
        s"array(${shingles.map(x => s"'$x'").mkString(",")}), " +
        "t -> xxhash64(concat(cast(i AS STRING), t))))) AS sig")
      .head().getSeq[Long](0)
    val aggSig = shingles.toDS()
      .select(udaf(new MinHashAgg(16)).apply(col("value")).as("sig"))
      .head().getSeq[Long](0)
    assert(hofSig === aggSig)
  }

  test("MinHashAgg merges partial signatures associatively") {
    val agg = new MinHashAgg(8)
    val full = Seq("x", "y", "z").foldLeft(agg.zero)(agg.reduce)
    val left = Seq("x").foldLeft(agg.zero)(agg.reduce)
    val right = Seq("y", "z").foldLeft(agg.zero)(agg.reduce)
    assert(agg.merge(left, right).toSeq === full.toSeq)
  }

  test("graft_nfc: composes decomposed forms, identity on ASCII and NFC input, null-safe") {
    GraftFunctions.register(spark)
    val decomposed = "Cafe\u0301" // e + combining acute, 6 bytes
    val composed = "Caf\u00e9"    // precomposed e-acute, 5 bytes
    // decomposed composes; composed input unchanged; ASCII fast path
    // returns the input; idempotent; null in -> null out
    val r = spark.sql(
      s"SELECT graft_nfc('$decomposed') AS comp, graft_nfc('$composed') AS already, " +
        s"graft_nfc('plain ascii') AS ascii, graft_nfc(graft_nfc('$decomposed')) AS idem, " +
        "graft_nfc(CAST(NULL AS STRING)) AS n").head()
    assert(r.getString(0) === composed)
    assert(r.getString(1) === composed)
    assert(r.getString(2) === "plain ascii")
    assert(r.getString(3) === composed)
    assert(r.isNullAt(4))
    // byte lengths differ pre/post composition: the expression really
    // rewrote bytes, not just display
    val lens = spark.sql(
      s"SELECT octet_length('$decomposed'), octet_length(graft_nfc('$decomposed'))").head()
    assert(lens.getInt(0) === 6 && lens.getInt(1) === 5)
    // codegen and interpreted paths agree on a corpus-wide fold
    val df = Tables.documents(spark, sf).selectExpr("graft_nfc(text) AS n", "text")
    assert(df.where(col("n") =!= col("text")).count() === 0L)
  }

  test("graft_dot_simd: Panama kernel live in this JVM, value-close to graft_dot corpus-wide") {
    GraftFunctions.register(spark)
    // build.sbt forks tests with --add-modules jdk.incubator.vector, so
    // the probe must have taken the vector path here — if this fails the
    // A/B below silently measured scalar-vs-scalar
    assert(graft.simd.SimdBridge.simdActive())
    val e = Tables.embeddings(spark, sf)
    val q = e.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val both = e.crossJoin(broadcast(q))
      .select(
        expr("graft_dot(embedding, qv)").as("seq"),
        expr("graft_dot_simd(embedding, qv)").as("simd"))
    // reassociation bound: unit vectors, dim 64 — lane sums differ from
    // the sequential fold only in f32 rounding, |Δ| well under 1e-5
    assert(both.where(abs(col("seq") - col("simd")) > 1e-5).count() === 0L)
    // and NOT necessarily bit-identical — that's why the oracle tier
    // keeps graft_dot (no assertion either way; the contract is the bound)
  }

  test("graft_dot_simd: lane boundaries, tails, empty, length mismatch, null") {
    GraftFunctions.register(spark)
    import graft.simd.SimdBridge
    // every alignment regime of the 256-bit/8-lane kernel: below one
    // lane, exactly one lane, between lanes, the 2x-unroll boundary (16),
    // beyond it, and a large odd size
    for (n <- Seq(0, 1, 7, 8, 9, 15, 16, 17, 24, 31, 64, 257)) {
      val a = Array.tabulate(n)(i => ((i * 37 % 19) - 9) / 7.0f)
      val b = Array.tabulate(n)(i => ((i * 53 % 17) - 8) / 5.0f)
      val seq = SimdBridge.scalarDot(a, b)
      val simd = SimdBridge.dot(a, b)
      assert(math.abs(seq - simd) <= 1e-5 * (1.0 + math.abs(seq)), s"n=$n")
    }
    // min-length semantics match graft_dot; nulls propagate
    val r = spark.sql(
      "SELECT graft_dot_simd(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)), " +
        "array(CAST(2.0 AS FLOAT))) AS mis, " +
        "graft_dot_simd(array(CAST(1.0 AS FLOAT)), CAST(NULL AS ARRAY<FLOAT>)) AS n, " +
        "graft_dot_simd(CAST(array() AS ARRAY<FLOAT>), CAST(array() AS ARRAY<FLOAT>)) AS empty").head()
    assert(r.getDouble(0) === 2.0)
    assert(r.isNullAt(1))
    assert(r.getDouble(2) === 0.0)
    // deterministic across invocations (pinned species — the cross-host
    // determinism argument needs at least same-host repeatability)
    val a = Array.tabulate(1000)(i => math.sin(i.toDouble).toFloat)
    assert(SimdBridge.dot(a, a) === SimdBridge.dot(a, a))
    // the fallback fold is bit-identical to graft_dot's sequential
    // accumulation (same arithmetic, proven against the SQL engine)
    val viaSql = spark.sql(
      "SELECT graft_dot(array(CAST(0.1 AS FLOAT), CAST(0.2 AS FLOAT), CAST(0.3 AS FLOAT)), " +
        "array(CAST(0.4 AS FLOAT), CAST(0.5 AS FLOAT), CAST(0.6 AS FLOAT)))").head().getDouble(0)
    assert(SimdBridge.scalarDot(Array(0.1f, 0.2f, 0.3f), Array(0.4f, 0.5f, 0.6f)) === viaSql)
    // the A/B-record int8 kernel is bit-identical to the scalar long fold
    // (integer addition is associative — the property that made its
    // rejection purely a performance call, see SimdKernels scaladoc)
    for (n <- Seq(0, 5, 16, 17, 64, 300)) {
      val ba = Array.tabulate(n)(i => ((i * 89 % 255) - 127).toByte)
      val bb = Array.tabulate(n)(i => ((i * 31 % 255) - 127).toByte)
      assert(SimdBridge.dotI8(ba, bb) === SimdBridge.scalarDotI8(ba, bb), s"int8 n=$n")
    }
  }

  test("graft_lsh_buckets is bit-identical to the HOF signing recipe, degenerate inputs included") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val nPlanes = 32; val bands = 4; val dim = 16; val seed = 42L
    val planes = VectorOps.lshPlanes(nPlanes, dim, seed)
    val r = nPlanes / bands
    val rnd = new scala.util.Random(17)
    // random vectors (unnormalized on purpose) + the HOF's degenerate
    // algebra cases: short, long, empty, and null embeddings
    val rows: Seq[(Long, Array[Float])] =
      (0L until 200L).map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat))) ++
        Seq((900L, Array.fill(dim - 3)(0.5f)), (901L, Array.fill(dim + 2)(0.5f)),
          (902L, Array.empty[Float]), (903L, null))
    val df = rows.toDF("vec_id", "embedding")
    // the exact recipe lshBucketsOf used before the native expression
    val hof = df
      .withColumn("sig",
        transform(typedlit(planes), pl =>
          when(aggregate(
            zip_with(col("embedding"), pl, (x, y) => x.cast("double") * y),
            lit(0.0), (acc, v) => acc + v) >= 0, 1).otherwise(0)))
      .withColumn("hof", expr(
        s"transform(sequence(0, ${bands - 1}), b -> aggregate(" +
          s"slice(sig, b * $r + 1, $r), CAST(0 AS BIGINT), (acc, x) -> acc * 2 + x))"))
    val both = hof.withColumn("native",
      call_function("graft_lsh_buckets", col("embedding"), typedlit(planes), lit(bands)))
    // bit-identical wherever the embedding is non-null (valid AND
    // wrong-dim rows — the all-zero-bucket algebra included)
    assert(both.where(col("embedding").isNotNull &&
      not(col("native") <=> col("hof"))).count() === 0,
      both.where(not(col("native") <=> col("hof"))).select("vec_id").collect().mkString(","))
    val byId = both.select("vec_id", "native").collect()
      .map(r2 => r2.getLong(0) -> Option(r2.getSeq[Long](1))).toMap
    // the ONE deliberate divergence: the HOF signed a NULL embedding into
    // all-zero buckets (its transform runs over the non-null planes
    // literal) — a bug-shaped algebra where nulls band-match each other;
    // the native expression propagates NULL like every other graft
    // function, and probe explodes then drop the row
    assert(byId(903L).isEmpty)
    Seq(900L, 901L, 902L).foreach { id =>
      assert(byId(id).get === Seq.fill(bands)(0L), s"vec $id")
    }
  }

  test("graft_minhash_buckets is bit-identical to the explode+MinHashAgg+bucket-hash pipeline") {
    GraftFunctions.register(spark)
    import graft.operators.DedupOps
    import spark.implicits._
    val k = 16; val bands = 4; val r = k / bands
    // real corpus text + handcrafted docs: repeated shingles (multiplicity
    // must not matter to min), unicode tokens, a short doc at the 3-token
    // shingle boundary
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .where(col("doc_id") < 60)
      .unionByName(Seq(
        (9001L, "a b c a b c a b c"),
        (9002L, "\u00e9t\u00e9 caf\u00e9 na\u00efve \u00e9t\u00e9 caf\u00e9 jalape\u00f1o"),
        (9003L, "x y z")).toDF("doc_id", "text"))
      .withColumn("toks", split(col("text"), " "))
    // the pre-r11 pipeline, verbatim: shingle generator -> MinHashAgg ->
    // per-band xxhash64 bucket ids
    val minhash = udaf(new MinHashAgg(k))
    val old = docs
      .select(col("doc_id"), expr("shingles(toks, 3)").as("shingle"))
      .groupBy("doc_id")
      .agg(minhash(col("shingle")).as("sig"))
      .select(col("doc_id"),
        expr(s"transform(sequence(0, ${bands - 1}), b -> xxhash64(concat_ws(',', " +
          s"transform(slice(sig, b * $r + 1, $r), x -> cast(x AS STRING)))))")
          .as("old_buckets"))
    val native = docs
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"),
        call_function("graft_minhash_buckets", col("toks"), lit(3), lit(k), lit(bands))
          .as("native_buckets"))
    val joined = old.join(native, Seq("doc_id"), "full_outer")
    // same doc coverage (shingle-less docs absent from BOTH paths: the
    // generator emits no group, the native path filters size(sh) > 0)
    assert(joined.where(col("old_buckets").isNull || col("native_buckets").isNull)
      .count() === 0,
      joined.where(col("old_buckets").isNull || col("native_buckets").isNull)
        .collect().mkString(" | "))
    assert(joined.where(not(col("old_buckets") <=> col("native_buckets"))).count() === 0,
      joined.where(not(col("old_buckets") <=> col("native_buckets")))
        .select("doc_id").collect().mkString(","))
    // null array propagates
    val nr = Seq((1L, null.asInstanceOf[Array[String]])).toDF("doc_id", "toks")
      .select(call_function("graft_minhash_buckets", col("toks"), lit(3), lit(k), lit(bands)))
      .head()
    assert(nr.isNullAt(0))
  }

  test("graft_minhash_buckets null-token windows match ShingleGenerator (skipped whole)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val k = 16; val bands = 4; val r = k / bands
    // null mid-array: windows touching the null must be skipped WHOLE
    // (ShingleGenerator emits no row for them), never hashed as the
    // window's non-null remainder — the pre-r12 concat_ws-style
    // divergence this test forbids
    val docs = Seq(
      (1L, Array[String]("a", "b", "c", null, "d", "e", "f", "g")),
      (2L, Array[String](null, "x", "y", "z")),
      (3L, Array[String]("p", "q", "r", "s", null))).toDF("doc_id", "toks")
    val minhash = udaf(new MinHashAgg(k))
    val old = docs
      .select(col("doc_id"), expr("shingles(toks, 3)").as("shingle"))
      .groupBy("doc_id")
      .agg(minhash(col("shingle")).as("sig"))
      .select(col("doc_id"),
        expr(s"transform(sequence(0, ${bands - 1}), b -> xxhash64(concat_ws(',', " +
          s"transform(slice(sig, b * $r + 1, $r), x -> cast(x AS STRING)))))")
          .as("old_buckets"))
    val native = docs
      .select(col("doc_id"),
        call_function("graft_minhash_buckets", col("toks"), lit(3), lit(k), lit(bands))
          .as("native_buckets"))
    val joined = old.join(native, Seq("doc_id"), "inner")
    assert(joined.count() === 3L)
    assert(joined.where(not(col("old_buckets") <=> col("native_buckets"))).count() === 0,
      joined.where(not(col("old_buckets") <=> col("native_buckets")))
        .collect().mkString(" | "))
    // a doc whose EVERY window holds a null yields zero shingles: the
    // generator path drops the doc (no group), the per-row kernel cannot
    // drop a row, so it signs the degenerate all-MaxValue signature —
    // identical across such docs, which is why callers must filter them
    // like any other shingle-less doc (see the scaladoc)
    val degen = Seq(
      (10L, Array[String]("a", null, "b")),
      (11L, Array[String]("zzz", null, "qqq"))).toDF("doc_id", "toks")
    val degenOld = degen
      .select(col("doc_id"), expr("shingles(toks, 3)").as("shingle"))
    assert(degenOld.count() === 0L)
    val sigs = degen
      .select(call_function("graft_minhash_buckets", col("toks"), lit(3), lit(k), lit(bands))
        .as("b"))
      .collect().map(_.getSeq[Long](0))
    assert(sigs(0) === sigs(1))
  }

  /** The HOF n-gram recipe graft_ngrams replaced, kept as its reference:
    * windows of the first size(c) - drop tokens, 1-based element_at,
    * CASE-guarded so short arrays yield an empty array. */
  private def hofNgrams(c: String, n: Int, drop: Int): String = {
    val last = s"size($c) - ${n - 1 + drop}"
    val window = (0 until n).map(j => if (j == 0) s"element_at($c, i)" else s"element_at($c, i + $j)")
    s"CASE WHEN $last >= 1 THEN transform(sequence(1, $last), " +
      s"i -> concat_ws(' ', ${window.mkString(", ")})) ELSE array() END"
  }

  test("graft_ngrams equals the transform/concat_ws HOF recipe, interpreted and codegen") {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}
    val handmade: Seq[Seq[String]] =
      // empty, then shorter than, equal to and longer than n + drop for
      // every (n, drop) below (n + drop runs 3..11)
      (0 to 13).map(m => (0 until m).map(i => s"t$i")) ++ Seq(
        Seq.fill(6)(Seq("a", "b")).flatten, // repeated windows
        Seq("", "", "x", "", "", "", "y", "", "", "", ""), // split() of runs of spaces
        Seq("a", null, "b", "c", null, null, null, "d", "e", "f", null, "g"), // NULL elements
        Seq.fill(9)(null), // every window all-NULL
        Seq("\u00e9t\u00e9", "caf\u00e9", "na\u00efve", "\u65e5\u672c\u8a9e", "\ud83d\ude42",
          "\u03a9mega", "\u00e9t\u00e9", "caf\u00e9", "na\u00efve", "\u65e5\u672c\u8a9e",
          "\ud83d\ude42")) // multi-byte UTF-8, repeated
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("toks", ArrayType(StringType, containsNull = true))))
    val rows = handmade.zipWithIndex.map { case (t, i) => Row(i.toLong, t) } :+
      Row(999L, null) // NULL array
    // through parquet, so the projection really runs in the executor
    // (a local relation would be folded by the optimizer's interpreter)
    val dir = java.nio.file.Files.createTempDirectory("graft-ngrams").toString + "/t"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .unionByName(Tables.documents(spark, sf).where(col("doc_id") < 40)
        .select((col("doc_id") + 10000).as("id"), split(col("text"), " ").as("toks")))
      .write.parquet(dir)
    val cases = for (n <- Seq(3, 5, 8); drop <- Seq(0, 3); distinct <- Seq(false, true))
      yield (n, drop, distinct)
    // the kernel and the recipe run as separate frames, so the kernel's
    // frame stays one whole-stage-codegen stage in codegen mode
    def frame(build: (Int, Int) => String): org.apache.spark.sql.DataFrame =
      spark.read.parquet(dir).select(col("id") +: cases.map { case (n, drop, distinct) =>
        expr(if (distinct) s"array_distinct(${build(n, drop)})" else build(n, drop))
      }: _*)
    def byId(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Seq[String]]] =
      df.collect().map(r => r.getLong(0) -> cases.indices.map(c => r.getSeq[String](1 + c))).toMap
    def check(mode: String): Unit = {
      val kernel = frame((n, drop) => s"graft_ngrams(toks, $n, $drop)")
      val recipe = frame((n, drop) => hofNgrams("toks", n, drop))
      assert(kernel.schema.map(_.dataType) === recipe.schema.map(_.dataType))
      assert(kernel.schema.drop(1).forall(_.dataType == ArrayType(StringType, containsNull = false)))
      val got = byId(kernel)
      val want = byId(recipe)
      assert(got.size === rows.length + 40)
      for ((id, grams) <- want; c <- cases.indices)
        assert(got(id)(c) === grams(c), s"$mode id=$id (n, drop, distinct)=${cases(c)}")
      // the law is not vacuous: windows exist, and a NULL array gets []
      assert(got.values.exists(_.head.nonEmpty))
      assert(got(999L).forall(_.isEmpty))
      val code = org.apache.spark.sql.execution.debug.codegenString(kernel.queryExecution.executedPlan)
      assert(code.contains("graft.functions.TokenNgrams.grams") === (mode == "codegen"),
        s"$mode: whole-stage codegen presence of the kernel call")
    }
    val keys = Seq("spark.sql.ansi.enabled", "spark.sql.codegen.wholeStage",
      "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    try {
      for (ansi <- Seq("true", "false"); mode <- Seq("codegen", "interpreted")) {
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        spark.conf.set("spark.sql.codegen.wholeStage", (mode == "codegen").toString)
        spark.conf.set("spark.sql.codegen.factoryMode",
          if (mode == "codegen") "CODEGEN_ONLY" else "NO_CODEGEN")
        check(mode)
      }
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // pinned by hand as well: NULL tokens skipped inside the window
    // (concat_ws), an all-NULL window is '', the window order kept
    val pinned = spark.sql("SELECT graft_ngrams(array('a', NULL, 'b', 'c'), 2, 0), " +
      "graft_ngrams(array(NULL, NULL, 'z'), 2, 1), graft_ngrams(array('x'), 1, 1)").head()
    assert(pinned.getSeq[String](0) === Seq("a", "b", "b c"))
    assert(pinned.getSeq[String](1) === Seq(""))
    assert(pinned.getSeq[String](2) === Seq.empty)
    val bad = intercept[Exception] {
      spark.sql("SELECT graft_ngrams(array('a'), 0, 0)").collect()
    }
    assert(bad.getMessage.contains("n must be positive"), bad.getMessage)
    val nonLiteral = intercept[Exception] {
      spark.sql("SELECT graft_ngrams(array('a'), id, 0) FROM range(1)").collect()
    }
    assert(nonLiteral.getMessage.contains("foldable int n"), nonLiteral.getMessage)
  }

  test("graft_kll: quantile/rank bounds on a known distribution, partition-merge law") {
    GraftFunctions.register(spark)
    // uniform 0..N-1 over 8 partitions: exact normalized rank of value v
    // is (v+1)/N (inclusive criteria), so every estimate is checkable in
    // RANK space — the space KLL's contract actually bounds (~1.65% at
    // k=200; 3% slack for the randomized compaction)
    val n = 100000
    val xs = spark.range(n).toDF("x").repartition(8)
    xs.createOrReplaceTempView("kll_xs")
    val oneShot = spark.sql(
      """SELECT graft_kll_quantile(sk, 0.5d) AS p50,
        |       graft_kll_rank(sk, 25000.0d) AS r25
        |FROM (SELECT graft_kll_agg(x) AS sk FROM kll_xs)""".stripMargin).head()
    assert(math.abs(oneShot.getDouble(0) / n - 0.5) <= 0.03,
      s"p50 estimate ${oneShot.getDouble(0)} outside rank bound")
    assert(math.abs(oneShot.getDouble(1) - 0.25) <= 0.03,
      s"rank(25000) estimate ${oneShot.getDouble(1)} outside bound")
    // merge law: 8 per-partition sketches unioned == one-shot, within
    // the same bound; and the merged sketch must carry the DATA k (200),
    // not the merge buffer's k=8 shell — the shell-adoption law that
    // keeps per-group buffers tiny without capping accuracy
    val mergedBytes = spark.sql(
      """SELECT graft_kll_merge(sk) FROM (
        |  SELECT pmod(x, 8) AS p, graft_kll_agg(x) AS sk FROM kll_xs GROUP BY 1
        |)""".stripMargin).head().getAs[Array[Byte]](0)
    val merged = graft.functions.KllSketchFns.heapify(mergedBytes)
    assert(merged.getK === 200, s"merged sketch k=${merged.getK}: shell adoption broken")
    assert(merged.getN === n.toLong, "merge lost or duplicated weight")
    assert(math.abs(merged.getQuantile(0.5) / n - 0.5) <= 0.03)
  }

  test("graft_kll: null/empty semantics and argument validation") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // nulls are skipped by the agg; an all-null group yields an EMPTY
    // sketch whose quantile/rank are NULL (not an error)
    val df = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)), ("b", None))
      .toDF("g", "v")
    val rows = df.groupBy("g")
      .agg(expr("graft_kll_agg(v)").as("sk"))
      .select(col("g"), expr("graft_kll_quantile(sk, 1.0d)").as("hi"),
        expr("graft_kll_rank(sk, 0.0d)").as("lo"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rows("a").getDouble(1) === 3.0, "two non-null values: max must be exact")
    assert(rows("b").isNullAt(1) && rows("b").isNullAt(2),
      "empty sketch must yield NULL, not throw")
    // k is a sized-before-first-row parameter: literal only, in range
    val e1 = intercept[Exception] {
      df.select(expr("graft_kll_agg(v, 4)")).collect()
    }
    assert(e1.getMessage.contains("[8, 65535]"), s"bad message: ${e1.getMessage}")
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_kll_agg(cast(g AS double), cast(v AS int)) " +
        "FROM (SELECT 'x' g, 1.0 v)").collect()
    }
    assert(e2.getMessage.toLowerCase.contains("literal"), s"bad message: ${e2.getMessage}")
    val e3 = intercept[Exception] {
      df.select(expr("graft_kll_agg(g)")).collect()
    }
    assert(e3.getMessage.toLowerCase.contains("numeric"), s"bad message: ${e3.getMessage}")
    val e4 = intercept[Exception] {
      df.select(expr("graft_kll_quantile(cast(g AS binary), 1.5d)")).collect()
    }
    assert(e4.getMessage.contains("[0, 1]"), s"bad message: ${e4.getMessage}")
  }
}
