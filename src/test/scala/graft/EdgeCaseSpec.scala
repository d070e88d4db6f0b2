package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Operator edge cases over literal DataFrames (SURVEY §5.3): empty
  * inputs, all-null keys, ties, empty join sides, boundary gaps.
  */
class EdgeCaseSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import org.apache.spark.sql.DataFrame

  private def emptyLike(df: DataFrame): DataFrame = df.limit(0)

  test("aggregation over an empty input: global agg yields one row, grouped yields none") {
    import spark.implicits._
    val e = emptyLike(Seq((1L, 1.0)).toDF("k", "v"))
    val global = e.agg(count(lit(1)).as("n"), sum("v").as("s")).collect()
    assert(global.length === 1 && global.head.getLong(0) === 0L && global.head.isNullAt(1))
    assert(e.groupBy("k").agg(sum("v")).count() === 0)
  }

  test("group-by treats NULL as a real key, joins do not match NULL keys") {
    import spark.implicits._
    val df = Seq((Some(1), 1.0), (None, 2.0), (None, 3.0)).toDF("k", "v")
    val groups = df.groupBy("k").agg(sum("v").as("s")).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0))) -> r.getDouble(1)).toMap
    assert(groups(None) === 5.0 && groups(Some(1)) === 1.0)
    val other = Seq((Option.empty[Int], "x")).toDF("k2", "tag")
    assert(df.join(other, df("k") === other("k2")).count() === 0)
    assert(df.join(other, df("k") <=> other("k2")).count() === 2) // null-safe
  }

  test("joins with an empty side: inner empty, left keeps all, anti keeps all") {
    import spark.implicits._
    val left = Seq((1, "a"), (2, "b")).toDF("k", "x")
    val right = emptyLike(Seq((1, "r")).toDF("k2", "y"))
    assert(left.join(right, left("k") === right("k2")).count() === 0)
    assert(left.join(right, left("k") === right("k2"), "left").count() === 2)
    assert(left.join(right, left("k") === right("k2"), "left_anti").count() === 2)
  }

  test("row_number with a full tie still yields distinct ranks via tiebreak") {
    import spark.implicits._
    val df = Seq((1, 10.0, 100L), (1, 10.0, 101L), (1, 10.0, 102L)).toDF("g", "v", "id")
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("id").asc)
    val rns = df.withColumn("rn", row_number().over(w))
      .orderBy("id").select("rn").collect().map(_.getInt(0)).toSeq
    assert(rns === Seq(1, 2, 3))
    // rank() over the tied column alone collapses all three to rank 1
    val wTied = Window.partitionBy("g").orderBy(col("v").desc)
    val rks = df.withColumn("rk", rank().over(wTied)).select("rk").collect().map(_.getInt(0)).toSet
    assert(rks === Set(1))
  }

  test("sessionize boundary: a gap of exactly the threshold does NOT split") {
    import spark.implicits._
    val gap = 1800000000L // 30 min in µs
    val df = Seq((1L, 1L, 0L), (1L, 2L, gap), (1L, 3L, gap + gap + 1))
      .toDF("user_id", "event_id", "ts_us")
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val sessions = df
      .withColumn("new_s", when(col("ts_us") - lag("ts_us", 1).over(w) > gap, 1).otherwise(0))
      .agg(sum("new_s")).head().getLong(0) + 1
    // event2 at exactly the gap stays in session 1; event3 (gap+1 later) splits
    assert(sessions === 2)
  }

  test("set ops on empty and overlapping inputs") {
    import spark.implicits._
    val a = Seq(1, 2, 3).toDF("k")
    val e = emptyLike(a)
    assert(a.except(e).count() === 3)
    assert(e.except(a).count() === 0)
    assert(a.intersect(e).count() === 0)
    assert(a.unionByName(e).count() === 3)
    // exceptAll vs except on duplicates
    val d = Seq(1, 1, 2).toDF("k")
    assert(d.except(Seq(1).toDF("k")).count() === 1)     // {2}
    assert(d.exceptAll(Seq(1).toDF("k")).count() === 2)  // {1, 2}
  }

  test("0-row parquet scan round-trips schema") {
    val dir = java.nio.file.Files.createTempDirectory("empty").toString + "/t"
    val src = Tables.region(spark, "/root/testdata/sf0.001").limit(0)
    src.write.parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() === 0 && back.schema === src.schema)
  }

  test("graft_dot on empty and mismatched-length arrays") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_dot(CAST(array() AS ARRAY<FLOAT>), CAST(array() AS ARRAY<FLOAT>)) AS e, " +
        "graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT))) AS m").head()
    assert(r.getDouble(0) === 0.0)
    assert(r.getDouble(1) === 3.0) // min-length semantics
  }

  test("trainCodebook degeneracies: k >= n collapses to n cells; nprobe past |cells| caps") {
    import spark.implicits._
    import graft.operators.VectorOps
    graft.functions.GraftFunctions.register(spark)
    // 5 vectors, k=16 seeds: codebook can hold at most 5 cells (and may
    // shrink further when a cell loses every member) — search must still
    // return the full corpus ranking, and probing past |cells| must not
    // error (slice caps at the array length)
    val rnd = new scala.util.Random(3)
    def unit(v: Array[Double]) = { val s = math.sqrt(v.map(x => x * x).sum); v.map(_ / s) }
    val e = (0L until 5L).map(i =>
      (i, (i % 2).toString, unit(Array.fill(8)(rnd.nextGaussian())).map(_.toFloat)))
      .toDF("vec_id", "label", "embedding")
    val cb = VectorOps.trainCodebook(e, k = 16, iters = 2)
    val nCells = cb.count()
    assert(nCells >= 1 && nCells <= 5, s"expected 1..5 cells from 5 vectors, got $nCells")
    val hits = VectorOps.knnIvfOn(e, nprobe = 99, k = 10, codebook = Some(cb)).count()
    assert(hits === 4, s"nprobe past |cells| must degenerate to all 4 non-query rows, got $hits")
  }

  test("ANN sim-join on a single-label corpus returns k neighbors per vector") {
    import spark.implicits._
    import graft.operators.VectorOps
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(5)
    def unit(v: Array[Double]) = { val s = math.sqrt(v.map(x => x * x).sum); v.map(_ / s) }
    val e = (0L until 12L).map(i =>
      (i, "only", unit(Array.fill(8)(rnd.nextGaussian())).map(_.toFloat)))
      .toDF("vec_id", "label", "embedding")
    // cells=2, nprobe=2: probes cover every cell, so all 11 same-label
    // candidates are reachable and each vector gets a full top-3
    val out = VectorOps.simJoinTopkAnn(e, cells = 2, nprobe = 2, k = 3)
    assert(out.count() === 36, "12 vectors x top-3 expected with full probe coverage")
    val rns = out.groupBy("va").agg(max("rn").as("m")).select("m")
      .collect().map(_.getInt(0)).toSet
    assert(rns === Set(3))
  }

  test("SQ8 quantization edge: the all-zero vector is filtered, not divided by zero") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // mirror the q_knn_sq8 / q_embed_quantize scale guard on a literal frame
    val df = Seq(
      (1L, Array(0.0f, 0.0f, 0.0f)),
      (2L, Array(0.5f, -1.0f, 0.25f))).toDF("vec_id", "embedding")
      .withColumn("scale",
        expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(CAST(x AS DOUBLE)))) / 127.0"))
      .where(col("scale") > 0)
      .withColumn("q8", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS TINYINT))"))
    val rows = df.select(col("vec_id"), expr("q8[1]").as("qmin")).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(2L))
    assert(rows.head.getByte(1) === (-127).toByte, "max-magnitude component must hit -127")
  }

  test("q_scd2: valid type-2 dimension — one current row, chained half-open ranges, real transitions") {
    val sf = "/root/testdata/sf0.001"
    val dim = SparkEntry.queries("q_scd2")(spark, sf).collect()
    assert(dim.nonEmpty)
    val byCust = dim.groupBy(_.getLong(0))
    byCust.foreach { case (cust, rows) =>
      // exactly one open (current) row per customer
      assert(rows.count(_.getBoolean(5)) === 1, s"customer $cust current-row count")
      // rows chain: each non-current eff_to equals the NEXT row's eff_from
      // (rows come back ordered by eff_from, o_orderkey)
      rows.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.get(4) === b.get(3),
            s"customer $cust: range chain broken at ${a.get(3)}")
          // consecutive rows must be genuine transitions
          assert(a.getString(2) !== b.getString(2),
            s"customer $cust: consecutive rows share status ${a.getString(2)}")
        case _ =>
      }
    }
    // compression: change rows never exceed events, and statuses survive
    val nOrders = Tables.orders(spark, sf).count()
    assert(dim.length <= nOrders)
  }

  test("scd2Apply: incremental merge equals the from-scratch rebuild; stale batches fail loudly") {
    import graft.operators.Reshape
    val sf = "/root/testdata/sf0.001"
    val all = Tables.orders(spark, sf)
      .select("o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate")
    // global time split on DISTINCT dates (not events): every batch
    // event is then strictly later than every t0 date — including each
    // customer's open-row eff_from — so the merge precondition holds by
    // construction even when many orders share the boundary date.
    import org.apache.spark.sql.expressions.Window
    val t0dates = all.select("o_orderdate").distinct()
      .withColumn("pct", org.apache.spark.sql.functions.percent_rank()
        .over(Window.orderBy(col("o_orderdate"))))
      .where(col("pct") <= 0.7).drop("pct")
    val t0 = all.join(t0dates, Seq("o_orderdate")).select(all.columns.map(col): _*)
    val batch = all.join(t0dates, Seq("o_orderdate"), "left_anti")
    assert(t0.count() > 0 && batch.count() > 0)
    val merged = Reshape.scd2Apply(Reshape.scd2Build(t0), batch)
      .orderBy("o_custkey", "eff_from", "o_orderkey").collect().toSeq
    val full = Reshape.scd2Build(all)
      .orderBy("o_custkey", "eff_from", "o_orderkey").collect().toSeq
    assert(merged === full, "incremental merge diverged from the from-scratch dimension")
    // a batch reaching into closed history must be rejected, not merged
    val stale = intercept[IllegalArgumentException] {
      Reshape.scd2Apply(Reshape.scd2Build(all), t0.limit(1))
    }
    assert(stale.getMessage.contains("rebuild"))
  }

  test("embed-LSH build validates the WHOLE corpus: empty and mixed-dim corpora fail loudly") {
    import graft.operators.VectorOps
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("elsh_guard").toString
    // empty corpus: a clear message, not a bare NoSuchElementException
    val empty = Seq.empty[(Long, String, Array[Float])].toDF("vec_id", "label", "embedding")
    val exEmpty = intercept[IllegalArgumentException] {
      VectorOps.writeEmbedLshIndex(spark, empty, s"$dir/a")
    }
    assert(exEmpty.getMessage.contains("empty"))
    // mixed dims ANYWHERE in the corpus (not just the first row): the
    // null-padded zip_with would otherwise sign the odd row into a
    // quietly-wrong bucket — the build must refuse
    val mixed = Seq(
      (1L, "x", Array.fill(16)(0.25f)),
      (2L, "x", Array.fill(16)(0.25f)),
      (3L, "x", Array.fill(8)(0.35f))).toDF("vec_id", "label", "embedding")
    val exMixed = intercept[IllegalArgumentException] {
      VectorOps.writeEmbedLshIndex(spark, mixed, s"$dir/b")
    }
    assert(exMixed.getMessage.contains("mixed"))
    // an append with a wrong-dim row buried mid-batch fails too (the
    // one-row sample of earlier rounds would have passed it through)
    VectorOps.writeEmbedLshIndex(spark,
      Seq((1L, "x", Array.fill(16)(0.25f))).toDF("vec_id", "label", "embedding"), s"$dir/c")
    val exApp = intercept[IllegalArgumentException] {
      VectorOps.appendToEmbedLshIndex(spark, mixed, s"$dir/c")
    }
    assert(exApp.getMessage.contains("dimension"))

    // the IVF, PQ and IVFADC builds validate the whole corpus the same
    // way, before their rebuild marker goes up: a refused build over a
    // serving index leaves it serving
    graft.functions.GraftFunctions.register(spark)
    val good = Seq(
      (1L, "x", Array.fill(16)(0.25f)),
      (2L, "y", Array.tabulate(16)(i => if (i < 8) 0.35f else -0.35f)),
      (3L, "x", Array.tabulate(16)(i => if (i % 2 == 0) 0.35f else -0.35f)))
      .toDF("vec_id", "label", "embedding")
    val builds = Seq[(String, (org.apache.spark.sql.DataFrame, String) => Unit, String => Long)](
      ("IVF", (c, d) => VectorOps.writeIvfIndex(c, cells = 2, dir = d),
        d => VectorOps.readIvfIndex(spark, d)._2.count()),
      ("PQ", (c, d) => VectorOps.writePqIndex(c, m = 4, ks = 2, dir = d),
        d => VectorOps.readPqIndex(spark, d)._2.count()),
      ("IVFADC", (c, d) => VectorOps.writeIvfPqIndex(c, cells = 2, m = 4, ks = 2, dir = d),
        d => VectorOps.readIvfPqIndex(spark, d)._3.count()))
    for ((family, build, stored) <- builds) {
      val at = s"$dir/$family"
      build(good, at)
      val e1 = intercept[IllegalArgumentException](build(empty, at))
      assert(e1.getMessage.contains(s"$family build") && e1.getMessage.contains("empty"),
        e1.getMessage)
      val e2 = intercept[IllegalArgumentException](build(mixed, at))
      assert(e2.getMessage.contains(s"$family build") && e2.getMessage.contains("mixed"),
        e2.getMessage)
      assert(stored(at) === 3L, s"$family: the refused builds left the index unreadable")
    }
  }

  test("ivfSearchBatch edges: empty query table, nprobe past |cells|, k past corpus") {
    import graft.operators.VectorOps
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(9)
    def unit(): Array[Float] = {
      val v = Array.fill(8)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum); v.map(x => (x / n).toFloat)
    }
    val corpus = (0 until 30).map(i => (i.toLong, (i % 4).toString, unit()))
      .toDF("vec_id", "label", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivfb_edge").toString
    VectorOps.writeIvfIndex(corpus, cells = 4, dir = dir)
    val (cb, postings) = VectorOps.readIvfIndex(spark, dir)
    // empty query table: empty result, no crash
    val empty = Seq.empty[(Long, Array[Float])].toDF("qid", "embedding")
    assert(VectorOps.ivfSearchBatch(cb, postings, empty).count() === 0L)
    // nprobe past |cells| caps at a full probe (slice past the ranked
    // array's end just yields every cell); k past the corpus returns
    // everything reachable, rn dense from 1
    val q = Seq((0L, corpus.where(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray)).toDF("qid", "embedding")
    val all = VectorOps.ivfSearchBatch(cb, postings, q, nprobe = 99, k = 1000)
      .collect().map(r => (r.getLong(1), r.getInt(4)))
    assert(all.length === 29, s"full probe should reach every other vector: ${all.length}")
    assert(all.map(_._2).sorted.toSeq === (1 to 29), "rn not dense")
    assert(!all.map(_._1).contains(0L), "query matched its own corpus row")
    // invalid dials fail loudly
    intercept[IllegalArgumentException] {
      VectorOps.ivfSearchBatch(cb, postings, q, nprobe = 0)
    }
    intercept[IllegalArgumentException] {
      VectorOps.ivfSearchBatch(cb, postings, q, k = 0)
    }
  }

  test("budgetCut edges: all-equal scores (hi==lo), sub-first-doc budget, empty input") {
    import graft.operators.CurationOps
    import spark.implicits._
    // all-equal scores exercise the hi==lo single-chunk guard (the
    // range-bucket divisor would otherwise be zero); the cut is then
    // purely doc_id-ordered and still a gapless prefix
    val flat = Seq((1L, 10L, 0.5), (2L, 10L, 0.5), (3L, 10L, 0.5))
      .toDF("doc_id", "n_tok", "score")
    val cut = CurationOps.budgetCut(flat, budget = 20L)
      .orderBy("cum_tok").collect()
    assert(cut.map(_.getLong(0)).toSeq === Seq(1L, 2L),
      "equal scores must cut in doc_id order")
    assert(cut.map(_.getAs[Long]("cum_tok")).toSeq === Seq(10L, 20L))
    // a budget smaller than the first (best) doc keeps nothing — and
    // does not crash or keep a partial doc
    assert(CurationOps.budgetCut(flat, budget = 5L).count() === 0)
    // empty input flows through as empty (the bounds row is all-null)
    assert(CurationOps.budgetCut(flat.limit(0), budget = 100L).count() === 0)
    // invalid budgets are refused loudly
    intercept[IllegalArgumentException] { CurationOps.budgetCut(flat, budget = 0L) }
  }

  test("subquery temp views do not accrete in the catalog across invocations") {
    val sf = "/root/testdata/sf0.001"
    // run the view-backed subquery operators repeatedly — each invocation
    // creates a uniquely-named view and must drop it after analysis
    (1 to 3).foreach { _ =>
      assert(SparkEntry.queries("q_subquery_scalar")(spark, sf).count() > 0)
      assert(SparkEntry.queries("q_subquery_correlated")(spark, sf).count() > 0)
    }
    val leaked = spark.catalog.listTables().collect()
      .filter(t => t.name.startsWith("orders_sq") || t.name.startsWith("customer_sq"))
    assert(leaked.isEmpty, s"leaked temp views: ${leaked.map(_.name).mkString(", ")}")
  }

  // ------------------------------------------------------------------
  // r18 faces at their boundaries: composed takedown on absent/empty
  // targets, ledger dup-rate on a never-written dir, hybrid retrieval
  // on an empty query batch, TextIndex empty-delta and empty-corpus
  // phrase semantics.
  // ------------------------------------------------------------------

  test("composed takedown against an absent landed table: tombstones land, nothing crashes") {
    import graft.sources.{AssetIngest, Tombstones}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("tk_absent").toString
    val r = AssetIngest.takedown(spark, s"$base/never_landed", s"$base/idx",
      Seq(7L).toDF("id"), "doc_id", sketchDir = Some(s"$base/sink"),
      keys = Seq("source"))
    assert(r.removed === 0L)
    assert(Tombstones.read(spark, s"$base/idx").get
      .collect().map(_.getLong(0)).toSeq === Seq(7L),
      "the index half of the takedown must land even with no payload to delete")
    // no victims were ever landed, so no annotation row either - and the
    // adjustments read is an empty frame with the declared schema
    val adj = AssetIngest.takedownAdjustments(spark, s"$base/sink", Seq("source"))
    assert(adj.columns.toSeq === Seq("source", "rows_removed", "size_removed"))
    assert(adj.count() === 0L)
    // RE-ISSUE (r18 advice): the first call's WriterLock created the
    // landed root holding only the lock file; a retried takedown's
    // annotation block must read that as "nothing landed", never crash
    // on parquet schema inference over a data-less directory
    val r2 = AssetIngest.takedown(spark, s"$base/never_landed", s"$base/idx",
      Seq(7L).toDF("id"), "doc_id", sketchDir = Some(s"$base/sink"),
      keys = Seq("source"))
    assert(r2.removed === 0L && r2.takedownId === r.takedownId)
  }

  test("takedown retried after the LAST partition died: annotation sees an empty root, no crash") {
    import graft.sources.AssetIngest
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("tk_emptied").toString
    val (idx, data, sink) = (s"$base/idx", s"$base/data", s"$base/sink")
    val batch = Seq((1L, "src0", (1 to 60).map(t => s"a$t").mkString(" ")),
      (2L, "src1", (1 to 60).map(t => s"b$t").mkString(" ")))
      .toDF("doc_id", "source", "text")
    AssetIngest.ingestTextBatch(spark, batch, idx, data, batchId = Some("w0"))
    val ids = Seq(1L, 2L).toDF("id")
    val r1 = AssetIngest.takedown(spark, s"$data/docs", idx, ids, "doc_id",
      sketchDir = Some(sink), keys = Seq("source"), sizeMetric = col("n_tok"))
    assert(r1.removed === 2L)
    // every partition is gone; the root holds only the writer-lock file —
    // the r18-advice edge the annotation guard must absorb
    val r2 = AssetIngest.takedown(spark, s"$data/docs", idx, ids, "doc_id",
      sketchDir = Some(sink), keys = Seq("source"), sizeMetric = col("n_tok"))
    assert(r2.removed === 0L && r2.takedownId === r1.takedownId)
    val adj = AssetIngest.takedownAdjustments(spark, sink, Seq("source")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(adj === Map("src0" -> 1L, "src1" -> 1L),
      "the retry must not inflate or lose the original annotation")
  }

  test("dupRateFromLedger on a never-appended sink fails loudly, not emptily") {
    val base = java.nio.file.Files.createTempDirectory("dr_absent").toString
    val e = intercept[RuntimeException] {
      graft.operators.CurationOps.dupRateFromLedger(spark, base).collect()
    }
    assert(e.getMessage.contains("no meta"))
  }

  test("hybrid retrieval with an empty query batch returns empty, not an error") {
    import graft.operators.VectorOps
    import graft.sources.TextIndex
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("hybrid_empty").toString
    val sf = "/root/testdata/sf0.001"
    TextIndex.build(spark, s"$base/tidx", Tables.documents(spark, sf))
    VectorOps.writeIvfIndex(Tables.embeddings(spark, sf), cells = 4, dir = s"$base/ivf")
    val out = VectorOps.hybridSearchBatch(spark, s"$base/tidx", s"$base/ivf",
      Seq.empty[(Long, Array[Float])].toDF("qid", "embedding"),
      Seq.empty[(Long, String)].toDF("qid", "term"), k = 5)
    assert(out.count() === 0L)
  }

  test("an empty TextIndex delta changes no search answer; empty-corpus phrase is empty") {
    import graft.sources.TextIndex
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("tidx_edge").toString + "/idx"
    TextIndex.build(spark, dir, docs)
    val before = TextIndex.searchBm25(spark, dir, Seq("query", "join"), 10)
      .collect().toSeq
    val phraseBefore = TextIndex.searchPhrase(spark, dir, Seq("join", "order"), 10)
      .collect().toSeq
    TextIndex.append(spark, dir, docs.where(lit(false)))
    assert(TextIndex.status(spark, dir).deltaSegments === 1)
    assert(TextIndex.searchBm25(spark, dir, Seq("query", "join"), 10)
      .collect().toSeq === before, "an empty delta moved a BM25 answer")
    assert(TextIndex.searchPhrase(spark, dir, Seq("join", "order"), 10)
      .collect().toSeq === phraseBefore, "an empty delta moved a phrase answer")
    // compaction folds the empty segment away harmlessly
    assert(TextIndex.compactTextIndex(spark, dir) === Seq(1L))
    assert(TextIndex.searchBm25(spark, dir, Seq("query", "join"), 10)
      .collect().toSeq === before)
    // empty-corpus index: phrase search returns empty cleanly
    val empty = java.nio.file.Files.createTempDirectory("tidx_empty").toString + "/idx"
    TextIndex.build(spark, empty, docs.where(lit(false)))
    assert(TextIndex.searchPhrase(spark, empty, Seq("join", "order"), 5).count() === 0L)
  }
}
