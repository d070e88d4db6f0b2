package graft

import java.nio.file.{Files, Paths}

import graft.sources.{GenStamp, TextIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Laws for the persisted inverted index (TextIndex): bucket-twin
  * equality, indexed == scan scoring, the rebuild crash fence, pruning,
  * and existence semantics. All on sf0.001.
  */
class TextIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private def docs: DataFrame = Tables.documents(spark, sf)

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"textidx_$tag").toString + "/idx"

  test("driver-side bucket twin equals the column hash over the real vocabulary") {
    val terms = docs
      .select(explode(split(col("text"), " ")).as("term"))
      .where(length(col("term")) > 0)
      .distinct().limit(500)
      .withColumn("b_col", TextIndex.bucketOf(col("term")))
      .collect()
    assert(terms.nonEmpty)
    terms.foreach { r =>
      val t = r.getString(0)
      assert(TextIndex.bucketOfTerm(t) === r.getInt(1),
        s"bucket twin diverged for term '$t'")
    }
  }

  /** Scan-path BM25 twin — byte-for-byte the q_text_search_bm25 plan
    * with a parameterized term set. */
  private def scanBm25(terms: Seq[String], k: Int): DataFrame = {
    val d = docs
    val qtok = d
      .select(col("doc_id"), size(split(col("text"), " ")).as("dl"),
        explode(split(col("text"), " ")).as("term"))
      .where(col("term").isin(terms: _*))
    val tf = qtok.groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dft = qtok.groupBy("term").agg(countDistinct(col("doc_id")).as("dfc"))
    val stats = d.agg(count(lit(1)).as("n"),
      avg(size(split(col("text"), " ")).cast("double")).as("avgdl"))
    tf.join(broadcast(dft), "term").crossJoin(broadcast(stats))
      .withColumn("w",
        log((col("n").cast("double") - col("dfc") + 0.5) / (col("dfc") + 0.5) + 1.0) *
          (col("tf") * 2.2) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(round(sum("w"), 4).as("score"), count(lit(1)).as("matched"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  test("indexed BM25 equals the scan path exactly, for several term sets") {
    val dir = freshDir("bm25")
    TextIndex.build(spark, dir, docs)
    for (terms <- Seq(Seq("query", "join", "table"), Seq("spark"),
        Seq("data", "vector", "stream", "spark"))) {
      val idx = TextIndex.searchBm25(spark, dir, terms, 25).collect().toSeq
      val scan = scanBm25(terms, 25).collect().toSeq
      assert(idx === scan, s"indexed vs scan BM25 diverged for terms $terms")
      assert(idx.nonEmpty)
    }
  }

  test("indexed tf-idf matches an independently computed score") {
    val dir = freshDir("tfidf")
    TextIndex.build(spark, dir, docs)
    val terms = Seq("query", "join")
    val idx = TextIndex.searchTfIdf(spark, dir, terms, 10).collect()
    // independent twin: q_text_search's scoring shape
    val qtok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .where(col("term").isin(terms: _*))
    val tf = qtok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dft = qtok.groupBy("term").agg(countDistinct(col("doc_id")).as("dfc"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scan = tf.join(broadcast(dft), "term").crossJoin(broadcast(n))
      .withColumn("w", col("tf") * log(col("n").cast("double") / col("dfc")))
      .groupBy("doc_id")
      .agg(round(sum("w"), 6).as("score"), count(lit(1)).as("matched"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10).collect()
    assert(idx === scan)
  }

  test("a crashed rebuild fails the next search loudly; a re-run heals it") {
    val dir = freshDir("crash")
    TextIndex.build(spark, dir, docs)
    // simulate a build that died between beginRebuild and completeRebuild
    GenStamp.beginRebuild(spark, dir)
    val e = intercept[IllegalArgumentException] {
      TextIndex.searchBm25(spark, dir, Seq("query"), 5).collect()
    }
    assert(e.getMessage.contains("TextIndex.build"))
    assert(!TextIndex.exists(spark, dir))
    TextIndex.build(spark, dir, docs) // the documented recovery
    assert(TextIndex.exists(spark, dir))
    assert(TextIndex.searchBm25(spark, dir, Seq("query"), 5).count() === 5)
  }

  test("pruned postings read touches fewer files than the layout total") {
    val dir = freshDir("prune")
    TextIndex.build(spark, dir, docs)
    val all = spark.read.parquet(TextIndex.postingsPath(dir))
    val total = all.select(col("_metadata.file_path")).distinct().count()
    val kept = TextIndex.postingsFor(spark, dir, Seq("query", "join"))
      .select(col("_metadata.file_path")).distinct().count()
    assert(kept < total, s"pruned read touched all $total files")
    assert(kept >= 1)
  }

  test("empty or absent term sets return empty results, not errors") {
    val dir = freshDir("empty")
    TextIndex.build(spark, dir, docs)
    assert(TextIndex.postingsFor(spark, dir, Nil).count() === 0)
    assert(TextIndex.searchBm25(spark, dir, Seq("zzz_not_a_token"), 5).count() === 0)
  }

  test("batch retrieval equals the per-query single search, qid by qid") {
    import spark.implicits._
    val dir = freshDir("batch")
    TextIndex.build(spark, dir, docs)
    val qs = Seq((1L, "query"), (1L, "join"), (2L, "data"), (2L, "stream"),
      (3L, "table"), (3L, "spark"), (4L, "zzz_absent"))
    val batch = TextIndex.searchBatchBm25(spark, dir, qs.toDF("qid", "term"), 10)
      .collect().groupBy(_.getLong(0))
    qs.groupBy(_._1).foreach { case (qid, rows) =>
      val single = TextIndex.searchBm25(spark, dir, rows.map(_._2), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      val got = batch.getOrElse(qid, Array.empty)
        .sortBy(_.getInt(1))
        .map(r => (r.getLong(2), r.getDouble(3), r.getLong(4)))
      assert(got.toSeq === single.toSeq, s"qid $qid batch vs single diverged")
    }
    // the all-absent query contributes no rows, not an error
    assert(!batch.contains(4L))
  }

  test("an empty-corpus build leaves a readable empty index, not a schema-less husk") {
    val dir = freshDir("emptycorpus")
    TextIndex.build(spark, dir, docs.where(lit(false)))
    assert(TextIndex.exists(spark, dir))
    assert(TextIndex.searchBm25(spark, dir, Seq("query"), 5).count() === 0)
    assert(TextIndex.postingsFor(spark, dir, Seq("query")).count() === 0)
    // a rebuild over real data replaces it cleanly
    TextIndex.build(spark, dir, docs)
    assert(TextIndex.searchBm25(spark, dir, Seq("query"), 5).count() === 5)
  }

  test("exists: false before build, true after, false for a marker husk") {
    val dir = freshDir("exists")
    assert(!TextIndex.exists(spark, dir))
    TextIndex.build(spark, dir, docs)
    assert(TextIndex.exists(spark, dir))
    GenStamp.beginRebuild(spark, dir)
    assert(!TextIndex.exists(spark, dir))
  }

  // ------------------------------------------------------------------
  // Incremental maintenance (r18): delta segments + merge-on-read +
  // compaction. The central law: build(A) + append(B) + append(C)
  // answers every search exactly as build(A ∪ B ∪ C) would, and
  // compactTextIndex folds the segments into a base whose TABLES are
  // row-identical to the one-shot build's.
  // ------------------------------------------------------------------

  private def termSets = Seq(Seq("query", "join", "table"), Seq("spark"),
    Seq("data", "vector", "stream", "spark"), Seq("zzz_not_a_token"))

  private def assertSearchesEqual(dirA: String, dirB: String, note: String): Unit = {
    import spark.implicits._
    for (terms <- termSets) {
      assert(TextIndex.searchBm25(spark, dirA, terms, 25).collect().toSeq ===
        TextIndex.searchBm25(spark, dirB, terms, 25).collect().toSeq,
        s"$note: BM25 diverged for $terms")
      assert(TextIndex.searchTfIdf(spark, dirA, terms, 25).collect().toSeq ===
        TextIndex.searchTfIdf(spark, dirB, terms, 25).collect().toSeq,
        s"$note: tf-idf diverged for $terms")
    }
    val qs = Seq((1L, "query"), (1L, "join"), (2L, "data"), (2L, "stream"),
      (3L, "table"), (3L, "spark")).toDF("qid", "term")
    assert(TextIndex.searchBatchBm25(spark, dirA, qs, 10).collect().toSeq ===
      TextIndex.searchBatchBm25(spark, dirB, qs, 10).collect().toSeq,
      s"$note: batch BM25 diverged")
    for (phrase <- Seq(Seq("join", "order"), Seq("the", "fast", "key")))
      assert(TextIndex.searchPhrase(spark, dirA, phrase, 20).collect().toSeq ===
        TextIndex.searchPhrase(spark, dirB, phrase, 20).collect().toSeq,
        s"$note: phrase search diverged for $phrase")
  }

  private def postingsRows(dir: String): Seq[String] =
    spark.read.parquet(TextIndex.postingsPath(dir))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"),
        col("positions"), col("term_bucket").cast("int"))
      .collect().map(_.toString).sorted.toSeq

  test("build + append + append answers searches exactly as the one-shot rebuild") {
    val inc = freshDir("inc")
    val oneshot = freshDir("oneshot")
    TextIndex.build(spark, inc, docs.where(col("doc_id") % 3 === 0))
    TextIndex.append(spark, inc, docs.where(col("doc_id") % 3 === 1))
    TextIndex.append(spark, inc, docs.where(col("doc_id") % 3 === 2))
    TextIndex.build(spark, oneshot, docs)
    assertSearchesEqual(inc, oneshot, "merge-on-read")
  }

  test("compactTextIndex folds deltas into a base row-identical to the one-shot build") {
    val inc = freshDir("fold")
    val oneshot = freshDir("fold1s")
    TextIndex.build(spark, inc, docs.where(col("doc_id") % 3 === 0))
    TextIndex.append(spark, inc, docs.where(col("doc_id") % 3 === 1))
    TextIndex.append(spark, inc, docs.where(col("doc_id") % 3 === 2))
    TextIndex.build(spark, oneshot, docs)
    assert(TextIndex.compactTextIndex(spark, inc) === Seq(1L, 2L))
    // deltas gone, stage/manifest debris gone, fence lifted
    val fs = new org.apache.hadoop.fs.Path(inc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$inc/deltas")) ||
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$inc/deltas")).isEmpty)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$inc/_compact_stage")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$inc/_compact_manifest")))
    assert(TextIndex.exists(spark, inc))
    // table-level equality with the one-shot build
    assert(postingsRows(inc) === postingsRows(oneshot))
    val sInc = spark.read.parquet(TextIndex.statsPath(inc)).collect().toSeq
    val sOne = spark.read.parquet(TextIndex.statsPath(oneshot)).collect().toSeq
    assert(sInc === sOne, "merged stats must be bit-equal to the one-shot build's")
    assertSearchesEqual(inc, oneshot, "post-compaction")
    // a second compaction is a no-op
    assert(TextIndex.compactTextIndex(spark, inc) === Nil)
  }

  test("a crashed append leaves only ignorable debris; the next append GCs it") {
    val dir = freshDir("appcrash")
    TextIndex.build(spark, dir, docs.where(col("doc_id") % 2 === 0))
    // simulate: a delta staged but never renamed (crash before commit)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/deltas/_tmp_1"))
    val clean = freshDir("appclean")
    TextIndex.build(spark, clean, docs.where(col("doc_id") % 2 === 0))
    assertSearchesEqual(dir, clean, "tmp debris must be invisible")
    TextIndex.append(spark, dir, docs.where(col("doc_id") % 2 === 1))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/deltas/_tmp_1")),
      "the next append must GC crashed-append debris")
    TextIndex.append(spark, clean, docs.where(col("doc_id") % 2 === 1))
    assertSearchesEqual(dir, clean, "post-GC append")
  }

  test("compaction crash windows: pre-marker discards, post-marker heals forward") {
    val oneshot = freshDir("cconeshot")
    TextIndex.build(spark, oneshot, docs)
    // window 1: stage + manifest committed, marker never rose — sources
    // intact, searches unaffected, re-run folds cleanly
    val w1 = freshDir("ccw1")
    TextIndex.build(spark, w1, docs.where(col("doc_id") % 2 === 0))
    TextIndex.append(spark, w1, docs.where(col("doc_id") % 2 === 1))
    TextIndex.failDuringCompact = 1
    intercept[IllegalStateException](TextIndex.compactTextIndex(spark, w1))
    assertSearchesEqual(w1, oneshot, "window-1 crash must not affect reads")
    assert(TextIndex.compactTextIndex(spark, w1) === Seq(1L))
    assert(postingsRows(w1) === postingsRows(oneshot))
    // window 2: marker up, swap not run — reads fail LOUDLY, the re-run
    // heals forward from the complete stage
    val w2 = freshDir("ccw2")
    TextIndex.build(spark, w2, docs.where(col("doc_id") % 2 === 0))
    TextIndex.append(spark, w2, docs.where(col("doc_id") % 2 === 1))
    TextIndex.failDuringCompact = 2
    intercept[IllegalStateException](TextIndex.compactTextIndex(spark, w2))
    val e = intercept[IllegalArgumentException](
      TextIndex.searchBm25(spark, w2, Seq("query"), 5).collect())
    assert(e.getMessage.contains("TextIndex.build"))
    // the heal runs at the next compact's head; folded ids were already
    // manifested, so the re-run reports no NEW folds — but the tables
    // must land identical to the one-shot build
    TextIndex.compactTextIndex(spark, w2)
    assert(TextIndex.exists(spark, w2))
    assert(postingsRows(w2) === postingsRows(oneshot))
    assertSearchesEqual(w2, oneshot, "window-2 heal")
    // window 3 (r19 advice): tables swapped + tombstones cleared, fence
    // NOT yet lifted. Before the fix the manifest died before the fence
    // lifted, so this state read as an unhealable crashed BUILD; now the
    // manifest outlives the fence and the heal re-runs the tail.
    val w3 = freshDir("ccw3")
    TextIndex.build(spark, w3, docs.where(col("doc_id") % 2 === 0))
    TextIndex.append(spark, w3, docs.where(col("doc_id") % 2 === 1))
    TextIndex.failDuringCompact = 3
    intercept[IllegalStateException](TextIndex.compactTextIndex(spark, w3))
    val e3 = intercept[IllegalArgumentException](
      TextIndex.searchBm25(spark, w3, Seq("query"), 5).collect())
    assert(e3.getMessage.contains("TextIndex.build"), "window-3 reads fail loudly")
    TextIndex.heal(spark, w3)
    assert(TextIndex.exists(spark, w3), "window-3 heal must finish the tail")
    assert(postingsRows(w3) === postingsRows(oneshot))
    assertSearchesEqual(w3, oneshot, "window-3 heal")
    // window 4: fence lifted, manifest not yet deleted — the index is
    // ALREADY fully serviceable (no heal needed to read), and the next
    // mutator discards the leftover manifest as debris instead of
    // re-folding anything
    val w4 = freshDir("ccw4")
    TextIndex.build(spark, w4, docs.where(col("doc_id") % 2 === 0))
    TextIndex.append(spark, w4, docs.where(col("doc_id") % 2 === 1))
    TextIndex.failDuringCompact = 4
    intercept[IllegalStateException](TextIndex.compactTextIndex(spark, w4))
    assert(TextIndex.exists(spark, w4), "window-4 leaves a healthy index")
    assertSearchesEqual(w4, oneshot, "window-4 index serves correctly as-is")
    val fs4 = new org.apache.hadoop.fs.Path(w4)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs4.exists(new org.apache.hadoop.fs.Path(s"$w4/_compact_manifest")))
    // any mutator's head-heal clears the debris; a fresh append works
    TextIndex.heal(spark, w4)
    assert(!fs4.exists(new org.apache.hadoop.fs.Path(s"$w4/_compact_manifest")),
      "window-4 leftover manifest must be discarded as debris")
    assertSearchesEqual(w4, oneshot, "window-4 after debris GC")
  }

  test("append requires a completed base and refuses a mid-rebuild index") {
    val dir = freshDir("appfence")
    TextIndex.build(spark, dir, docs)
    GenStamp.beginRebuild(spark, dir)
    val e = intercept[IllegalArgumentException](
      TextIndex.append(spark, dir, docs.limit(5)))
    assert(e.getMessage.contains("TextIndex.build"))
  }

  test("indexed phrase search equals substring counting on the aliasing-free corpus") {
    val dir = freshDir("phrase")
    TextIndex.build(spark, dir, docs)
    for (phrase <- Seq(Seq("join", "order"), Seq("key", "order"),
        Seq("the", "fast", "key"))) {
      val pl = phrase.mkString(" ")
      val scan = docs
        .withColumn("hits",
          ((length(col("text")) -
            length(expr(s"replace(text, '$pl', '')"))) / pl.length)
            .cast("bigint"))
        .where(col("hits") > 0)
        .select("doc_id", "hits")
        .orderBy(col("hits").desc, col("doc_id").asc)
        .limit(20).collect().toSeq
      val idx = TextIndex.searchPhrase(spark, dir, phrase, 20).collect().toSeq
      assert(idx === scan, s"indexed phrase diverged from substring scan for '$pl'")
      assert(idx.nonEmpty, s"fixture phrase '$pl' matched nothing — weak law")
    }
    // single-token phrase degenerates to tf ranking
    val one = TextIndex.searchPhrase(spark, dir, Seq("spark"), 5).collect()
    assert(one.length === 5 && one.forall(_.getLong(1) >= 1))
    // an absent term empties the result, not errors
    assert(TextIndex.searchPhrase(spark, dir, Seq("join", "zzz_absent"), 5).count() === 0)
    // overlapping self-phrase: adjacency counts overlaps, substring does
    // not — the documented boundary of the shared-oracle equivalence
    val rep = TextIndex.searchPhrase(spark, dir, Seq("batch", "batch"), 5).collect()
    rep.foreach(r => assert(r.getLong(1) >= 1))
  }

  test("batch phrase search equals the single-phrase search, qid by qid") {
    import spark.implicits._
    val dir = freshDir("phrasebatch")
    TextIndex.build(spark, dir, docs)
    val phrases = Map(
      1 -> Seq("join", "order"),
      2 -> Seq("the", "fast", "key"),
      3 -> Seq("spark"),
      4 -> Seq("join", "zzz_absent"))
    val qs = phrases.toSeq.flatMap { case (qid, ts) =>
      ts.zipWithIndex.map { case (t, i) => (qid, i, t) }
    }.toDF("qid", "pos", "term")
    val batch = TextIndex.searchPhraseBatch(spark, dir, qs, 10)
      .collect().groupBy(_.getInt(0))
    phrases.foreach { case (qid, ts) =>
      val single = TextIndex.searchPhrase(spark, dir, ts, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val got = batch.getOrElse(qid, Array.empty).sortBy(_.getInt(1))
        .map(r => (r.getLong(2), r.getLong(3))).toSeq
      assert(got === single, s"qid $qid batch vs single phrase search diverged")
    }
    assert(!batch.contains(4), "the absent-term phrase must contribute no rows")
    assert(batch(1).nonEmpty && batch(3).nonEmpty)
    // slot-contract violations fail loudly up front
    val gapped = Seq((9, 0, "join"), (9, 2, "order")).toDF("qid", "pos", "term")
    val e = intercept[IllegalArgumentException](
      TextIndex.searchPhraseBatch(spark, dir, gapped, 5))
    assert(e.getMessage.contains("contiguous"))
  }

  test("status reports segment shape and the measured compaction knob") {
    val dir = freshDir("status")
    assert(TextIndex.status(spark, dir) ===
      TextIndex.Status(exists = false, 0, 0L, compactRecommended = false))
    TextIndex.build(spark, dir, docs.where(col("doc_id") % 5 === 0))
    (1 to 4).foreach(i =>
      TextIndex.append(spark, dir, docs.where(col("doc_id") % 5 === i)))
    val st = TextIndex.status(spark, dir)
    assert(st.exists && st.deltaSegments === 4)
    assert(st.docs === docs.count(), "stats tier must carry the exact corpus size")
    assert(st.compactRecommended, "4 live deltas >= the default compactAt")
    assert(!TextIndex.status(spark, dir, compactAt = 10).compactRecommended)
    TextIndex.compactTextIndex(spark, dir)
    val after = TextIndex.status(spark, dir)
    assert(after.deltaSegments === 0 && !after.compactRecommended &&
      after.docs === docs.count())
  }

  test("text ingest with textIndexDir maintains the BM25 index per window") {
    import graft.sources.AssetIngest
    val base = java.nio.file.Files.createTempDirectory("ingest_tidx").toString
    val (idx, data, tidx) = (s"$base/idx", s"$base/data", s"$base/tidx")
    val d = docs.select("doc_id", "source", "text")
    AssetIngest.ingestTextBatch(spark, d.where(col("doc_id") < 100), idx, data,
      batchId = Some("w0"), textIndexDir = Some(tidx))
    AssetIngest.ingestTextBatch(spark,
      d.where(col("doc_id") >= 100 && col("doc_id") < 200), idx, data,
      batchId = Some("w1"), textIndexDir = Some(tidx))
    // window 0 built the base, window 1 appended a delta
    assert(TextIndex.status(spark, tidx).deltaSegments === 1)
    // the index answers exactly as a one-shot build over the LANDED docs
    val landed = spark.read.parquet(s"$data/docs").select("doc_id", "text")
    val oneshot = freshDir("ingest1s")
    TextIndex.build(spark, oneshot, landed, "doc_id", "text")
    for (terms <- Seq(Seq("query", "join", "table"), Seq("spark"))) {
      assert(TextIndex.searchBm25(spark, tidx, terms, 15).collect().toSeq ===
        TextIndex.searchBm25(spark, oneshot, terms, 15).collect().toSeq,
        s"ingest-maintained index diverged from one-shot for $terms")
    }
    // a retried window admits nothing and leaves the index unchanged
    val before = TextIndex.status(spark, tidx)
    AssetIngest.ingestTextBatch(spark,
      d.where(col("doc_id") >= 100 && col("doc_id") < 200), idx, data,
      batchId = Some("w1"), textIndexDir = Some(tidx))
    assert(TextIndex.status(spark, tidx) === before,
      "a fully-ingested retry must append no text-index segment")
  }

  // ------------------------------------------------------------------
  // Deletion tier (r19): deleteFrom == rebuild WITHOUT the victims, for
  // EVERY search face; compaction folds the tombstones physically; the
  // crash windows heal; the composed takedown wires through.
  // ------------------------------------------------------------------

  test("deleteFrom: every search face equals a rebuild without the victims, bit-for-bit") {
    import spark.implicits._
    val dir = freshDir("del")
    val twin = freshDir("deltwin")
    TextIndex.build(spark, dir, docs)
    val victims = docs.where(col("doc_id") % 7 === 0).select("doc_id")
    val found = TextIndex.deleteFrom(spark, dir, victims)
    assert(found === victims.count(), "every victim has postings in this corpus")
    TextIndex.build(spark, twin, docs.where(col("doc_id") % 7 =!= 0))
    // BM25 + tf-idf: stats shrink (N, avgdl) and df shrink must both be
    // exact or the scores diverge
    for (terms <- Seq(Seq("query", "join", "table"), Seq("spark"))) {
      assert(TextIndex.searchBm25(spark, dir, terms, 25).collect().toSeq ===
        TextIndex.searchBm25(spark, twin, terms, 25).collect().toSeq,
        s"deleted BM25 diverged from rebuild-without-victims for $terms")
      assert(TextIndex.searchTfIdf(spark, dir, terms, 25).collect().toSeq ===
        TextIndex.searchTfIdf(spark, twin, terms, 25).collect().toSeq,
        s"deleted tf-idf diverged for $terms")
    }
    // phrase faces (positional tier) and the batch faces
    assert(TextIndex.searchPhrase(spark, dir, Seq("join", "order"), 20).collect().toSeq ===
      TextIndex.searchPhrase(spark, twin, Seq("join", "order"), 20).collect().toSeq)
    val qs = Seq((1L, "query"), (1L, "join"), (2L, "spark")).toDF("qid", "term")
    assert(TextIndex.searchBatchBm25(spark, dir, qs, 10).collect().toSeq ===
      TextIndex.searchBatchBm25(spark, twin, qs, 10).collect().toSeq)
    val pq = Seq((1, 0, "join"), (1, 1, "order")).toDF("qid", "pos", "term")
    assert(TextIndex.searchPhraseBatch(spark, dir, pq, 10).collect().toSeq ===
      TextIndex.searchPhraseBatch(spark, twin, pq, 10).collect().toSeq)
    // status reports the live count and the tombstone backlog
    val st = TextIndex.status(spark, dir)
    assert(st.docs === docs.count() - found && st.tombstones === found)
    // idempotent: re-deleting the same ids changes nothing (dedup by id)
    TextIndex.deleteFrom(spark, dir, victims)
    assert(TextIndex.searchBm25(spark, dir, Seq("spark"), 10).collect().toSeq ===
      TextIndex.searchBm25(spark, twin, Seq("spark"), 10).collect().toSeq,
      "a re-issued delete double-subtracted the stats")
    // absent ids are a no-op, not an error
    assert(TextIndex.deleteFrom(spark, dir, Seq(999999999L).toDF("doc_id")) === 0L)
  }

  test("compactTextIndex folds tombstones physically and clears them; deltas + deletes compose") {
    import spark.implicits._
    val dir = freshDir("delcompact")
    val twin = freshDir("delcompacttwin")
    // base = half the corpus, delta = the other half, victims span BOTH
    TextIndex.build(spark, dir, docs.where(col("doc_id") % 2 === 0))
    TextIndex.append(spark, dir, docs.where(col("doc_id") % 2 === 1))
    TextIndex.deleteFrom(spark, dir, docs.where(col("doc_id") % 5 === 0).select("doc_id"))
    val folded = TextIndex.compactTextIndex(spark, dir)
    assert(folded === Seq(1L), "the delta segment folds in the same pass")
    val after = TextIndex.status(spark, dir)
    assert(after.tombstones === 0L && after.deltaSegments === 0)
    TextIndex.build(spark, twin, docs.where(col("doc_id") % 5 =!= 0))
    for (terms <- Seq(Seq("query", "join", "table"), Seq("spark")))
      assert(TextIndex.searchBm25(spark, dir, terms, 25).collect().toSeq ===
        TextIndex.searchBm25(spark, twin, terms, 25).collect().toSeq,
        s"compacted-after-delete index diverged for $terms")
    // the victims' postings are physically gone, not just masked
    val physical = spark.read.parquet(TextIndex.postingsPath(dir))
      .where(col("doc_id") % 5 === 0).count()
    assert(physical === 0L, "compaction left victim postings in the files")
    // tombstones ALONE (no deltas) also justify a fold
    TextIndex.deleteFrom(spark, dir, docs.where(col("doc_id") % 3 === 0).select("doc_id"))
    assert(TextIndex.compactTextIndex(spark, dir) === Nil)
    assert(TextIndex.status(spark, dir).tombstones === 0L,
      "a delta-free compaction must still fold tombstones")
  }

  test("delete + crashed compaction heals without double-subtracting the stats") {
    import spark.implicits._
    val dir = freshDir("delcrash")
    val twin = freshDir("delcrashtwin")
    TextIndex.build(spark, dir, docs.where(col("doc_id") % 2 === 0))
    TextIndex.append(spark, dir, docs.where(col("doc_id") % 2 === 1))
    TextIndex.deleteFrom(spark, dir, docs.where(col("doc_id") % 7 === 0).select("doc_id"))
    TextIndex.build(spark, twin, docs.where(col("doc_id") % 7 =!= 0))
    // window 2: marker up, stage + manifest complete — searches fail
    // loudly, the next mutator heals forward, tombstones fold exactly once
    TextIndex.failDuringCompact = 2
    intercept[IllegalStateException](TextIndex.compactTextIndex(spark, dir))
    intercept[IllegalArgumentException](
      TextIndex.searchBm25(spark, dir, Seq("spark"), 5).collect())
    TextIndex.compactTextIndex(spark, dir) // heals, then no-op
    assert(TextIndex.status(spark, dir).tombstones === 0L)
    assert(TextIndex.searchBm25(spark, dir, Seq("spark"), 25).collect().toSeq ===
      TextIndex.searchBm25(spark, twin, Seq("spark"), 25).collect().toSeq,
      "healed fold lost or double-subtracted the victims")
    // window 1: stage written, marker still down — debris discarded,
    // tombstones still live and still applied
    val dir2 = freshDir("delcrash1")
    TextIndex.build(spark, dir2, docs)
    TextIndex.deleteFrom(spark, dir2, docs.where(col("doc_id") % 7 === 0).select("doc_id"))
    TextIndex.failDuringCompact = 1
    intercept[IllegalStateException](TextIndex.compactTextIndex(spark, dir2))
    assert(TextIndex.status(spark, dir2).tombstones > 0L,
      "a pre-marker crash must leave the tombstones unfolded")
    assert(TextIndex.searchBm25(spark, dir2, Seq("spark"), 25).collect().toSeq ===
      TextIndex.searchBm25(spark, twin, Seq("spark"), 25).collect().toSeq)
  }

  test("build() clears stale tombstones and a crashed compaction's stage/manifest") {
    import spark.implicits._
    val dir = freshDir("buildclean")
    TextIndex.build(spark, dir, docs)
    TextIndex.deleteFrom(spark, dir, docs.where(col("doc_id") % 3 === 0).select("doc_id"))
    // stage a compaction fully, crash before the marker (window 1), then
    // REBUILD: the stale stage/manifest must not survive to satisfy a
    // later heal, and the tombstones must not hide re-indexed docs
    TextIndex.failDuringCompact = 1
    intercept[IllegalStateException](TextIndex.compactTextIndex(spark, dir))
    TextIndex.build(spark, dir, docs)
    val st = TextIndex.status(spark, dir)
    assert(st.tombstones === 0L && st.docs === docs.count(),
      "build must supersede tombstones — a rebuild re-derives everything")
    // a compaction right after the rebuild is a clean no-op
    assert(TextIndex.compactTextIndex(spark, dir) === Nil)
  }

  test("slop phrase search: slop=0 == exact phrase; windows and end-counting on a planted fixture") {
    import spark.implicits._
    val dir = freshDir("slop")
    TextIndex.build(spark, dir, docs)
    // slop=0 is the exact adjacency fold, bit-for-bit
    assert(TextIndex.searchPhrase(spark, dir, Seq("join", "order"), 20, slop = 0)
      .collect().toSeq ===
      TextIndex.searchPhrase(spark, dir, Seq("join", "order"), 20).collect().toSeq)
    // slop widens monotonically: every exact match is also a slop match
    val exact = TextIndex.searchPhrase(spark, dir, Seq("join", "order"), 500)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val slop1 = TextIndex.searchPhrase(spark, dir, Seq("join", "order"), 500, slop = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (id, h) =>
      assert(slop1.getOrElse(id, 0L) >= h, s"slop=1 lost exact matches of doc $id")
    }
    assert(slop1.values.sum > exact.values.sum,
      "fixture has no gapped 'join _ order' — slop law is vacuous at this SF")
    // planted fixture pins the window semantics and end-position counting
    val planted = freshDir("slopplanted")
    val tiny = Seq(
      (1L, "a b c"),       // adjacent
      (2L, "a x b"),       // gap 1
      (3L, "a x x b"),     // gap 2
      (4L, "a a b"),       // two starts, ONE end -> hits 1 at any slop
      (5L, "b a"),         // wrong order
      (6L, "a x b x b")    // b ends at 2 (gap 1) and 4 (gap 3): second end needs slop=3
    ).toDF("doc_id", "text")
    TextIndex.build(spark, planted, tiny)
    def hits(slop: Int): Map[Long, Long] =
      TextIndex.searchPhrase(spark, planted, Seq("a", "b"), 10, slop)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits(0) === Map(1L -> 1L, 4L -> 1L))
    assert(hits(1) === Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 6L -> 1L))
    assert(hits(2) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 6L -> 1L))
    assert(hits(3) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 6L -> 2L))
  }

  test("prefix search: dictionary expansion == hand-expanded multi-term BM25, across segments and deletes") {
    import spark.implicits._
    val dir = freshDir("prefix")
    // split build + delta so the expansion unions SEGMENT dictionaries
    TextIndex.build(spark, dir, docs.where(col("doc_id") % 2 === 0))
    TextIndex.append(spark, dir, docs.where(col("doc_id") % 2 === 1))
    val vocab = docs.select(explode(split(col("text"), " ")).as("t"))
      .distinct().collect().map(_.getString(0)).toSeq
    for (prefix <- Seq("s", "st", "q", "da")) {
      val expanded = TextIndex.expandPrefix(spark, dir, prefix)
      assert(expanded === vocab.filter(_.startsWith(prefix)).sorted,
        s"dictionary expansion diverged from the corpus vocabulary for '$prefix'")
      assert(TextIndex.searchPrefixBm25(spark, dir, prefix, 15).collect().toSeq ===
        TextIndex.searchBm25(spark, dir, expanded, 15).collect().toSeq)
    }
    assert(TextIndex.searchPrefixBm25(spark, dir, "s", 15).collect().nonEmpty)
    // no match -> empty result, not an error
    assert(TextIndex.searchPrefixBm25(spark, dir, "zzz", 5).count() === 0)
    // the expansion cap fails loudly, not by silent truncation
    val e = intercept[IllegalArgumentException](
      TextIndex.expandPrefix(spark, dir, "s", max = 2))
    assert(e.getMessage.contains("more than 2"))
    // deletes flow through the delegated multi-term search (stats + df
    // shrink); the dictionary may keep a dead term — it matches zero
    // postings, which is the same answer a rebuild gives
    TextIndex.deleteFrom(spark, dir, docs.where(col("doc_id") % 3 === 0).select("doc_id"))
    val twin = freshDir("prefixtwin")
    TextIndex.build(spark, twin, docs.where(col("doc_id") % 3 =!= 0))
    assert(TextIndex.searchPrefixBm25(spark, dir, "s", 15).collect().toSeq ===
      TextIndex.searchPrefixBm25(spark, twin, "s", 15).collect().toSeq,
      "prefix search over a deleted index diverged from rebuild-without-victims")
    // a pre-r19 index (no term dictionary) gets rebuild guidance
    val old = freshDir("prefixold")
    TextIndex.build(spark, old, docs.limit(30))
    val fs = new org.apache.hadoop.fs.Path(old)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(TextIndex.termsPath(old)), true)
    val e2 = intercept[IllegalArgumentException](
      TextIndex.expandPrefix(spark, old, "s"))
    assert(e2.getMessage.contains("pre-r19") && e2.getMessage.contains("TextIndex.build"))
  }

  test("fuzzy search: dictionary expansion == corpus levenshtein neighborhood, scored as multi-term BM25") {
    import spark.implicits._
    val dir = freshDir("fuzzy")
    // split build + delta so the expansion unions SEGMENT dictionaries
    TextIndex.build(spark, dir, docs.where(col("doc_id") % 2 === 0))
    TextIndex.append(spark, dir, docs.where(col("doc_id") % 2 === 1))
    val vocab = docs.select(explode(split(col("text"), " ")).as("t"))
      .distinct().collect().map(_.getString(0)).toSeq
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for ((term, dist) <- Seq(("part", 2), ("scan", 1), ("fast", 2), ("agg", 1))) {
      val expanded = TextIndex.expandFuzzy(spark, dir, term, dist)
      assert(expanded === vocab.filter(v => lev(v, term) <= dist).sorted,
        s"dictionary expansion diverged from the corpus neighborhood for '$term'~$dist")
      assert(TextIndex.searchFuzzyBm25(spark, dir, term, 15, maxDist = dist).collect().toSeq ===
        TextIndex.searchBm25(spark, dir, expanded, 15).collect().toSeq)
    }
    // maxDist=0 degenerates to the exact term; an OOV probe still
    // expands to its neighbors (the typo-tolerant lookup)
    assert(TextIndex.expandFuzzy(spark, dir, "spark", 0) === Seq("spark"))
    assert(TextIndex.expandFuzzy(spark, dir, "scna", 2).contains("scan"))
    // nothing within distance -> empty result, not an error
    assert(TextIndex.searchFuzzyBm25(spark, dir, "zzzzzzzz", 5).count() === 0)
    // the expansion cap fails loudly, not by silent truncation
    val e = intercept[IllegalArgumentException](
      TextIndex.expandFuzzy(spark, dir, "part", 2, max = 2))
    assert(e.getMessage.contains("more than 2"))
    // deletes flow through the delegated multi-term search
    TextIndex.deleteFrom(spark, dir, docs.where(col("doc_id") % 3 === 0).select("doc_id"))
    val twin = freshDir("fuzzytwin")
    TextIndex.build(spark, twin, docs.where(col("doc_id") % 3 =!= 0))
    assert(TextIndex.searchFuzzyBm25(spark, dir, "part", 15, maxDist = 2).collect().toSeq ===
      TextIndex.searchFuzzyBm25(spark, twin, "part", 15, maxDist = 2).collect().toSeq,
      "fuzzy search over a deleted index diverged from rebuild-without-victims")
  }

  test("filtered/negated phrase faces: allowedIds == unfiltered ranking restricted and re-cut; mustNot excludes; tombstones compose") {
    import spark.implicits._
    val dir = freshDir("phrasefil")
    TextIndex.build(spark, dir, docs)
    val phrase = Seq("join", "order")
    val allowed = docs.where(col("doc_id") % 3 === 0).select("doc_id")
    val allowedSet = allowed.collect().map(_.getLong(0)).toSet
    // law: filtered top-k == unfiltered ranking restricted to allowed, re-cut at k
    val unfiltered = TextIndex.searchPhrase(spark, dir, phrase, 1000)
      .collect().filter(r => allowedSet(r.getLong(0))).take(15)
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val filtered = TextIndex.searchPhrase(spark, dir, phrase, 15,
        allowedIds = Some(allowed))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(filtered === unfiltered, "allowedIds law broke")
    assert(filtered.nonEmpty, "fixture matched nothing — weak law")
    // mustNot: ranking minus docs containing the excluded term
    val hasSlow = docs.where(col("text").contains("slow"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val negated = TextIndex.searchPhrase(spark, dir, phrase, 15, mustNot = Seq("slow"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val handNeg = TextIndex.searchPhrase(spark, dir, phrase, 1000)
      .collect().filterNot(r => hasSlow(r.getLong(0))).take(15)
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(negated === handNeg, "mustNot law broke")
    // batch face parity: one qid batch with the same restrictions
    // equals the single-phrase call row-for-row
    val q = Seq((1L, 0, "join"), (1L, 1, "order")).toDF("qid", "pos", "term")
    val batch = TextIndex.searchPhraseBatch(spark, dir, q, 15,
        allowedIds = Some(allowed), mustNot = Seq("slow"))
      .select("doc_id", "hits").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val single = TextIndex.searchPhrase(spark, dir, phrase, 15,
        allowedIds = Some(allowed), mustNot = Seq("slow"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(batch === single, "batch/single filtered-phrase parity broke")
    // tombstones compose: delete some docs, filtered results equal the
    // rebuild-without-victims twin under the same restrictions
    TextIndex.deleteFrom(spark, dir, docs.where(col("doc_id") % 5 === 0).select("doc_id"))
    val twin = freshDir("phrasefiltwin")
    TextIndex.build(spark, twin, docs.where(col("doc_id") % 5 =!= 0))
    assert(TextIndex.searchPhrase(spark, dir, phrase, 15,
        allowedIds = Some(allowed), mustNot = Seq("slow")).collect().toSeq ===
      TextIndex.searchPhrase(spark, twin, phrase, 15,
        allowedIds = Some(allowed), mustNot = Seq("slow")).collect().toSeq,
      "filtered phrase over a deleted index diverged from rebuild-without-victims")
  }

  test("deleteFrom reads the doclens sidecar, not postings; falls back when a segment lacks it") {
    import spark.implicits._
    val dir = freshDir("doclens")
    TextIndex.build(spark, dir, docs.where(col("doc_id") % 2 === 0))
    TextIndex.append(spark, dir, docs.where(col("doc_id") % 2 === 1))
    val ids = Seq(4L, 7L, 10L).toDF("doc_id")
    // plan pin: the victim pass scans doclens directories only
    val plan = TextIndex.victimLens(spark, dir, ids)
      .queryExecution.executedPlan.toString
    assert(plan.contains("doclens"), s"victim pass must read the sidecar:\n$plan")
    assert(!plan.contains("postings"), s"victim pass must not touch postings:\n$plan")
    // the sidecar-driven delete equals a rebuild without the victims
    TextIndex.deleteFrom(spark, dir, ids)
    val twin = freshDir("doclenstwin")
    TextIndex.build(spark, twin, docs.where(!col("doc_id").isin(4L, 7L, 10L)))
    assertSearchesEqual(dir, twin, "sidecar delete")
    // a segment without the sidecar (pre-r20) falls back to the
    // column-pruned postings pass — same rows, same delete semantics
    val dir2 = freshDir("doclensfb")
    TextIndex.build(spark, dir2, docs)
    val fs = new org.apache.hadoop.fs.Path(dir2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir2/doclens"), true)
    val plan2 = TextIndex.victimLens(spark, dir2, ids)
      .queryExecution.executedPlan.toString
    assert(plan2.contains("postings"), "fallback must read postings")
    TextIndex.deleteFrom(spark, dir2, ids)
    assertSearchesEqual(dir2, twin, "fallback delete")
  }

  test("block-max pruned BM25 == unpruned bit-for-bit; skewed fixture actually skips blocks; gates fall back") {
    import spark.implicits._
    // equality on the REAL corpus (base + delta segments): twin index
    // with the sidecar removed takes the unpruned one-pass plan
    val dir = freshDir("bmx")
    TextIndex.build(spark, dir, docs.where(col("doc_id") % 2 === 0))
    TextIndex.append(spark, dir, docs.where(col("doc_id") % 2 === 1))
    val twin = freshDir("bmxtwin")
    TextIndex.build(spark, twin, docs.where(col("doc_id") % 2 === 0))
    TextIndex.append(spark, twin, docs.where(col("doc_id") % 2 === 1))
    val fs = new org.apache.hadoop.fs.Path(twin)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$twin/blockmax"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$twin/deltas/1/blockmax"), true)
    for (terms <- Seq(Seq("query", "join", "table"), Seq("spark"),
        Seq("data", "vector", "stream", "spark"), Seq("zzz_not_a_token"));
        k <- Seq(1, 10, 25)) {
      val pruned = TextIndex.searchBm25(spark, dir, terms, k).collect().toSeq
      val engaged = TextIndex.lastPruneStats
      val unpruned = TextIndex.searchBm25(spark, twin, terms, k).collect().toSeq
      assert(TextIndex.lastPruneStats.isEmpty,
        "sidecar-less twin must fall back to the unpruned plan")
      assert(pruned === unpruned, s"block-max diverged for $terms k=$k")
      if (terms != Seq("zzz_not_a_token"))
        assert(engaged.isDefined, s"pruned path must engage for $terms")
    }
    // skewed fixture: block 0 holds high-tf short docs, 19 other blocks
    // hold low-tf long docs — with k=5 the θ learned from block 0 must
    // exclude every filler block's ceiling
    val skew = ((0L until 8L).map(i => (i, ("rare " * 10).trim + " pad")) ++
      (1L to 19L).flatMap(b => (0L until 8L).map(i =>
        (b * 512L + i, "rare " + ("pad " * 200).trim)))).toDF("doc_id", "text")
    val sdir = freshDir("bmxskew")
    TextIndex.build(spark, sdir, skew)
    val sTwin = freshDir("bmxskewtwin")
    TextIndex.build(spark, sTwin, skew)
    fs.delete(new org.apache.hadoop.fs.Path(s"$sTwin/blockmax"), true)
    val top = TextIndex.searchBm25(spark, sdir, Seq("rare"), 5).collect().toSeq
    val Some((scored, total)) = TextIndex.lastPruneStats
    assert(total === 20, s"fixture must span 20 blocks, saw $total")
    assert(scored < total,
      s"skewed fixture must skip non-competitive blocks ($scored/$total scored)")
    assert(top === TextIndex.searchBm25(spark, sTwin, Seq("rare"), 5).collect().toSeq,
      "skewed pruned top-k diverged from unpruned")
    // tombstones force the fallback (df exactness needs the postings
    // anti-join), and results stay correct
    TextIndex.deleteFrom(spark, sdir, Seq(0L).toDF("doc_id"))
    TextIndex.deleteFrom(spark, sTwin, Seq(0L).toDF("doc_id"))
    val afterDel = TextIndex.searchBm25(spark, sdir, Seq("rare"), 5).collect().toSeq
    assert(TextIndex.lastPruneStats.isEmpty,
      "live tombstones must force the unpruned fallback")
    assert(afterDel ===
      TextIndex.searchBm25(spark, sTwin, Seq("rare"), 5).collect().toSeq)
    // live tombstones over base + delta (the unpruned plan, with the
    // snapshot's tombstone filter and shrunk stats) == the pruned plan
    // over a rebuild without the victims
    val del = freshDir("bmxdel")
    TextIndex.build(spark, del, docs.where(col("doc_id") % 2 === 0))
    TextIndex.append(spark, del, docs.where(col("doc_id") % 2 === 1))
    TextIndex.deleteFrom(spark, del, docs.where(col("doc_id") % 7 === 0).select("doc_id"))
    val clean = freshDir("bmxclean")
    val live = docs.where(col("doc_id") % 7 =!= 0)
    TextIndex.build(spark, clean, live.where(col("doc_id") % 2 === 0))
    TextIndex.append(spark, clean, live.where(col("doc_id") % 2 === 1))
    for (terms <- Seq(Seq("query", "join", "table"), Seq("spark")); k <- Seq(1, 10, 25)) {
      val unpruned = TextIndex.searchBm25(spark, del, terms, k).collect().toSeq
      assert(TextIndex.lastPruneStats.isEmpty, "live tombstones must take the unpruned plan")
      val pruned = TextIndex.searchBm25(spark, clean, terms, k).collect().toSeq
      assert(TextIndex.lastPruneStats.isDefined, s"pruned path must engage for $terms")
      assert(unpruned === pruned, s"tombstoned unpruned diverged from pruned for $terms k=$k")
    }
    // an empty index: no block to score, and both plans answer empty
    val empty = freshDir("bmxempty")
    TextIndex.build(spark, empty, docs.where(lit(false)))
    assert(TextIndex.searchBm25(spark, empty, Seq("query", "join"), 5).collect().isEmpty)
    assert(TextIndex.lastPruneStats.isEmpty, "an empty index has no block to prune")
    assert(TextIndex.searchBm25(spark, empty, Seq("query"), 5, matchAll = true)
      .collect().isEmpty)
  }

  test("boolean BM25 faces: mustNot == full ranking minus excluded docs; matchAll == matched filter") {
    import spark.implicits._
    val dir = freshDir("boolean")
    TextIndex.build(spark, dir, docs)
    val terms = Seq("query", "join", "table")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val full = rows(TextIndex.searchBm25(spark, dir, terms, 100000))
    val ex = docs.where(array_contains(split(col("text"), " "), "slow"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ex.nonEmpty, "fixture has no 'slow' docs — exclusion law is vacuous")
    // must-not: the full ranking minus the excluded docs, re-cut at k —
    // scores unchanged (df/N/avgdl are corpus-wide)
    assert(rows(TextIndex.searchBm25(spark, dir, terms, 10, mustNot = Seq("slow"))) ===
      full.filterNot(t => ex(t._1)).take(10))
    // conjunctive: the full ranking filtered to matched == |terms|
    assert(rows(TextIndex.searchBm25(spark, dir, terms, 10, matchAll = true)) ===
      full.filter(_._3 == 3).take(10))
    // the two faces compose
    assert(rows(TextIndex.searchBm25(spark, dir, terms, 10,
        mustNot = Seq("slow"), matchAll = true)) ===
      full.filterNot(t => ex(t._1)).filter(_._3 == 3).take(10))
    // excluding an absent term is a no-op; tombstones flow through
    assert(rows(TextIndex.searchBm25(spark, dir, terms, 10, mustNot = Seq("zzz"))) ===
      full.take(10))
    TextIndex.deleteFrom(spark, dir, docs.where(col("doc_id") % 7 === 0).select("doc_id"))
    val twin = freshDir("booleantwin")
    TextIndex.build(spark, twin, docs.where(col("doc_id") % 7 =!= 0))
    assert(rows(TextIndex.searchBm25(spark, dir, terms, 10, mustNot = Seq("slow"))) ===
      rows(TextIndex.searchBm25(spark, twin, terms, 10, mustNot = Seq("slow"))))
  }

  test("pre-r18 index layouts fail with rebuild guidance, not a raw column error") {
    import spark.implicits._
    val dir = freshDir("prer18")
    TextIndex.build(spark, dir, docs.limit(50))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // regress the stats table to the pre-r18 shape (no sum_dl), keeping
    // the generation stamp so the FENCE stays green — the guard, not the
    // fence, must speak
    val statsP = TextIndex.statsPath(dir)
    val old = spark.read.parquet(statsP).select("n", "avgdl").collect()
    val gen = GenStamp.read(spark, statsP)
    fs.delete(new org.apache.hadoop.fs.Path(statsP), true)
    old.map(r => (r.getLong(0), r.getDouble(1))).toSeq.toDF("n", "avgdl")
      .coalesce(1).write.parquet(statsP)
    GenStamp.stamp(spark, statsP, gen)
    val e = intercept[IllegalArgumentException](
      TextIndex.searchBm25(spark, dir, Seq("spark"), 5).collect())
    assert(e.getMessage.contains("pre-r18"))
    assert(e.getMessage.contains("TextIndex.build"))
    // and postings without positions: the phrase tier's guard speaks
    // from the footer schema, before any postings row is read
    val pdir = freshDir("prer18postings")
    TextIndex.build(spark, pdir, docs.limit(50))
    val postsP = TextIndex.postingsPath(pdir)
    val pgen = GenStamp.read(spark, postsP)
    val v1 = s"${postsP}_v1"
    spark.read.parquet(postsP).drop("positions")
      .write.partitionBy(TextIndex.Col).parquet(v1)
    fs.delete(new org.apache.hadoop.fs.Path(postsP), true)
    fs.rename(new org.apache.hadoop.fs.Path(v1), new org.apache.hadoop.fs.Path(postsP))
    GenStamp.stamp(spark, postsP, pgen)
    val pe = intercept[IllegalArgumentException](
      TextIndex.searchPhrase(spark, pdir, Seq("spark"), 5).collect())
    assert(pe.getMessage.contains("pre-r18"))
    assert(pe.getMessage.contains("positions"))
  }

  test("ingest auto-compaction: segment count bounded by the knob, search bit-equal, crash heals in-loop") {
    import graft.sources.AssetIngest
    val base = java.nio.file.Files.createTempDirectory("ingest_autocompact").toString
    val (idx, data, tidx) = (s"$base/idx", s"$base/data", s"$base/tidx")
    val d = docs.select("doc_id", "source", "text")
    def window(i: Int): org.apache.spark.sql.DataFrame =
      d.where(col("doc_id") % 6 === i)
    // knob = 2: the loop must compact whenever 2+ deltas are live, so the
    // segment count observed AFTER any window stays under the knob
    (0 to 3).foreach { i =>
      AssetIngest.ingestTextBatch(spark, window(i), idx, data,
        batchId = Some(s"w$i"), textIndexDir = Some(tidx), textIndexCompactAt = 2)
      val st = TextIndex.status(spark, tidx)
      assert(st.deltaSegments < 2,
        s"window $i left ${st.deltaSegments} deltas — the knob did not run")
    }
    // crash INSIDE the loop's compaction (marker up, stage complete): the
    // window's ingest throws after its data landed; the NEXT window's
    // append heals the fold and the loop converges
    TextIndex.failDuringCompact = 2
    // windows 4+5 land back-to-back so the 5th triggers the compact;
    // make window 4's compact a no-op by keeping segments at 1
    intercept[IllegalStateException] {
      AssetIngest.ingestTextBatch(spark, window(4), idx, data,
        batchId = Some("w4"), textIndexDir = Some(tidx), textIndexCompactAt = 1)
    }
    AssetIngest.ingestTextBatch(spark, window(5), idx, data,
      batchId = Some("w5"), textIndexDir = Some(tidx), textIndexCompactAt = 2)
    val st = TextIndex.status(spark, tidx)
    assert(st.deltaSegments < 2, s"post-crash loop did not converge: $st")
    // bit-equality vs a one-shot build over everything landed
    val landed = spark.read.parquet(s"$data/docs").select("doc_id", "text")
    val oneshot = freshDir("autocompact1s")
    TextIndex.build(spark, oneshot, landed)
    for (terms <- Seq(Seq("query", "join", "table"), Seq("spark")))
      assert(TextIndex.searchBm25(spark, tidx, terms, 15).collect().toSeq ===
        TextIndex.searchBm25(spark, oneshot, terms, 15).collect().toSeq,
        s"auto-compacted loop index diverged from one-shot for $terms")
  }

  test("composed takedown(textIndexDir): victims vanish from retrieval with exact stats shrink") {
    import graft.sources.AssetIngest
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("takedown_tidx").toString
    val (idx, data, tidx) = (s"$base/idx", s"$base/data", s"$base/tidx")
    val d = docs.select("doc_id", "source", "text")
    AssetIngest.ingestTextBatch(spark, d.where(col("doc_id") < 200), idx, data,
      batchId = Some("w0"), textIndexDir = Some(tidx))
    // capture the victim ids as a LITERAL frame: a lazy frame over the
    // landed table would re-scan files the takedown is about to delete
    val victimIds = spark.read.parquet(s"$data/docs")
      .where(col("doc_id") % 5 === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val victims = victimIds.toDF("doc_id")
    val r = AssetIngest.takedown(spark, s"$data/docs", idx,
      victims, "doc_id", textIndexDir = Some(tidx))
    assert(r.removed === victimIds.length)
    // the retrieval tier forgot the victims THE MOMENT the takedown
    // committed — bit-equal to a rebuild over the surviving landed docs
    val survivors = spark.read.parquet(s"$data/docs").select("doc_id", "text")
    val twin = freshDir("takedowntwin")
    TextIndex.build(spark, twin, survivors)
    for (terms <- Seq(Seq("query", "join", "table"), Seq("spark")))
      assert(TextIndex.searchBm25(spark, tidx, terms, 15).collect().toSeq ===
        TextIndex.searchBm25(spark, twin, terms, 15).collect().toSeq,
        s"taken-down index diverged from rebuild-over-survivors for $terms")
    // re-issue: idempotent across all three tiers incl. the text index
    val r2 = AssetIngest.takedown(spark, s"$data/docs", idx,
      victims, "doc_id", textIndexDir = Some(tidx))
    assert(r2.removed === 0L)
    assert(TextIndex.searchBm25(spark, tidx, Seq("spark"), 15).collect().toSeq ===
      TextIndex.searchBm25(spark, twin, Seq("spark"), 15).collect().toSeq,
      "a re-issued takedown double-shrunk the retrieval stats")
  }

  test("append refuses a batch that re-uses tombstoned doc ids (loud, not silent hiding)") {
    import spark.implicits._
    val dir = freshDir("appts")
    TextIndex.build(spark, dir, docs.where(col("doc_id") < 100))
    TextIndex.deleteFrom(spark, dir, Seq(3L, 7L).toDF("doc_id"))
    // a clash anywhere in the batch fails loudly with compact guidance —
    // before the guard the doc was hidden by the anti-join while the new
    // segment's stats still counted it live
    val e = intercept[IllegalArgumentException](
      TextIndex.append(spark, dir,
        docs.where(col("doc_id").isin(7L, 200L, 201L))))
    assert(e.getMessage.contains("tombstoned doc ids"))
    assert(e.getMessage.contains("compactTextIndex"))
    // disjoint batches still append; after compaction the id is free again
    TextIndex.append(spark, dir, docs.where(col("doc_id").isin(300L, 301L)))
    TextIndex.compactTextIndex(spark, dir)
    TextIndex.append(spark, dir, docs.where(col("doc_id") === 7L))
    val twin = freshDir("apptstwin")
    TextIndex.build(spark, twin, docs.where(
      (col("doc_id") < 100 && !col("doc_id").isin(3L, 7L)) ||
        col("doc_id").isin(300L, 301L, 7L)))
    assertSearchesEqual(dir, twin, "re-append after compaction")
  }

  test("takedown(textIndexDir) before the index exists skips-and-reports instead of crashing") {
    import graft.sources.AssetIngest
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("takedown_noidx").toString
    val (idx, data, tidx) = (s"$base/idx", s"$base/data", s"$base/tidx")
    // takedown issued BEFORE any text window landed: the retrieval half
    // must skip (reported), not throw on the rebuild fence
    val r0 = AssetIngest.takedown(spark, s"$data/docs", idx,
      Seq(3L).toDF("doc_id"), "doc_id", textIndexDir = Some(tidx))
    assert(r0.textIndexSkipped, "missing index must be reported as skipped")
    assert(r0.removed === 0L)
    // after the first window lands, a re-issued takedown reaches the index
    val d = docs.select("doc_id", "source", "text")
    AssetIngest.ingestTextBatch(spark, d.where(col("doc_id") < 50), idx, data,
      batchId = Some("w0"), textIndexDir = Some(tidx))
    val r1 = AssetIngest.takedown(spark, s"$data/docs", idx,
      Seq(3L).toDF("doc_id"), "doc_id", textIndexDir = Some(tidx))
    assert(!r1.textIndexSkipped)
    // twin over the SURVIVING LANDED docs (the ingest loop indexes its
    // admitted set, not the raw window — the composed-takedown law's
    // convention): the late-built index minus the re-issued victim must
    // equal a rebuild over what actually survived
    val survivors = spark.read.parquet(s"$data/docs").select("doc_id", "text")
    val twin = freshDir("noidxtwin")
    TextIndex.build(spark, twin, survivors)
    assertSearchesEqual(tidx, twin, "takedown after late build")
  }

  test("declared q_text_search_indexed runs and carries its oracle") {
    val out = graft.operators.TextOps.queries("q_text_search_indexed")(spark, sf)
    val rows = out.collect()
    assert(rows.length === 10)
    assert(graft.operators.TextOps.oracle.contains("q_text_search_indexed"))
    // schema contract with the oracle: (doc_id, score, matched)
    assert(out.columns.toSeq === Seq("doc_id", "score", "matched"))
  }

  /** The partition-filtered full read that TableRead.bucketRead replaces. */
  private def fullReadFiltered(table: String, partCol: String, bs: Seq[Int]): DataFrame =
    spark.read.parquet(table).where(col(partCol).isin(bs: _*)).drop(partCol)

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema === want.schema, s"$what: schema")
    assert(got.collect().map(_.toString).sorted.toSeq ===
      want.collect().map(_.toString).sorted.toSeq, s"$what: rows")
  }

  test("bucketRead == the partition-filtered full read: partitioned, flat husk, missing bucket, empty list") {
    import graft.sources.TableRead
    import spark.implicits._
    val dir = freshDir("bucketread")
    TextIndex.build(spark, dir, docs)
    val posts = TextIndex.postingsPath(dir)
    val qb = Seq("query", "join", "table").map(TextIndex.bucketOfTerm).distinct
    for (bs <- Seq(qb, qb.take(1), Nil))
      assertSameRows(TableRead.bucketRead(spark, posts, TextIndex.Col, bs),
        fullReadFiltered(posts, TextIndex.Col, bs), s"postings buckets $bs")
    // a layout whose wanted buckets are partly or wholly absent on disk
    val sparse = freshDir("sparse")
    Seq((1L, "a", 3), (2L, "b", 5), (3L, "c", 5)).toDF("id", "v", "b")
      .write.partitionBy("b").parquet(sparse)
    for (bs <- Seq(Seq(5), Seq(3, 5, 9), Seq(9), Nil))
      assertSameRows(TableRead.bucketRead(spark, sparse, "b", bs),
        fullReadFiltered(sparse, "b", bs), s"sparse buckets $bs")
    // the empty-corpus segment is a FLAT husk: bucket is a data column
    val husk = freshDir("flathusk")
    TextIndex.build(spark, husk, docs.where(lit(false)))
    for (t <- Seq("postings", "blockmax"); bs <- Seq(qb, Nil))
      assertSameRows(TableRead.bucketRead(spark, s"$husk/$t", TextIndex.Col, bs),
        fullReadFiltered(s"$husk/$t", TextIndex.Col, bs), s"flat husk $t buckets $bs")
  }

  test("schemaOf == the inferred schema of every index table, partitioned and flat") {
    import graft.sources.TableRead
    import spark.implicits._
    val dir = freshDir("schemaof")
    TextIndex.build(spark, dir, docs)
    TextIndex.deleteFrom(spark, dir, Seq(1L, 2L).toDF("id"))
    val husk = freshDir("schemaofhusk")
    TextIndex.build(spark, husk, docs.where(lit(false)))
    for (root <- Seq(dir, husk);
         t <- Seq("postings", "blockmax", "stats", "doclens", "terms", "tombstones")
         if Files.exists(Paths.get(root, t))) {
      val p = s"$root/$t"
      assert(TableRead.schemaOf(spark, p) === spark.read.parquet(p).schema, p)
    }
    // a leaf bucket directory holds no partition column
    val leaf = s"${TextIndex.postingsPath(dir)}/${TextIndex.Col}=${TextIndex.bucketOfTerm("query")}"
    assert(TableRead.schemaOf(spark, leaf) === spark.read.parquet(leaf).schema)
    val e = intercept[IllegalArgumentException](
      TableRead.schemaOf(spark, Files.createTempDirectory("textidx_nodata").toString))
    assert(e.getMessage.contains("no data file"))
  }

  test("searches over a 3-delta index launch no listing and no schema-inference job") {
    val dir = freshDir("nojobs")
    TextIndex.build(spark, dir, docs.where(col("doc_id") % 4 === 0))
    for (r <- 1 to 3) TextIndex.append(spark, dir, docs.where(col("doc_id") % 4 === r))
    assert(TextIndex.status(spark, dir).deltaSegments === 3)
    val sc = spark.sparkContext
    val ((bm25, phrase), jobs) = ReadJobs.during(sc) {
      (TextIndex.searchBm25(spark, dir, Seq("query", "join", "table"), 10).collect(),
        TextIndex.searchPhrase(spark, dir, Seq("query", "join"), 10).collect())
    }
    assert(bm25.length === 10)
    assert(jobs.isEmpty, s"metadata jobs launched by the searches:\n${jobs.mkString("\n")}")
    // the probe sees these jobs when they happen: a bare read of one
    // segment's postings infers its schema with a job
    val (_, control) = ReadJobs.during(sc)(
      spark.read.parquet(TextIndex.postingsPath(dir)).schema)
    assert(control.nonEmpty, "ReadJobs saw no job for an inferring read")
    // and the pruned searches still answer as the one-shot build
    val oneshot = freshDir("nojobs_oneshot")
    TextIndex.build(spark, oneshot, docs)
    assert(bm25.toSeq ===
      TextIndex.searchBm25(spark, oneshot, Seq("query", "join", "table"), 10).collect().toSeq)
    assert(phrase.toSeq ===
      TextIndex.searchPhrase(spark, oneshot, Seq("query", "join"), 10).collect().toSeq)
  }

  test("localRows == the file source's rows: stats, tombstones, blockmax leaves, flat husk") {
    import graft.sources.TableRead
    import org.apache.spark.sql.types.StructType
    import spark.implicits._
    val dir = freshDir("localrows")
    TextIndex.build(spark, dir, docs.where(col("doc_id") % 2 === 0))
    TextIndex.append(spark, dir, docs.where(col("doc_id") % 2 === 1))
    TextIndex.deleteFrom(spark, dir, Seq(2L, 3L, 4L).toDF("id"))
    TextIndex.deleteFrom(spark, dir, Seq(3L).toDF("id"))
    val husk = freshDir("localrowshusk")
    TextIndex.build(spark, husk, docs.where(lit(false)))
    def local(dirs: Seq[String], schema: StructType,
        filters: Seq[org.apache.spark.sql.sources.Filter] = Nil): Seq[String] =
      TableRead.localRows(spark, dirs, schema, filters)(_.map(_.toString).toList).sorted
    for (t <- Seq(TextIndex.statsPath(dir), s"$dir/deltas/1/stats",
        TextIndex.tombstonesPath(dir), TextIndex.statsPath(husk))) {
      val read = spark.read.parquet(t)
      assert(local(Seq(t), TableRead.schemaOf(spark, t)) ===
        read.collect().map(_.toString).sorted.toSeq, t)
    }
    // several tables under one reader, a column subset, a pushed filter
    // the caller then applies exactly
    val terms = Seq("query", "join", "table")
    val bs = terms.map(TextIndex.bucketOfTerm).distinct
    val leaves = Seq(dir, s"$dir/deltas/1").flatMap(r =>
      TableRead.bucketDirs(spark, s"$r/blockmax", TextIndex.Col, bs).get._1)
    val cols = Seq("term", "block_id", "cnt")
    val sch = StructType(cols.map(TableRead.schemaOf(spark, leaves.head)(_)))
    val got = TableRead.localRows(spark, leaves, sch,
        Seq(org.apache.spark.sql.sources.In("term", terms.toArray[Any]))) {
      _.filter(r => terms.contains(r.getString(0))).map(_.toString).toList
    }.sorted
    val want = Seq(dir, s"$dir/deltas/1")
      .map(r => spark.read.parquet(s"$r/blockmax").where(col(TextIndex.Col).isin(bs: _*)))
      .reduce(_ unionByName _)
      .where(col("term").isin(terms: _*)).select(cols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    assert(want.nonEmpty && got === want, "blockmax leaves")
    // the flat husk's blockmax carries the bucket as data; reading a
    // subset of its columns is an empty read, not an error
    assert(local(Seq(s"$husk/blockmax"), sch).isEmpty)
    // a caller may stop early; the reader is closed either way
    assert(TableRead.localRows(spark, leaves, sch)(_.take(2).size) === 2)
  }

  /** True when `e` or a cause says a file the plan listed is gone. */
  private def missingFile(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists { c =>
      c.isInstanceOf[java.io.FileNotFoundException] ||
        Option(c.getMessage).exists(m => m.contains("FILE_NOT_EXIST") ||
          m.contains("does not exist"))
    }

  test("a search planned before a compaction answers the pre-compaction top-k or fails loudly, never a mix") {
    val dir = freshDir("snapswap")
    TextIndex.build(spark, dir, docs.where(col("doc_id") % 4 === 0))
    for (r <- 1 to 3) TextIndex.append(spark, dir, docs.where(col("doc_id") % 4 === r))
    val terms = Seq("query", "join", "table")
    val phrase = Seq("join", "order")
    val searches: Seq[(String, () => DataFrame)] =
      Seq(1, 10, 25).map(k => s"bm25 k=$k" -> (() => TextIndex.searchBm25(spark, dir, terms, k))) :+
        ("phrase" -> (() => TextIndex.searchPhrase(spark, dir, phrase, 10)))
    val pre = searches.map(_._2().collect().toSeq)
    assert(pre.forall(_.nonEmpty), "fixture defect: a search found nothing")
    val planned = searches.map(_._2())
    assert(TextIndex.compactTextIndex(spark, dir) === Seq(1L, 2L, 3L))
    val outcomes = searches.map(_._1).zip(planned).zip(pre).map { case ((what, df), want) =>
      scala.util.Try(df.collect().toSeq) match {
        case scala.util.Success(got) =>
          assert(got === want, s"$what: a search planned before the compaction mixed generations")
          "pre"
        case scala.util.Failure(e) =>
          assert(missingFile(e), s"$what: failed, but not on a missing file: $e")
          "loud"
      }
    }
    // the phrase plan reads the folded deltas' postings, which are gone
    assert(outcomes.last === "loud", outcomes.toString)
    // and a search planned after the compaction answers as before it
    assert(searches.map(_._2().collect().toSeq) === pre)
  }

  test("BM25, phrase, tf-idf and batch-BM25 searches scan no stats, blockmax or tombstones table") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.util.QueryExecutionListener
    import spark.implicits._
    val clean = freshDir("noside")
    TextIndex.build(spark, clean, docs.where(col("doc_id") % 4 === 0))
    for (r <- 1 to 3) TextIndex.append(spark, clean, docs.where(col("doc_id") % 4 === r))
    val dead = freshDir("nosidedel")
    TextIndex.build(spark, dead, docs.where(col("doc_id") % 2 === 0))
    TextIndex.append(spark, dead, docs.where(col("doc_id") % 2 === 1))
    TextIndex.deleteFrom(spark, dead, docs.where(col("doc_id") % 7 === 0).select("doc_id"))
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.optimizedPlan.foreach {
          case r: LogicalRelation => r.relation match {
            case h: HadoopFsRelation => h.location.rootPaths.foreach(p => scanned.add(p.toString))
            case _ => ()
          }
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def scans(body: => Unit): Seq[String] = {
      scanned.clear()
      spark.listenerManager.register(listener)
      try {
        body
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
      scala.jdk.CollectionConverters.CollectionHasAsScala(scanned).asScala.toSeq
    }
    val qs = Seq((1L, "query"), (1L, "join"), (2L, "spark")).toDF("qid", "term")
    for (dir <- Seq(clean, dead)) {
      val seen = scans {
        TextIndex.searchBm25(spark, dir, Seq("query", "join", "table"), 10).collect()
        TextIndex.searchBm25(spark, dir, Seq("query"), 10, mustNot = Seq("slow")).collect()
        TextIndex.searchPhrase(spark, dir, Seq("join", "order"), 10).collect()
        TextIndex.searchTfIdf(spark, dir, Seq("query", "join"), 10).collect()
        TextIndex.searchBatchBm25(spark, dir, qs, 10).collect()
        TextIndex.status(spark, dir)
        TextIndex.corpusStats(spark, dir).collect()
      }
      assert(seen.exists(_.contains("/postings")), s"the listener saw no postings scan: $seen")
      val side = seen.filter(p => Seq("/stats", "/blockmax", "/tombstones").exists(p.contains))
      assert(side.isEmpty, s"$dir: searches scanned side tables:\n${side.mkString("\n")}")
    }
    // positive control: a plain read of a stats table is seen
    assert(scans(spark.read.parquet(TextIndex.statsPath(clean)).collect())
      .exists(_.contains("/stats")))
  }
}
