package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Laws for the band-partitioned probe layout (BandBuckets + the
  * `pbands` tables of the MinHash and embed-LSH indexes): pruning is a
  * SCAN optimization only — probe outputs are bit-identical to the
  * full-scan fallback — and the layout composes with the index
  * lifecycle (append, tombstones, partition-bounded compaction).
  */
class BandLayoutSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Deterministic corpus with planted near-dups: doc i and doc
    * i + 1000 share all but the tail of their 12 hash-derived words. */
  private def corpus(n: Int = 200): DataFrame = {
    import spark.implicits._
    (0 until n).flatMap { i =>
      val words = (0 until 12).map(j => s"w${math.abs((i * 31 + j * 7) % 50)}")
      Seq((i.toLong, "s", words.mkString(" ")),
        (i.toLong + 1000, "s", words.take(10).mkString(" ")))
    }.toDF("doc_id", "source", "text")
  }

  private def probeBatch(n: Int = 40): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val words = (0 until 12).map(j => s"w${math.abs((i * 31 + j * 7) % 50)}")
      (5000L + i, words.take(11).mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def rmDir(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p)) {
      val s = java.nio.file.Files.list(p)
      try s.iterator().forEachRemaining(rmDir) finally s.close()
    }
    java.nio.file.Files.deleteIfExists(p)
    ()
  }

  test("IdBuckets.bucketOfId is the driver-side twin of the bucketOf column") {
    import spark.implicits._
    val ids = Seq(0L, 1L, -1L, 42L, Long.MaxValue, Long.MinValue, 123456789L,
      -987654321L) ++ (0 until 100).map(i => i * 2654435761L + 17)
    val fromCol = ids.toDF("id")
      .select(col("id"), graft.sources.IdBuckets.bucketOf(col("id")).as("b"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    ids.foreach { id =>
      assert(graft.sources.IdBuckets.bucketOfId(id) === fromCol(id),
        s"driver/SQL bucket mismatch for id $id")
    }
  }

  test("minhash: pruned probe output is bit-identical to the full-scan fallback, and the plan actually prunes") {
    import graft.operators.DedupOps
    val dir = java.nio.file.Files.createTempDirectory("bandlaw_mh").toString
    DedupOps.writeMinhashIndex(spark, corpus(), dir)
    assert(graft.sources.BandBuckets.exists(spark, s"$dir/pbands"),
      "writeMinhashIndex must derive the probe layout")
    val batch = probeBatch()
    val pruned = DedupOps.dedupAgainstIndex(spark, batch, dir)
    assert(pruned.count() > 0, "fixture defect: probe found nothing")
    // the literal-IN pruning machinery, asserted on the scan it drives:
    // the candidate tier is materialized behind a barrier since r16 (the
    // per-trigger-constant fix), so the probe's FINAL plan shows the
    // barrier (ExistingRDD), and the directory pruning is pinned on
    // prunedRead directly: it reads only the keys' pband directories
    import spark.implicits._
    import graft.sources.BandBuckets
    val keys = Seq((0, 0L), (1, 7L), (2, 13L), (3, 29L))
    val pr = BandBuckets.prunedRead(spark, s"$dir/pbands", keys.toDF("band", "bucket"))
    val prPlan = pr.queryExecution.executedPlan.toString
    assert(prPlan.contains(s"pbands/${BandBuckets.Col}="),
      s"prunedRead plan does not read the pbands table:\n$prPlan")
    assert(prPlan.contains("PushedFilters: [In(bucket"),
      s"prunedRead plan pushes no bucket IN filter:\n$prPlan")
    val wanted = keys.map { case (b, k) =>
      spark.range(1).select(BandBuckets.partOf(lit(b), lit(k))).head().getInt(0)
    }.toSet
    val readParts = pr.inputFiles.map(f =>
      s"${BandBuckets.Col}=(\\d+)".r.findFirstMatchIn(f).get.group(1).toInt).toSet
    assert(readParts.nonEmpty && readParts.subsetOf(wanted),
      s"prunedRead read pband directories $readParts, wanted only $wanted")
    // pruned path active: the probe's plan carries the candidate barrier
    // and never scans the grouped cbuckets table
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("ExistingRDD") && !plan.contains("cbuckets"),
      s"probe did not take the pruned candidate path:\n${plan.take(4000)}")
    val prunedRows = rows(pruned)
    // delete the probe layout -> same probe must take the full-scan path
    rmDir(java.nio.file.Paths.get(s"$dir/pbands"))
    val fallback = DedupOps.dedupAgainstIndex(spark, batch, dir)
    assert(rows(fallback) === prunedRows,
      "pruned and full-scan probes disagree")
    rmDir(java.nio.file.Paths.get(dir))
  }

  test("minhash: pruned probe honors tombstones and append keeps pbands in sync") {
    import graft.operators.DedupOps
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bandlaw_mh2").toString
    DedupOps.writeMinhashIndex(spark, corpus(), dir)
    val batch = probeBatch()
    val before = DedupOps.dedupAgainstIndex(spark, batch, dir)
      .select("corpus_id").distinct().collect().map(_.getLong(0)).toSet
    assert(before.nonEmpty)
    // tombstone one matched corpus doc: it must stop vetoing immediately
    val dead = before.head
    DedupOps.deleteFromMinhashIndex(spark, Seq(dead).toDF("id"), dir)
    val after = DedupOps.dedupAgainstIndex(spark, batch, dir)
      .select("corpus_id").distinct().collect().map(_.getLong(0)).toSet
    assert(!after.contains(dead), "tombstoned id still matched by pruned probe")
    assert(after === before - dead)
    // append new docs that near-duplicate a fresh probe: found via pbands
    DedupOps.appendToMinhashIndex(spark,
      Seq((9000L, "s", "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")).toDF("doc_id", "source", "text"),
      dir)
    val probeNew = DedupOps.dedupAgainstIndex(spark,
      Seq((9500L, "z1 z2 z3 z4 z5 z6 z7 z8 z9")).toDF("doc_id", "text"), dir)
    assert(probeNew.select("corpus_id").collect().map(_.getLong(0)).toSet === Set(9000L),
      "appended doc not found through the probe layout")
    rmDir(java.nio.file.Paths.get(dir))
  }

  test("minhash compaction folds pbands in place, touching only affected band partitions") {
    import graft.operators.DedupOps
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bandlaw_mhc").toString
    DedupOps.writeMinhashIndex(spark, corpus(), dir)
    val pb = s"$dir/pbands"
    def partFiles(): Map[String, Set[(String, Long, Long)]] = {
      val root = new java.io.File(pb)
      root.listFiles().filter(_.getName.startsWith(graft.sources.BandBuckets.Col + "="))
        .map { d =>
          d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.length(), f.lastModified())).toSet
        }.toMap
    }
    val beforeFiles = partFiles()
    val dead = Seq(7L, 19L)
    DedupOps.deleteFromMinhashIndex(spark, dead.toDF("id"), dir)
    DedupOps.compactMinhashIndex(spark, dir)
    // folded: the dead ids' rows are physically gone from pbands
    val left = spark.read.parquet(pb).where(col("doc_id").isin(dead.map(java.lang.Long.valueOf): _*))
    assert(left.count() === 0, "compaction left tombstoned rows in pbands")
    // partition-bounded: every pband directory NOT holding a dead id's
    // band rows is byte-identical (same files, sizes, mtimes)
    val deadParts = beforeFiles.keySet -- partFiles().keySet ++
      partFiles().collect { case (k, v) if beforeFiles.get(k).exists(_ != v) => k }
    val expectedDirty = corpus().where(col("doc_id").isin(dead.map(java.lang.Long.valueOf): _*))
    // derive the dead docs' band partitions from a fresh signing
    val meta = spark.read.parquet(s"$dir/meta").head()
    val toks = expectedDirty.withColumn("toks", split(col("text"), " "))
    val dirty = graft.operators.DedupOps
      .minhashBandsOf(spark, toks.select(col("doc_id"), col("toks")),
        meta.getAs[Int]("k"), meta.getAs[Int]("bands"))
      .select(graft.sources.BandBuckets.partOf(col("band"), col("bucket")).as("pb"))
      .distinct().collect().map(r => s"${graft.sources.BandBuckets.Col}=${r.getInt(0)}").toSet
    assert(deadParts.subsetOf(dirty),
      s"compaction rewrote partitions outside the dead ids' band rows: ${deadParts -- dirty}")
    // and the folded index still answers identically to a fresh rebuild
    val survivors = corpus().where(!col("doc_id").isin(dead.map(java.lang.Long.valueOf): _*))
    val fresh = java.nio.file.Files.createTempDirectory("bandlaw_mhf").toString
    DedupOps.writeMinhashIndex(spark, survivors, fresh)
    val batch = probeBatch()
    assert(rows(DedupOps.dedupAgainstIndex(spark, batch, dir)) ===
      rows(DedupOps.dedupAgainstIndex(spark, batch, fresh)),
      "folded index probe != fresh-rebuild probe")
    rmDir(java.nio.file.Paths.get(dir))
    rmDir(java.nio.file.Paths.get(fresh))
  }

  /** Deterministic clustered vectors (IndexMaintenanceSpec's fixture
    * shape): planted near-dups are exact copies with shifted ids. */
  private def vectors(n: Int = 320, dim: Int = 16): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def unit(v: Array[Double]): Array[Double] = {
      val s = math.sqrt(v.map(x => x * x).sum); v.map(_ / s)
    }
    val centers = Array.fill(8)(unit(Array.fill(dim)(rnd.nextGaussian())))
    (0 until n).map { i =>
      val noise = unit(Array.fill(dim)(rnd.nextGaussian()))
      (i.toLong, (i % 4).toString,
        unit(centers(i % 8).zip(noise).map { case (a, b) => a + 0.5 * b }).map(_.toFloat))
    }.toDF("vec_id", "label", "embedding")
  }

  test("embed-lsh: pruned probe output is bit-identical to the full-scan fallback; lifecycle stays green") {
    import graft.operators.VectorOps
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("bandlaw_el").toString
    val corp = vectors()
    VectorOps.writeEmbedLshIndex(spark, corp, dir)
    assert(graft.sources.BandBuckets.exists(spark, s"$dir/pbands"),
      "writeEmbedLshIndex must derive the probe layout")
    // batch = exact copies of some corpus vectors (guaranteed matches)
    val batch = corp.where(col("vec_id") < 30)
      .select((col("vec_id") + 100000).as("vec_id"), col("label"), col("embedding"))
    val pruned = VectorOps.dedupEmbedAgainstIndex(spark, batch, dir)
    val prunedRows = rows(pruned)
    // executed BEFORE the rmDir below: `pruned`'s plan captured this
    // generation's file listing and must not be re-run across it
    val matchedIds = pruned.select("corpus_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(prunedRows.nonEmpty, "fixture defect: exact copies not flagged")
    rmDir(java.nio.file.Paths.get(s"$dir/pbands"))
    val fallback = VectorOps.dedupEmbedAgainstIndex(spark, batch, dir)
    assert(rows(fallback) === prunedRows, "pruned and full-scan embed probes disagree")
    // upgrade path: re-derive the layout, probe again
    VectorOps.rebuildEmbedLshProbeLayout(spark, dir)
    assert(rows(VectorOps.dedupEmbedAgainstIndex(spark, batch, dir)) === prunedRows)
    // tombstone one matched corpus vector -> vanishes from the pruned probe
    val deadId = matchedIds.min
    VectorOps.deleteFromEmbedLshIndex(spark, Seq(deadId).toDF("id"), dir)
    val afterDel = VectorOps.dedupEmbedAgainstIndex(spark, batch, dir)
      .select("corpus_id").distinct().collect().map(_.getLong(0)).toSet
    assert(!afterDel.contains(deadId))
    // compaction folds pbands; probe equals fresh rebuild of survivors
    VectorOps.compactEmbedLshIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/pbands")
      .where(col("vec_id") === deadId).count() === 0,
      "compaction left tombstoned rows in embed pbands")
    val fresh = java.nio.file.Files.createTempDirectory("bandlaw_elf").toString
    VectorOps.writeEmbedLshIndex(spark, corp.where(col("vec_id") =!= deadId), fresh)
    assert(rows(VectorOps.dedupEmbedAgainstIndex(spark, batch, dir)) ===
      rows(VectorOps.dedupEmbedAgainstIndex(spark, batch, fresh)),
      "folded embed index probe != fresh-rebuild probe")
    rmDir(java.nio.file.Paths.get(dir))
    rmDir(java.nio.file.Paths.get(fresh))
  }

  test("image hash index: pruned probe output is bit-identical to the full-scan fallback; lifecycle stays green") {
    import graft.sources.{BandBuckets, HashBanding, ImageCodec}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bandlaw_img").toString
    def img(key: Long): Array[Byte] =
      ImageCodec.encodeGrayPng(16, 16, ImageCodec.texturedLuma(key, 16, 16))
    val corpusImgs = (0 until 60).map(i => (i.toLong, img(i + 1L)))
      .toDF("asset_id", "payload")
    ImageCodec.writeImageHashIndex(spark, corpusImgs, dir)
    assert(BandBuckets.exists(spark, s"$dir/pbands"),
      "writeImageHashIndex must derive the probe layout")
    // batch: exact payload copies of corpus images 0..9 (hamming 0)
    val batch = (0 until 10).map(i => (500L + i, img(i + 1L)))
      .toDF("asset_id", "payload")
    val pruned = ImageCodec.dedupImagesAgainstIndex(spark, batch, dir)
    val prunedRows = rows(pruned)
    assert(prunedRows.nonEmpty, "fixture defect: exact copies not flagged")
    rmDir(java.nio.file.Paths.get(s"$dir/pbands"))
    assert(rows(ImageCodec.dedupImagesAgainstIndex(spark, batch, dir)) === prunedRows,
      "pruned and full-scan image probes disagree")
    // upgrade path re-derives; append keeps it in sync
    HashBanding.writeProbeLayout(spark, dir)
    ImageCodec.appendToImageHashIndex(spark,
      Seq((900L, img(7777L))).toDF("asset_id", "payload"), dir)
    val probeNew = ImageCodec.dedupImagesAgainstIndex(spark,
      Seq((950L, img(7777L))).toDF("asset_id", "payload"), dir)
    assert(probeNew.select("corpus_id").collect().map(_.getLong(0)).toSet === Set(900L),
      "appended image not found through the probe layout")
    // tombstone + compact: folded pbands, probe equals fresh rebuild
    ImageCodec.deleteFromImageHashIndex(spark, Seq(3L).toDF("id"), dir)
    ImageCodec.compactImageHashIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/pbands").where(col("asset_id") === 3L).count() === 0,
      "compaction left tombstoned rows in image pbands")
    val after = ImageCodec.dedupImagesAgainstIndex(spark, batch, dir)
      .select("corpus_id").collect().map(_.getLong(0)).toSet
    assert(!after.contains(3L), "compacted id still matched")
    rmDir(java.nio.file.Paths.get(dir))
  }

  test("video hash index: pruned probe output is bit-identical to the full-scan fallback; lifecycle stays green") {
    import graft.sources.{BandBuckets, ImageCodec, VideoCodec}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bandlaw_vid").toString
    def vid(key: Long, frames: Int = 4): Array[Byte] =
      VideoCodec.encodeContainer((0 until frames).map(f =>
        ImageCodec.encodeGrayPng(16, 16, ImageCodec.texturedLuma(key * 977 + f, 16, 16))))
    val corpusVids = (0 until 40).map(i => (i.toLong, vid(i + 1L)))
      .toDF("asset_id", "payload")
    VideoCodec.writeVideoHashIndex(spark, corpusVids, dir)
    assert(BandBuckets.exists(spark, s"$dir/pbands"),
      "writeVideoHashIndex must derive the probe layout")
    // batch: truncated copies of corpus videos 0..5 (3 of 4 frames align)
    val batch = (0 until 6).map(i => (700L + i, vid(i + 1L, frames = 3)))
      .toDF("asset_id", "payload")
    val pruned = VideoCodec.dedupVideosAgainstIndex(spark, batch, dir)
    val prunedRows = rows(pruned)
    assert(prunedRows.nonEmpty, "fixture defect: truncated copies not flagged")
    rmDir(java.nio.file.Paths.get(s"$dir/pbands"))
    assert(rows(VideoCodec.dedupVideosAgainstIndex(spark, batch, dir)) === prunedRows,
      "pruned and full-scan video probes disagree")
    // upgrade path re-derives; append keeps it in sync
    VideoCodec.writeVideoProbeLayout(spark, dir)
    VideoCodec.appendToVideoHashIndex(spark,
      Seq((800L, vid(31337L))).toDF("asset_id", "payload"), dir)
    val probeNew = VideoCodec.dedupVideosAgainstIndex(spark,
      Seq((850L, vid(31337L, frames = 3))).toDF("asset_id", "payload"), dir)
    assert(probeNew.select("corpus_id").collect().map(_.getLong(0)).toSet === Set(800L),
      "appended video not found through the probe layout")
    // tombstone + compact: folded pbands, probe equals fresh state
    VideoCodec.deleteFromVideoHashIndex(spark, Seq(2L).toDF("id"), dir)
    VideoCodec.compactVideoHashIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/pbands").where(col("vid") === 2L).count() === 0,
      "compaction left tombstoned rows in video pbands")
    val after = VideoCodec.dedupVideosAgainstIndex(spark, batch, dir)
      .select("corpus_id").collect().map(_.getLong(0)).toSet
    assert(!after.contains(2L), "compacted video still matched")
    rmDir(java.nio.file.Paths.get(dir))
  }

  test("GenStamp: marker semantics (absent = 0, bump-before-commit, syncDerived)") {
    import graft.sources.GenStamp
    val base = java.nio.file.Files.createTempDirectory("genstamp").toString
    val (p, d) = (s"$base/primary", s"$base/derived")
    assert(GenStamp.read(spark, p) === 0L, "absent marker must read as gen 0")
    // stamps only ever land on EXISTING table dirs (stamp() no-ops on an
    // absent one rather than resurrecting a husk — see the husk test);
    // materialize both tables the way production does: with data
    Seq(p, d).foreach { t =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t))
      java.nio.file.Files.write(java.nio.file.Paths.get(t, "part-0"),
        Array[Byte](1))
    }
    assert(GenStamp.beginAppend(spark, p) === 1L)
    assert(GenStamp.read(spark, p) === 1L)
    // derived absent (0) vs primary 1: diverged
    GenStamp.stamp(spark, d, 0L)
    assert(GenStamp.read(spark, d) === 0L)
    GenStamp.syncDerived(spark, p, d)
    assert(GenStamp.read(spark, d) === 1L, "syncDerived must copy the primary's gen")
    assert(GenStamp.beginAppend(spark, p) === 2L, "beginAppend must be monotone")
    rmDir(java.nio.file.Paths.get(base))
  }

  test("half-appended ingest batch (hashes without pbands): fence detects, retry heals without re-landing") {
    // The crash window in ingestCore's fenced index append
    // (HashBanding.appendHashes): the hashes commit lands, the pbands
    // commit doesn't. The GenStamp fence makes the retry's probe take
    // the full-scan fallback — it SEES the landed hashes, admits
    // NOTHING (no duplicate landing, no duplicate hashes rows), and the
    // retry's append HEALS the layout by re-deriving it; afterwards the
    // pruned probe catches duplicates again.
    import graft.sources.{AssetIngest, BandBuckets, GenStamp, ImageCodec}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("halfapp").toString
    val (idx, data) = (s"$base/idx", s"$base/data")
    def img(key: Long) = ImageCodec.encodeGrayPng(20, 20, ImageCodec.texturedLuma(key, 20, 20))
    // batch 1 bootstraps index + layout
    val r1 = AssetIngest.ingestImageBatch(spark,
      Seq((1L, img(1)), (2L, img(2))).toDF("asset_id", "payload"), idx, data)
    assert(r1.admitted === 2)
    // batch 2 crashes between the hashes and pbands commits (injected)
    val b2 = Seq((10L, img(10)), (11L, img(11))).toDF("asset_id", "payload")
    BandBuckets.failNextAppend = true
    val crash = intercept[IllegalStateException] {
      AssetIngest.ingestImageBatch(spark, b2, idx, data)
    }
    assert(crash.getMessage.contains("fault injection"))
    assert(GenStamp.read(spark, s"$idx/hashes") !== GenStamp.read(spark, s"$idx/pbands"),
      "crashed append must leave the generation stamps diverged")
    val hashRowsAfterCrash = spark.read.parquet(s"$idx/hashes").count()
    val landedAfterCrash = spark.read.parquet(s"$data/assets").count()
    // retry of batch 2: the diverged fence forces the full-scan probe,
    // which sees the landed hashes -> nothing re-admitted or re-landed
    val r2 = AssetIngest.ingestImageBatch(spark, b2, idx, data)
    assert(r2.admitted === 0 && r2.corpusDups === 2,
      s"fenced retry must dedup against the landed hashes, not re-admit: $r2")
    assert(spark.read.parquet(s"$idx/hashes").count() === hashRowsAfterCrash,
      "fenced retry must not append duplicate hashes rows")
    assert(spark.read.parquet(s"$data/assets").count() === landedAfterCrash,
      "fenced retry must not re-land the batch")
    // ...and the retry healed the layout: stamps reconverged, pruned
    // probe catches perceptual duplicates of the crashed batch
    assert(GenStamp.read(spark, s"$idx/hashes") === GenStamp.read(spark, s"$idx/pbands"),
      "retry append must re-derive the layout and reconverge the stamps")
    val dupB2 = Seq((20L, img(10)), (21L, img(11))).toDF("asset_id", "payload")
    val r3 = AssetIngest.ingestImageBatch(spark, dupB2, idx, data)
    assert(r3.admitted === 0 && r3.corpusDups === 2,
      s"healed layout failed to catch duplicates: $r3")
    rmDir(java.nio.file.Paths.get(base))
  }

  test("minhash: crashed append diverges the fence; probe falls back (no false negatives) and the retry heals") {
    import graft.operators.DedupOps
    import graft.sources.{BandBuckets, GenStamp}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fence_mh").toString
    DedupOps.writeMinhashIndex(spark, corpus(), dir)
    assert(GenStamp.read(spark, s"$dir/cbuckets") === GenStamp.read(spark, s"$dir/pbands"))
    val batch = Seq((9000L, "s", "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"))
      .toDF("doc_id", "source", "text")
    BandBuckets.failNextAppend = true
    intercept[IllegalStateException] { DedupOps.appendToMinhashIndex(spark, batch, dir) }
    assert(GenStamp.read(spark, s"$dir/cbuckets") !== GenStamp.read(spark, s"$dir/pbands"),
      "crashed append must leave the stamps diverged")
    // THE law this fence exists for: the near-dup of the crashed batch's
    // doc is in cbuckets but not pbands — a pruned probe would miss it;
    // the diverged fence must force the full scan, which finds it
    val probe = Seq((9500L, "z1 z2 z3 z4 z5 z6 z7 z8 z9")).toDF("doc_id", "text")
    val found = DedupOps.dedupAgainstIndex(spark, probe, dir)
    assert(found.select("corpus_id").collect().map(_.getLong(0)).toSet === Set(9000L),
      "diverged layout silently missed the crashed batch's doc (false negative)")
    // fallback shape: no candidate barrier (that is the pruned path's
    // signature since r16), scans cbuckets instead of the stale layout
    val divergedPlan = found.queryExecution.executedPlan.toString
    assert(!divergedPlan.contains("ExistingRDD") && divergedPlan.contains("cbuckets"),
      s"diverged probe must take the full-scan fallback:\n${divergedPlan.take(4000)}")
    // retry heals: layout re-derived whole, stamps reconverge, probe prunes again
    DedupOps.appendToMinhashIndex(spark, batch, dir)
    assert(GenStamp.read(spark, s"$dir/cbuckets") === GenStamp.read(spark, s"$dir/pbands"))
    val healed = DedupOps.dedupAgainstIndex(spark, probe, dir)
    assert(healed.select("corpus_id").distinct().collect().map(_.getLong(0)).toSet === Set(9000L))
    val healedPlan = healed.queryExecution.executedPlan.toString
    assert(healedPlan.contains("ExistingRDD") && !healedPlan.contains("cbuckets"),
      s"healed probe must be back on the pruned path:\n${healedPlan.take(4000)}")
    rmDir(java.nio.file.Paths.get(dir))
  }

  test("embed-lsh: crashed append diverges the fence; probe falls back and the retry heals") {
    import graft.operators.VectorOps
    import graft.sources.{BandBuckets, GenStamp}
    graft.functions.GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("fence_el").toString
    val corp = vectors()
    VectorOps.writeEmbedLshIndex(spark, corp, dir)
    // crash while appending an exact copy of vector 0 under a new id
    val batch = corp.where(col("vec_id") === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("label"), col("embedding"))
    BandBuckets.failNextAppend = true
    intercept[IllegalStateException] { VectorOps.appendToEmbedLshIndex(spark, batch, dir) }
    assert(GenStamp.read(spark, s"$dir/cbuckets") !== GenStamp.read(spark, s"$dir/pbands"))
    // a copy of the crashed vector must still be flagged (full-scan fallback)
    val probe = corp.where(col("vec_id") === 0)
      .select((col("vec_id") + 200000).as("vec_id"), col("label"), col("embedding"))
    val found = VectorOps.dedupEmbedAgainstIndex(spark, probe, dir)
      .select("corpus_id").collect().map(_.getLong(0)).toSet
    assert(found.contains(100000L),
      "diverged layout silently missed the crashed batch's vector")
    // retry heals
    VectorOps.appendToEmbedLshIndex(spark, batch, dir)
    assert(GenStamp.read(spark, s"$dir/cbuckets") === GenStamp.read(spark, s"$dir/pbands"))
    val healed = VectorOps.dedupEmbedAgainstIndex(spark, probe, dir)
    assert(healed.select("corpus_id").collect().map(_.getLong(0)).toSet.contains(100000L))
    val healedPlan = healed.queryExecution.executedPlan.toString
    assert(healedPlan.contains("ExistingRDD") && !healedPlan.contains("cbuckets"),
      s"healed embed probe must be back on the pruned path:\n${healedPlan.take(4000)}")
    rmDir(java.nio.file.Paths.get(dir))
  }

  test("image + audio: crashed append diverges the fence; probe falls back and the retry heals") {
    import graft.sources.{AudioCodec, BandBuckets, GenStamp, ImageCodec}
    import spark.implicits._
    // image
    val idir = java.nio.file.Files.createTempDirectory("fence_img").toString
    def img(key: Long) = ImageCodec.encodeGrayPng(16, 16, ImageCodec.texturedLuma(key, 16, 16))
    ImageCodec.writeImageHashIndex(spark,
      (0 until 20).map(i => (i.toLong, img(i + 1L))).toDF("asset_id", "payload"), idir)
    BandBuckets.failNextAppend = true
    intercept[IllegalStateException] { ImageCodec.appendToImageHashIndex(spark,
      Seq((900L, img(7777L))).toDF("asset_id", "payload"), idir) }
    assert(GenStamp.read(spark, s"$idir/hashes") !== GenStamp.read(spark, s"$idir/pbands"))
    val iprobe = Seq((950L, img(7777L))).toDF("asset_id", "payload")
    assert(ImageCodec.dedupImagesAgainstIndex(spark, iprobe, idir)
      .select("corpus_id").collect().map(_.getLong(0)).toSet === Set(900L),
      "diverged image layout silently missed the crashed batch's asset")
    ImageCodec.appendToImageHashIndex(spark,
      Seq((901L, img(8888L))).toDF("asset_id", "payload"), idir)
    assert(GenStamp.read(spark, s"$idir/hashes") === GenStamp.read(spark, s"$idir/pbands"))
    val ihealed = ImageCodec.dedupImagesAgainstIndex(spark, iprobe, idir)
    assert(ihealed.select("corpus_id").collect().map(_.getLong(0)).toSet === Set(900L))
    assert(ihealed.queryExecution.executedPlan.toString
      .contains(s"pbands/${graft.sources.BandBuckets.Col}="))
    rmDir(java.nio.file.Paths.get(idir))
    // audio (same engine, own fixture — keeps the family law explicit)
    val adir = java.nio.file.Files.createTempDirectory("fence_aud").toString
    def wav(key: Long) =
      AudioCodec.encodeWavPcm16(Array.tabulate(300)(i => AudioCodec.sampleAt(key, i)))
    AudioCodec.writeAudioHashIndex(spark,
      (0 until 20).map(i => (i.toLong, wav(i + 1L))).toDF("asset_id", "payload"), adir)
    BandBuckets.failNextAppend = true
    intercept[IllegalStateException] { AudioCodec.appendToAudioHashIndex(spark,
      Seq((900L, wav(7777L))).toDF("asset_id", "payload"), adir) }
    assert(GenStamp.read(spark, s"$adir/hashes") !== GenStamp.read(spark, s"$adir/pbands"))
    val aprobe = Seq((950L, wav(7777L))).toDF("asset_id", "payload")
    // containment, not equality: the synthetic envelope hashes are low-
    // entropy enough that 7777's clip also near-matches a corpus clip
    assert(AudioCodec.dedupAudioAgainstIndex(spark, aprobe, adir)
      .select("corpus_id").collect().map(_.getLong(0)).toSet.contains(900L),
      "diverged audio layout silently missed the crashed batch's clip")
    AudioCodec.appendToAudioHashIndex(spark,
      Seq((901L, wav(8888L))).toDF("asset_id", "payload"), adir)
    assert(GenStamp.read(spark, s"$adir/hashes") === GenStamp.read(spark, s"$adir/pbands"))
    assert(AudioCodec.dedupAudioAgainstIndex(spark, aprobe, adir)
      .select("corpus_id").collect().map(_.getLong(0)).toSet.contains(900L))
    rmDir(java.nio.file.Paths.get(adir))
  }

  test("video: crashed append diverges the fence; probe falls back and the retry heals") {
    import graft.sources.{BandBuckets, GenStamp, ImageCodec, VideoCodec}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fence_vid").toString
    def vid(key: Long, frames: Int = 4): Array[Byte] =
      VideoCodec.encodeContainer((0 until frames).map(f =>
        ImageCodec.encodeGrayPng(16, 16, ImageCodec.texturedLuma(key * 977 + f, 16, 16))))
    VideoCodec.writeVideoHashIndex(spark,
      (0 until 20).map(i => (i.toLong, vid(i + 1L))).toDF("asset_id", "payload"), dir)
    BandBuckets.failNextAppend = true
    intercept[IllegalStateException] { VideoCodec.appendToVideoHashIndex(spark,
      Seq((800L, vid(31337L))).toDF("asset_id", "payload"), dir) }
    assert(GenStamp.read(spark, s"$dir/grouped") !== GenStamp.read(spark, s"$dir/pbands"))
    val probe = Seq((850L, vid(31337L, frames = 3))).toDF("asset_id", "payload")
    assert(VideoCodec.dedupVideosAgainstIndex(spark, probe, dir)
      .select("corpus_id").collect().map(_.getLong(0)).toSet === Set(800L),
      "diverged video layout silently missed the crashed batch's video")
    VideoCodec.appendToVideoHashIndex(spark,
      Seq((801L, vid(41414L))).toDF("asset_id", "payload"), dir)
    assert(GenStamp.read(spark, s"$dir/grouped") === GenStamp.read(spark, s"$dir/pbands"))
    val healed = VideoCodec.dedupVideosAgainstIndex(spark, probe, dir)
    assert(healed.select("corpus_id").collect().map(_.getLong(0)).toSet === Set(800L))
    assert(healed.queryExecution.executedPlan.toString
      .contains(s"pbands/${graft.sources.BandBuckets.Col}="))
    rmDir(java.nio.file.Paths.get(dir))
  }

  test("foreachBatch pruned gate emits the same match set as the stream-static gate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import org.apache.spark.sql.SQLContext
    import graft.operators.DedupOps
    import graft.streaming.DocEv
    import spark.implicits._
    implicit val sqlCtx: SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("bandlaw_fb").toString
    DedupOps.writeMinhashIndex(spark, corpus(), dir)
    val batches: Seq[Seq[DocEv]] = (0 until 3).map { t =>
      (0 until 20).map { i =>
        val n = t * 20 + i
        val words = (0 until 12).map(j => s"w${math.abs((n * 31 + j * 7) % 50)}")
        DocEv(6000L + n, new java.sql.Timestamp(1000L * n),
          words.take(11).mkString(" "))
      }
    }
    // reference: the plain stream-static gate (memory sink)
    val mem1 = MemoryStream[DocEv]
    val q1 = graft.streaming.StreamingOps.dedupAgainstIndexStream(mem1.toDF(), dir)
      .writeStream.format("memory").queryName("bandlaw_ref")
      .outputMode(OutputMode.Append()).start()
    batches.foreach { b => mem1.addData(b: _*); q1.processAllAvailable() }
    val refRows = spark.table("bandlaw_ref")
      .select("batch_id", "corpus_id", "jac").collect().map(_.toString).toSet
    q1.stop()
    // per-trigger-flat: the PRUNED batch probe inside foreachBatch
    val got = scala.collection.mutable.Set.empty[String]
    val mem2 = MemoryStream[DocEv]
    val q2 = mem2.toDF().writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        got ++= DedupOps.dedupAgainstIndex(b.sparkSession, b.toDF(), dir)
          .select("batch_id", "corpus_id", "jac").collect().map(_.toString)
        ()
      }.start()
    batches.foreach { b => mem2.addData(b: _*); q2.processAllAvailable() }
    q2.stop()
    assert(got.toSet === refRows,
      "foreachBatch pruned gate and stream-static gate disagree")
    assert(refRows.nonEmpty, "fixture defect: no stream matches")
    rmDir(java.nio.file.Paths.get(dir))
  }

  test("ProbeMode.recommend: budget-tiered scan/cached/pruned, falls back to scan on a diverged layout") {
    import graft.operators.DedupOps
    import graft.sources.{BandBuckets, GenStamp, ProbeMode}
    val dir = java.nio.file.Files.createTempDirectory("probemode").toString
    DedupOps.writeMinhashIndex(spark, corpus(), dir)
    val bytes = graft.plans.Scale.sourceBytes(spark, dir)
    assert(bytes > 0)
    // fits the cache budget -> cached scan, regardless of crossover
    assert(ProbeMode.recommend(spark, dir, "cbuckets",
      cacheBudgetBytes = bytes, crossoverBytes = Some(0)) === ProbeMode.ScanCached)
    // over budget, under crossover -> plain scan
    assert(ProbeMode.recommend(spark, dir, "cbuckets",
      cacheBudgetBytes = 0, crossoverBytes = Some(bytes)) === ProbeMode.Scan)
    // over both, layout present + in sync -> pruned
    assert(ProbeMode.recommend(spark, dir, "cbuckets",
      cacheBudgetBytes = 0, crossoverBytes = Some(0)) === ProbeMode.Pruned)
    // a diverged layout (crashed append) must NOT be recommended:
    // the probe itself would fall back, so the selector says Scan
    GenStamp.stamp(spark, s"$dir/cbuckets", GenStamp.read(spark, s"$dir/cbuckets") + 1)
    assert(ProbeMode.recommend(spark, dir, "cbuckets",
      cacheBudgetBytes = 0, crossoverBytes = Some(0)) === ProbeMode.Scan)
    // absent layout -> Scan too
    rmDir(java.nio.file.Paths.get(s"$dir/pbands"))
    assert(ProbeMode.recommend(spark, dir, "cbuckets",
      cacheBudgetBytes = 0, crossoverBytes = Some(0)) === ProbeMode.Scan)
    rmDir(java.nio.file.Paths.get(dir))
  }

  test("OpenProbe.open heals a diverged layout; the next recommend is Pruned again") {
    import graft.operators.DedupOps
    import graft.sources.{GenStamp, OpenProbe, ProbeMode}
    val dir = java.nio.file.Files.createTempDirectory("openprobe").toString
    DedupOps.writeMinhashIndex(spark, corpus(), dir)
    // healthy + pruned tier: no heal, Pruned straight away
    val ok = OpenProbe.open(spark, dir, OpenProbe.MinhashText,
      cacheBudgetBytes = 0, crossoverBytes = Some(0))
    assert(ok === OpenProbe.Opened(ProbeMode.Pruned, OpenProbe.InSync,
      OpenProbe.InSync, healed = false))
    // diverge the fence (the crashed-append state)
    GenStamp.stamp(spark, s"$dir/cbuckets", GenStamp.read(spark, s"$dir/cbuckets") + 1)
    assert(OpenProbe.layoutStatus(spark, dir, OpenProbe.MinhashText) ===
      OpenProbe.Diverged)
    // heal = false: machine-readable fallback, layout untouched
    val noHeal = OpenProbe.open(spark, dir, OpenProbe.MinhashText,
      cacheBudgetBytes = 0, crossoverBytes = Some(0), heal = false)
    assert(noHeal === OpenProbe.Opened(ProbeMode.Scan, OpenProbe.Diverged,
      OpenProbe.Diverged, healed = false))
    assert(ProbeMode.recommend(spark, dir, "cbuckets", 0, Some(0L)) === ProbeMode.Scan,
      "fixture defect: recommend did not see the divergence")
    // heal = true (default): the open reconverges the layout eagerly...
    val healed = OpenProbe.open(spark, dir, OpenProbe.MinhashText,
      cacheBudgetBytes = 0, crossoverBytes = Some(0))
    assert(healed === OpenProbe.Opened(ProbeMode.Pruned, OpenProbe.InSync,
      OpenProbe.Diverged, healed = true))
    // ...and the NEXT plain recommend is Pruned again — the read-mostly
    // index is off the full-scan path without waiting for an append
    assert(ProbeMode.recommend(spark, dir, "cbuckets", 0, Some(0L)) === ProbeMode.Pruned)
    // absent layout at the pruned tier: open derives it (upgrade path)
    rmDir(java.nio.file.Paths.get(s"$dir/pbands"))
    val fromAbsent = OpenProbe.open(spark, dir, OpenProbe.MinhashText,
      cacheBudgetBytes = 0, crossoverBytes = Some(0))
    assert(fromAbsent === OpenProbe.Opened(ProbeMode.Pruned, OpenProbe.InSync,
      OpenProbe.Absent, healed = true))
    // small tier: a diverged layout is NOT healed (never read there) and
    // the divergence is still reported for the operator to act on
    GenStamp.stamp(spark, s"$dir/cbuckets", GenStamp.read(spark, s"$dir/cbuckets") + 1)
    val small = OpenProbe.open(spark, dir, OpenProbe.MinhashText,
      cacheBudgetBytes = 0, crossoverBytes = Some(Long.MaxValue))
    assert(small === OpenProbe.Opened(ProbeMode.Scan, OpenProbe.Diverged,
      OpenProbe.Diverged, healed = false))
    rmDir(java.nio.file.Paths.get(dir))
  }

  test("ProbeMode calibration file flips recommend's modes — the crossover is measured, not hardcoded") {
    import graft.operators.DedupOps
    import graft.sources.ProbeMode
    val dir = java.nio.file.Files.createTempDirectory("probemode_cal").toString
    DedupOps.writeMinhashIndex(spark, corpus(), dir)
    val bytes = graft.plans.Scale.sourceBytes(spark, dir)
    assert(bytes > 0 && bytes < ProbeMode.DefaultCrossoverBytes)
    // no calibration: the built-in default binds (index is far under
    // 256 MiB -> Scan)
    assert(ProbeMode.readCalibration(spark, dir).isEmpty)
    assert(ProbeMode.recommend(spark, dir, "cbuckets", 0) === ProbeMode.Scan)
    // a measured calibration below the index size flips the SAME call
    // to Pruned — no code change, no hardcoded constant
    ProbeMode.writeCalibration(spark, dir, crossoverBytes = bytes - 1,
      note = "BandLayoutSpec fixture")
    assert(ProbeMode.readCalibration(spark, dir) === Some(bytes - 1))
    assert(ProbeMode.recommend(spark, dir, "cbuckets", 0) === ProbeMode.Pruned)
    // re-measuring (overwrite) flips it back
    ProbeMode.writeCalibration(spark, dir, crossoverBytes = bytes * 10)
    assert(ProbeMode.recommend(spark, dir, "cbuckets", 0) === ProbeMode.Scan)
    // an explicit argument still has the final word over the file
    assert(ProbeMode.recommend(spark, dir, "cbuckets", 0,
      crossoverBytes = Some(0L)) === ProbeMode.Pruned)
    // the ScaleSmoke-number derivation: scan cost linear in bytes,
    // pruned flat — crossover = measuredBytes * pruned/scan
    assert(ProbeMode.crossoverFrom(1000L, 0.5, 1.5) === 3000L)
    rmDir(java.nio.file.Paths.get(dir))
  }

  test("ProbeMode.recommend: an empty index never lands in ScanCached (0-byte / disabled-budget guard)") {
    import graft.sources.ProbeMode
    // not-yet-written index: sourceBytes = 0. Budget 0 means "never
    // pin" — the old <= comparison returned ScanCached here (r16
    // advice), contradicting the scaladoc.
    val dir = java.nio.file.Files.createTempDirectory("probemode_empty").toString
    assert(ProbeMode.recommend(spark, dir, "cbuckets",
      cacheBudgetBytes = 0, crossoverBytes = Some(0)) !== ProbeMode.ScanCached)
    // a positive budget over a 0-byte index pins nothing — Scan as well
    assert(ProbeMode.recommend(spark, dir, "cbuckets",
      cacheBudgetBytes = 1L << 30) === ProbeMode.Scan)
    rmDir(java.nio.file.Paths.get(dir))
  }

  test("GenStamp.stamp on an absent table dir is a no-op (no marker-only husk resurrection)") {
    import graft.sources.{BandBuckets, GenStamp}
    val dir = java.nio.file.Files.createTempDirectory("genstamp_husk").toString
    val table = s"$dir/pbands"
    GenStamp.stamp(spark, table, 3L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(table)),
      "stamp resurrected a husk-dropped table dir to hold its marker")
    assert(GenStamp.read(spark, table) === 0L)
    // and a marker-only dir that somehow exists (pre-fix residue) still
    // reads as "no table" to the layout existence check
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(table))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(table, GenStamp.Marker), "7".getBytes("UTF-8"))
    assert(!BandBuckets.exists(spark, table),
      "a marker-only directory must read as 'no table' — its parquet read " +
        "would crash with 'Unable to infer schema'")
    rmDir(java.nio.file.Paths.get(dir))
  }

  test("all-failed-decode image index: no husk resurrection, probes and appends degrade cleanly") {
    import graft.sources.{BandBuckets, GenStamp, HashBanding, ImageCodec}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bandlaw_empty_img").toString
    // every payload is undecodable garbage -> zero hash rows; the
    // zero-row pbands write husk-drops, and completeRebuild must NOT
    // resurrect it as a marker-only dir (pre-fix: BandBuckets.exists
    // then said "real table" and prunedRead crashed on schema inference)
    val garbage = (0 until 8).map(i => (i.toLong, Array[Byte](1, 2, 3, i.toByte)))
      .toDF("asset_id", "payload")
    ImageCodec.writeImageHashIndex(spark, garbage, dir)
    assert(!BandBuckets.exists(spark, s"$dir/pbands"),
      "empty-corpus build left a probe-layout husk")
    assert(!GenStamp.prunedProbeOk(spark, s"$dir/hashes", s"$dir/pbands",
      "test", "n/a"), "pruned probe eligible over an absent layout")
    def img(key: Long): Array[Byte] =
      ImageCodec.encodeGrayPng(16, 16, ImageCodec.texturedLuma(key, 16, 16))
    val batch = Seq((500L, img(42L))).toDF("asset_id", "payload")
    // probe over the empty index: clean empty result, not a crash
    assert(ImageCodec.dedupImagesAgainstIndex(spark, batch, dir).count() === 0L)
    // first real append lands through the plain-append path and is findable
    ImageCodec.appendToImageHashIndex(spark, batch, dir)
    val found = ImageCodec.dedupImagesAgainstIndex(spark,
      Seq((600L, img(42L))).toDF("asset_id", "payload"), dir)
    assert(found.select("corpus_id").collect().map(_.getLong(0)).toSet === Set(500L),
      "append over the empty index not found by a later probe")
    // the layout upgrade path then derives pbands and probes stay equal
    HashBanding.writeProbeLayout(spark, dir)
    assert(BandBuckets.exists(spark, s"$dir/pbands"))
    rmDir(java.nio.file.Paths.get(dir))
  }
}
