package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The deletion half of the persisted-index lifecycle (takedowns, dedup
  * removals): tombstone deletes are immediately search-invisible, equal a
  * frozen-codebook rebuild without the deleted vectors, survive appends,
  * and compaction folds them into the stored files touching ONLY the
  * affected cell partitions.
  */
class IndexMaintenanceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** 8 true clusters of 40 unit vectors (dim 16), cluster = vec_id % 8 —
    * the LlmOpsSpec recall fixture, reproduced locally. */
  private def clusteredCorpus(): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val dim = 16; val nClusters = 8
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Array.fill(nClusters)(unit(Array.fill(dim)(rnd.nextGaussian())))
    (0 until nClusters * 40).map { i =>
      val c = i % nClusters
      val noise = unit(Array.fill(dim)(rnd.nextGaussian()))
      (i.toLong, c.toString, unit(centers(c).zip(noise).map { case (a, b) => a + 0.8 * b })
        .map(_.toFloat))
    }.toDF("vec_id", "label", "embedding")
  }

  private def files(dir: String): Set[(String, Long, Long)] = {
    val d = new java.io.File(dir)
    if (!d.exists()) Set.empty
    else d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length(), f.lastModified())).toSet
  }

  test("IVF delete: tombstoned search == frozen-codebook rebuild; compaction touches only affected cells") {
    import graft.operators.VectorOps
    import graft.sources.Tombstones
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val e = clusteredCorpus()
    // delete the query's own cluster-mates: the ids most likely to be
    // the query's top hits, so the delete genuinely changes the answer
    val deleted = e.where(col("vec_id") % 8 === 0 && col("vec_id") =!= 0)
      .select("vec_id")
    val deletedIds = deleted.collect().map(_.getLong(0)).toSet
    val survivors = e.where(!col("vec_id").isin(deletedIds.toSeq: _*))
    val dir = java.nio.file.Files.createTempDirectory("ivf_del").toString
    VectorOps.writeIvfIndex(e, cells = 8, dir = dir)
    val before = VectorOps.ivfSearch(VectorOps.readIvfIndex(spark, dir)._1,
      VectorOps.readIvfIndex(spark, dir)._2, queryId = 0, nprobe = 2, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(before.intersect(deletedIds).nonEmpty,
      "fixture defect: the to-be-deleted ids never appeared in the top-10")
    VectorOps.deleteFromIvfIndex(spark, deleted, dir)
    val (cb, postings) = VectorOps.readIvfIndex(spark, dir)
    val afterDelete = VectorOps.ivfSearch(cb, postings, queryId = 0, nprobe = 2, k = 10)
    val afterRows = afterDelete.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(afterRows.map(_._1).toSet.intersect(deletedIds).isEmpty,
      "deleted ids still surfaced in search results")
    // the probe must still prune the cell-partitioned store THROUGH the
    // tombstone anti-join (a delete must not cost partition pruning)
    val plan = afterDelete.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      "tombstoned postings scan lost dynamic partition pruning:\n" + plan.take(2000))
    // frozen-codebook rebuild without the deleted vectors: copy the
    // codebook, assign-only encode the survivors — must search equal
    val dir2 = java.nio.file.Files.createTempDirectory("ivf_del_rebuild").toString
    spark.read.parquet(s"$dir/codebook").write.parquet(s"$dir2/codebook")
    VectorOps.appendToIvfIndex(spark, survivors, dir2)
    val (cb2, p2) = VectorOps.readIvfIndex(spark, dir2)
    val rebuilt = VectorOps.ivfSearch(cb2, p2, queryId = 0, nprobe = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(afterRows === rebuilt,
      s"tombstoned search diverged from the rebuild: $afterRows vs $rebuilt")
    // append after delete: new vectors are searchable, deleted stay gone
    val extra = Seq((9000L, "0", e.where(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray))
      .toDF("vec_id", "label", "embedding")
    VectorOps.appendToIvfIndex(spark, extra, dir)
    val (cb3, p3) = VectorOps.readIvfIndex(spark, dir)
    val afterAppend = VectorOps.ivfSearch(cb3, p3, queryId = 0, nprobe = 2, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(afterAppend.contains(9000L), "appended vector not searchable after a delete")
    assert(afterAppend.intersect(deletedIds).isEmpty)
    // compaction: only affected cell partitions are rewritten
    val allCells = new java.io.File(s"$dir/postings").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).toSet
    val affectedCells = spark.read.parquet(s"$dir/postings")
      .where(col("vec_id").isin(deletedIds.toSeq: _*))
      .select(input_file_name()).distinct().collect()
      .map(r => "cell=[^/]+".r.findFirstIn(r.getString(0)).get).toSet
    val untouched = allCells -- affectedCells
    assert(untouched.nonEmpty,
      s"fixture defect: every cell affected ($allCells), nothing to assert untouched")
    val untouchedBefore = untouched.map(c => c -> files(s"$dir/postings/$c")).toMap
    VectorOps.compactIvfIndex(spark, dir)
    assert(!Tombstones.exists(spark, dir), "compaction left tombstones behind")
    untouched.foreach { c =>
      assert(files(s"$dir/postings/$c") === untouchedBefore(c),
        s"compaction rewrote files of unaffected partition $c")
    }
    // folded store holds exactly the survivors (+ the appended vector)
    val (_, pc) = VectorOps.readIvfIndex(spark, dir)
    assert(pc.count() === survivors.count() + 1)
    assert(pc.where(col("vec_id").isin(deletedIds.toSeq: _*)).count() === 0,
      "compacted postings still contain deleted rows")
    val afterCompact = VectorOps.ivfSearch(VectorOps.readIvfIndex(spark, dir)._1,
      VectorOps.readIvfIndex(spark, dir)._2, queryId = 0, nprobe = 2, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(afterCompact === afterAppend, "compaction changed search results")
  }

  test("PQ and IVFADC delete/compact: deleted ids invisible, IVFADC equals frozen rebuild") {
    import graft.operators.VectorOps
    import graft.sources.Tombstones
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val e = clusteredCorpus()
    val deleted = e.where(col("vec_id") % 8 === 0 && col("vec_id") =!= 0).select("vec_id")
    val deletedIds = deleted.collect().map(_.getLong(0)).toSet
    val survivors = e.where(!col("vec_id").isin(deletedIds.toSeq: _*))
    // PQ (flat codes table)
    val pqDir = java.nio.file.Files.createTempDirectory("pq_del").toString
    VectorOps.writePqIndex(e, m = 4, ks = 8, dir = pqDir)
    VectorOps.deleteFromPqIndex(spark, deleted, pqDir)
    val (pcb, pcodes) = VectorOps.readPqIndex(spark, pqDir)
    val pqAfter = VectorOps.pqSearch(pcb, pcodes, e, k = 10, rerank = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(pqAfter.map(_._1).toSet.intersect(deletedIds).isEmpty)
    VectorOps.compactPqIndex(spark, pqDir)
    assert(!Tombstones.exists(spark, pqDir))
    val (pcb2, pcodes2) = VectorOps.readPqIndex(spark, pqDir)
    assert(pcodes2.count() === survivors.count(), "compacted PQ codes row count off")
    val pqCompact = VectorOps.pqSearch(pcb2, pcodes2, e, k = 10, rerank = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(pqCompact === pqAfter, "PQ compaction changed search results")
    // IVFADC (cell-partitioned codes): frozen-rebuild equivalence too
    val adcDir = java.nio.file.Files.createTempDirectory("adc_del").toString
    VectorOps.writeIvfPqIndex(e, cells = 8, m = 4, ks = 8, dir = adcDir)
    VectorOps.deleteFromIvfPqIndex(spark, deleted, adcDir)
    val (ac, ap, ak) = VectorOps.readIvfPqIndex(spark, adcDir)
    val adcAfter = VectorOps.ivfPqSearch(ac, ap, ak, e, nprobe = 2, k = 10, rerank = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(adcAfter.map(_._1).toSet.intersect(deletedIds).isEmpty)
    val adcDir2 = java.nio.file.Files.createTempDirectory("adc_del_rebuild").toString
    spark.read.parquet(s"$adcDir/coarse").write.parquet(s"$adcDir2/coarse")
    spark.read.parquet(s"$adcDir/pq_codebooks").write.parquet(s"$adcDir2/pq_codebooks")
    VectorOps.appendToIvfPqIndex(spark, survivors, adcDir2)
    val (rc, rp, rk) = VectorOps.readIvfPqIndex(spark, adcDir2)
    val rebuilt = VectorOps.ivfPqSearch(rc, rp, rk, e, nprobe = 2, k = 10, rerank = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(adcAfter === rebuilt,
      "IVFADC tombstoned search diverged from the frozen-codebook rebuild")
    VectorOps.compactIvfPqIndex(spark, adcDir)
    assert(!Tombstones.exists(spark, adcDir))
    val (cc, cp, ck) = VectorOps.readIvfPqIndex(spark, adcDir)
    assert(ck.count() === survivors.count())
    val adcCompact = VectorOps.ivfPqSearch(cc, cp, ck, e, nprobe = 2, k = 10, rerank = 100)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(adcCompact === adcAfter, "IVFADC compaction changed search results")
    // the append dim guard fails loudly on a mis-wired batch
    val bad = Seq((7777L, "0", Array.fill(8)(0.1f))).toDF("vec_id", "label", "embedding")
    val err = intercept[IllegalArgumentException] {
      VectorOps.appendToIvfPqIndex(spark, bad, adcDir)
    }
    assert(err.getMessage.contains("dimension"))
  }

  test("MinHash delete: deleted corpus docs stop vetoing batches; compact folds both tables") {
    import graft.operators.DedupOps
    import graft.sources.Tombstones
    import spark.implicits._
    val mk = (i: Int) => (1 to 12).map(t => s"w${i}_$t").mkString(" ")
    val corpus = Seq((1L, "a", mk(1)), (2L, "a", mk(2)), (3L, "a", mk(3)))
      .toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_del").toString
    DedupOps.writeMinhashIndex(spark, corpus, dir)
    // near-dup of corpus doc 1 (last 2 tokens cut)
    val batch = Seq((101L, "a", (1 to 10).map(t => s"w1_$t").mkString(" ")))
      .toDF("doc_id", "source", "text")
    assert(DedupOps.dedupAgainstIndex(spark, batch, dir).count() > 0,
      "fixture defect: planted near-dup not flagged before the delete")
    DedupOps.deleteFromMinhashIndex(spark, Seq(1L).toDF("doc_id"), dir)
    assert(DedupOps.dedupAgainstIndex(spark, batch, dir).count() === 0,
      "a deleted corpus doc still vetoed the batch")
    // append after delete: the index keeps growing normally
    DedupOps.appendToMinhashIndex(spark,
      Seq((4L, "a", mk(4))).toDF("doc_id", "source", "text"), dir)
    val b4 = Seq((104L, "a", (1 to 10).map(t => s"w4_$t").mkString(" ")))
      .toDF("doc_id", "source", "text")
    assert(DedupOps.dedupAgainstIndex(spark, b4, dir).count() > 0,
      "appended-after-delete corpus doc not probed")
    DedupOps.compactMinhashIndex(spark, dir)
    assert(!Tombstones.exists(spark, dir))
    assert(spark.read.parquet(s"$dir/cbuckets").where(col("doc_id") === 1L).count() === 0)
    assert(spark.read.parquet(s"$dir/shingles").where(col("doc_id") === 1L).count() === 0)
    assert(DedupOps.dedupAgainstIndex(spark, batch, dir).count() === 0,
      "compaction resurrected a deleted corpus doc")
    assert(DedupOps.dedupAgainstIndex(spark, b4, dir).count() > 0,
      "compaction lost a live corpus doc")
  }

  test("Embed-LSH index: probe flags copies, full lifecycle, dim guard, flood cap") {
    import graft.operators.VectorOps
    import graft.sources.Tombstones
    import spark.implicits._
    val corpus = clusteredCorpus() // dim 16, labels "0".."7"
    val dir = java.nio.file.Files.createTempDirectory("elsh").toString
    VectorOps.writeEmbedLshIndex(spark, corpus, dir)
    // batch: an exact copy of corpus vec 5 + a genuinely novel vector in
    // the same label block (cos >= 0.99 with anything stored is
    // astronomically unlikely at dim 16; the fixed seed makes it pinned)
    val v5 = corpus.where(col("vec_id") === 5L)
      .select("label", "embedding").head()
    val rnd = new scala.util.Random(99)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val novel = unit(Array.fill(16)(rnd.nextGaussian())).map(_.toFloat)
    val batch = Seq(
      (1005L, v5.getString(0), v5.getSeq[Float](1).toArray),
      (1006L, v5.getString(0), novel)).toDF("vec_id", "label", "embedding")
    val hits = VectorOps.dedupEmbedAgainstIndex(spark, batch, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(hits.exists(h => h._1 == 1005L && h._2 == 5L && h._3 >= 0.999999),
      s"planted exact copy not flagged: ${hits.toSeq}")
    assert(!hits.exists(_._1 == 1006L), s"novel vector falsely flagged: ${hits.toSeq}")
    // append grows the corpus; a copy of the appended vector is now caught
    VectorOps.appendToEmbedLshIndex(spark, batch, dir)
    val probe2 = Seq((2006L, v5.getString(0), novel)).toDF("vec_id", "label", "embedding")
    assert(VectorOps.dedupEmbedAgainstIndex(spark, probe2, dir)
      .where(col("corpus_id") === 1006L).count() === 1,
      "appended vector not probed")
    // delete vec 5: it stops vetoing, but its appended copy (1005) still does
    VectorOps.deleteFromEmbedLshIndex(spark, Seq(5L).toDF("vec_id"), dir)
    val afterDel = VectorOps.dedupEmbedAgainstIndex(spark, batch, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!afterDel.contains((1005L, 5L)), "a deleted corpus vector still vetoed")
    assert(afterDel.contains((1005L, 1005L)), "delete of 5 also hid its live copy 1005")
    // compaction folds the tombstone into both stored tables
    VectorOps.compactEmbedLshIndex(spark, dir)
    assert(!Tombstones.exists(spark, dir))
    assert(spark.read.parquet(s"$dir/cbuckets").where(col("vec_id") === 5L).count() === 0)
    assert(spark.read.parquet(s"$dir/embeddings").where(col("vec_id") === 5L).count() === 0)
    val afterCompact = VectorOps.dedupEmbedAgainstIndex(spark, batch, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(afterCompact.toSet === afterDel.toSet,
      "compaction changed probe results")
    // dim guard: a mis-wired batch fails loudly, not silently garbage-signs
    val dim8 = Seq((3001L, "5", Array.fill(8)(0.5f))).toDF("vec_id", "label", "embedding")
    val exDim = intercept[IllegalArgumentException] {
      VectorOps.dedupEmbedAgainstIndex(spark, dim8, dir)
    }
    assert(exDim.getMessage.contains("dimension"))
    // flood cap: a degenerate mass-identical corpus raises loudly at
    // probe time instead of silently scanning the pile per probe row
    val same = unit(Array.fill(16)(rnd.nextGaussian())).map(_.toFloat)
    val degenerate = (0L until 100L).map(i => (i, "x", same))
      .toDF("vec_id", "label", "embedding")
    val dir2 = java.nio.file.Files.createTempDirectory("elsh_flood").toString
    VectorOps.writeEmbedLshIndex(spark, degenerate, dir2)
    val probeOne = Seq((500L, "x", same)).toDF("vec_id", "label", "embedding")
    val exCap = intercept[Exception] {
      VectorOps.dedupEmbedAgainstIndex(spark, probeOne, dir2, maxBucket = 50).count()
    }
    assert(exCap.getMessage.contains("exceeds cap") ||
      Option(exCap.getCause).exists(_.getMessage.contains("exceeds cap")))
    // <= 0 disables the guard knowingly; all 100 copies then flag
    assert(VectorOps.dedupEmbedAgainstIndex(spark, probeOne, dir2, maxBucket = 0)
      .count() === 100)
    // the guard inspects ONLY probed buckets: a probe that never touches
    // the flooded bucket (different label block) completes clean — this
    // is the behavioral face of the O(batch) shape, where the stored
    // side is pruned to the batch's buckets BEFORE any corpus-wide work
    val probeOther = Seq((501L, "y", unit(Array.fill(16)(rnd.nextGaussian())).map(_.toFloat)))
      .toDF("vec_id", "label", "embedding")
    assert(VectorOps.dedupEmbedAgainstIndex(spark, probeOther, dir2, maxBucket = 50)
      .count() === 0,
      "a probe of untouched buckets must not trip the unrelated flood cap")
  }

  test("bucketed compaction: minhash + embed-LSH rewrite ONLY the partitions holding tombstoned ids") {
    import graft.operators.{DedupOps, VectorOps}
    import graft.sources.{IdBuckets, Tombstones}
    import spark.implicits._
    def partDirs(table: String): Set[String] = {
      val d = new java.io.File(table)
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.getName.startsWith(s"${IdBuckets.Col}="))
        .map(_.getName).toSet
    }
    def snapshot(table: String): Map[String, Set[(String, Long, Long)]] =
      partDirs(table).map(p => p -> files(s"$table/$p")).toMap

    // ---- MinHash: 30 docs spread across id buckets, delete one ----
    val mk = (i: Int) => (1 to 12).map(t => s"v${i}_$t").mkString(" ")
    val corpus = (1 to 30).map(i => (i.toLong, "a", mk(i))).toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("mh_bucketed").toString
    DedupOps.writeMinhashIndex(spark, corpus, dir)
    DedupOps.deleteFromMinhashIndex(spark, Seq(7L).toDF("doc_id"), dir)
    val tables = Seq(s"$dir/cbuckets", s"$dir/shingles")
    def affectedOf(table: String): Set[String] =
      spark.read.parquet(table).where(col("doc_id") === 7L)
        .select(input_file_name()).distinct().collect()
        .map(r => s"${IdBuckets.Col}=[^/]+".r.findFirstIn(r.getString(0)).get).toSet
    val mhAffected = tables.map(t => t -> affectedOf(t)).toMap
    val mhUntouched = tables.map(t => t -> (partDirs(t) -- mhAffected(t))).toMap
    tables.foreach { t =>
      assert(mhAffected(t).nonEmpty && mhUntouched(t).nonEmpty,
        s"fixture defect at $t: affected=${mhAffected(t)} untouched=${mhUntouched(t).size}")
    }
    val mhBefore = tables.map(t => t -> snapshot(t)).toMap
    DedupOps.compactMinhashIndex(spark, dir)
    assert(!Tombstones.exists(spark, dir))
    tables.foreach { t =>
      mhUntouched(t).foreach { p =>
        assert(files(s"$t/$p") === mhBefore(t)(p),
          s"compaction rewrote files of unaffected partition $t/$p")
      }
      assert(spark.read.parquet(t).where(col("doc_id") === 7L).count() === 0,
        s"compaction left the deleted id in $t")
    }
    assert(spark.read.parquet(s"$dir/cbuckets").count() === 29)

    // ---- embed-LSH: the clustered corpus, delete one vector ----
    val e = clusteredCorpus()
    val edir = java.nio.file.Files.createTempDirectory("elsh_bucketed").toString
    VectorOps.writeEmbedLshIndex(spark, e, edir)
    VectorOps.deleteFromEmbedLshIndex(spark, Seq(5L).toDF("vec_id"), edir)
    val table = s"$edir/cbuckets"
    val affected = spark.read.parquet(table).where(col("vec_id") === 5L)
      .select(input_file_name()).distinct().collect()
      .map(r => s"${IdBuckets.Col}=[^/]+".r.findFirstIn(r.getString(0)).get).toSet
    val untouched = partDirs(table) -- affected
    assert(affected.nonEmpty && untouched.nonEmpty)
    val before = snapshot(table)
    val beforeEmb = snapshot(s"$edir/embeddings")
    VectorOps.compactEmbedLshIndex(spark, edir)
    assert(!Tombstones.exists(spark, edir))
    untouched.foreach { p =>
      assert(files(s"$table/$p") === before(p),
        s"compaction rewrote files of unaffected partition $table/$p")
    }
    // embeddings table buckets by the same id hash — same affected set
    (beforeEmb.keySet -- affected).foreach { p =>
      assert(files(s"$edir/embeddings/$p") === beforeEmb(p),
        s"compaction rewrote files of unaffected partition embeddings/$p")
    }
    assert(spark.read.parquet(table).where(col("vec_id") === 5L).count() === 0)
    assert(spark.read.parquet(s"$edir/embeddings").where(col("vec_id") === 5L).count() === 0)
    assert(spark.read.parquet(s"$edir/embeddings").count() === e.count() - 1)
  }

  test("index bucket-stats diagnostics surface planted floods at their true populations") {
    import graft.operators.{DedupOps, VectorOps}
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val base = java.nio.file.Files.createTempDirectory("idx_stats").toString
    // minhash: 15 docs with IDENTICAL text flood one bucket per band;
    // 20 distinct docs are background
    val boil = (1 to 20).map(t => s"same_$t").mkString(" ")
    val mk = (i: Int) => (1 to 20).map(t => s"w${i}_$t").mkString(" ")
    val docs = ((1 to 15).map(i => (i.toLong, "a", boil)) ++
      (100 to 119).map(i => (i.toLong, "a", mk(i)))).toDF("doc_id", "source", "text")
    DedupOps.writeMinhashIndex(spark, docs, s"$base/mh")
    val mhStats = DedupOps.minhashBucketStats(spark, s"$base/mh", perBand = 2)
      .collect().map(r => (r.getInt(0), r.getLong(2)))
    val mhTop = mhStats.groupBy(_._1).map { case (b, rows) => b -> rows.map(_._2).max }
    assert(mhTop.keySet === (0 until 4).toSet)
    mhTop.foreach { case (b, pop) =>
      assert(pop === 15L, s"band $b top population $pop != planted flood 15")
    }
    // tombstoning flood members shrinks the reported population
    DedupOps.deleteFromMinhashIndex(spark, (1L to 5L).toDF("doc_id"), s"$base/mh")
    val afterDel = DedupOps.minhashBucketStats(spark, s"$base/mh", perBand = 1)
      .collect().map(_.getLong(2)).max
    assert(afterDel === 10L)

    // embed-LSH: 12 identical vectors flood one (label, band, bucket)
    // cell per band; stats key matches the probe guard's key
    val rnd = new scala.util.Random(5)
    def unit(): Array[Float] = {
      val v = Array.fill(8)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum); v.map(x => (x / n).toFloat)
    }
    val dup = unit()
    val vecs = ((1 to 12).map(i => (i.toLong, "x", dup)) ++
      (100 to 119).map(i => (i.toLong, "x", unit()))).toDF("vec_id", "label", "embedding")
    VectorOps.writeEmbedLshIndex(spark, vecs, s"$base/el")
    val elStats = VectorOps.embedLshBucketStats(spark, s"$base/el", perBand = 2)
      .collect().map(r => (r.getInt(1), r.getLong(3)))
    val elTop = elStats.groupBy(_._1).map { case (b, rows) => b -> rows.map(_._2).max }
    assert(elTop.keySet === (0 until 4).toSet)
    elTop.foreach { case (b, pop) =>
      assert(pop >= 12L, s"band $b top population $pop below planted flood 12")
    }
  }

  test("mass-deletion fold: tombstones spanning all 64 buckets use the shuffle fallback") {
    import graft.sources.{IdBuckets, Tombstones}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("mass_fold").toString
    val table = s"$base/tbl"
    val all = (1L to 2000L)
    IdBuckets.write(all.map(i => (i, s"p$i")).toDF("id", "payload"),
      "id", table, "overwrite")
    val dead = all.filter(_ % 2 == 1)
    Tombstones.append(spark, dead.toDF("id"), base)
    // fixture sanity: the tombstone set really touches every id bucket,
    // so the fold rewrites the WHOLE table (the worst case the broadcast
    // gate exists for)
    val touched = dead.toDF("id")
      .select(IdBuckets.bucketOf(col("id"))).distinct().count()
    assert(touched === IdBuckets.NumBuckets.toLong, s"fixture covers $touched buckets")
    // force the fallback: every tombstone count is over the gate
    IdBuckets.foldIntoBucketed(spark, table, base, "id",
      maxBroadcastTombstones = 1L)
    val left = IdBuckets.read(spark, table).select("id").as[Long].collect().toSet
    assert(left === all.filter(_ % 2 == 0).toSet)

    // the same gate serves the flat fold and the banded lifecycle's
    // compaction (the deleted-band-row semi-join, the pbands fold and the
    // id-bucket folds): over the gate, with auto-broadcast off, no fold
    // join broadcasts; under it, the tombstones are broadcast
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.operators.DedupOps
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val autoKeys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    def broadcastsIn(body: => Unit): Boolean = {
      val saved = autoKeys.map(k => k -> spark.conf.getOption(k))
      autoKeys.foreach(spark.conf.set(_, "-1"))
      plans.clear()
      spark.listenerManager.register(listener)
      try {
        body
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
      } finally {
        spark.listenerManager.unregister(listener)
        saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      }
      assert(!plans.isEmpty, "the listener saw no fold query")
      scala.jdk.CollectionConverters.CollectionHasAsScala(plans).asScala
        .exists(_.contains("BroadcastHashJoin"))
    }
    val survivors = all.filter(_ % 2 == 0).toSet
    def flatTable(name: String): String = {
      val t = s"$base/$name"
      all.toDF("id").write.parquet(t)
      t
    }
    val flat = flatTable("flat")
    assert(!broadcastsIn(Tombstones.foldIntoFlat(spark, flat, base, "id",
      maxBroadcastTombstones = 1L)), "the flat fold broadcast past its gate")
    assert(spark.read.parquet(flat).as[Long].collect().toSet === survivors)
    val flat2 = flatTable("flat2")
    assert(broadcastsIn(Tombstones.foldIntoFlat(spark, flat2, base, "id")),
      "control: the flat fold did not broadcast a small tombstone set")
    assert(spark.read.parquet(flat2).as[Long].collect().toSet === survivors)
    val mh = s"$base/mh"
    val docIds = 1L to 200L
    DedupOps.writeMinhashIndex(spark,
      docIds.map(i => (i, "s", s"a$i b$i c$i d$i e$i")).toDF("doc_id", "source", "text"), mh)
    DedupOps.deleteFromMinhashIndex(spark, docIds.filter(_ % 2 == 1).toDF("id"), mh)
    assert(!broadcastsIn(DedupOps.MinhashIndex.compact(spark, mh, maxBroadcastTombstones = 1L)),
      "the banded compaction broadcast past its gate")
    for (t <- Seq("pbands", "cbuckets", "shingles"))
      assert(spark.read.parquet(s"$mh/$t").select("doc_id").distinct().as[Long]
        .collect().toSet === docIds.filter(_ % 2 == 0).toSet, s"$t after the shuffle fold")
  }

  test("composed embedding ingest loop: bootstrap, gate, in-batch dedup, corpus probe, retry") {
    import graft.operators.VectorOps
    import graft.sources.AssetIngest
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ingest_emb").toString
    val indexDir = s"$base/idx"; val dataDir = s"$base/data"
    val rnd = new scala.util.Random(5)
    def unit(): Array[Float] = {
      val v = Array.fill(16)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum); v.map(x => (x / n).toFloat)
    }
    val v1 = unit(); val v2 = unit(); val v7 = unit()
    def df(rows: (Long, String, Array[Float])*) =
      rows.toDF("vec_id", "label", "embedding")

    // degenerate FIRST batch: nothing valid — clean accounting, no index
    // or store created, the next batch still bootstraps normally
    val r0 = AssetIngest.ingestEmbedBatch(spark,
      df((99L, "x", null)), indexDir, dataDir)
    assert(r0 === AssetIngest.IngestReport(0, 0, 0, 1))

    // batch 1 BOOTSTRAPS the index: 2 novel, 1 in-batch copy of vec 2,
    // 1 null embedding (undecodable), 1 wrong-width vector (gated — the
    // batch's first valid row fixes dim 16)
    val r1 = AssetIngest.ingestEmbedBatch(spark,
      df((1L, "x", v1), (2L, "x", v2), (3L, "x", v2),
        (4L, "x", null), (5L, "x", Array.fill(8)(0.5f))),
      indexDir, dataDir)
    assert(r1 === AssetIngest.IngestReport(admitted = 2, inBatchDups = 1,
      corpusDups = 0, undecodable = 1, gated = 1))
    assert(spark.read.parquet(s"$dataDir/vectors")
      .select("vec_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // the bootstrap wrote a real index: meta pins dim 16, 2 grouped
    // signature rows of 4 band buckets each
    assert(spark.read.parquet(s"$indexDir/meta").head().getAs[Int]("dim") === 16)
    val sigs = spark.read.parquet(s"$indexDir/cbuckets")
    assert(sigs.count() === 2)
    assert(sigs.select(size(col("cbuckets"))).as[Int].collect().toSeq === Seq(4, 4))

    // batch 2: corpus dup of vec 1 + a novel vector; retry self-heals
    val r2 = AssetIngest.ingestEmbedBatch(spark,
      df((10L, "x", v1), (11L, "x", v7)), indexDir, dataDir)
    assert(r2 === AssetIngest.IngestReport(1, 0, 1, 0))
    val r3 = AssetIngest.ingestEmbedBatch(spark, df((11L, "x", v7)), indexDir, dataDir)
    assert(r3 === AssetIngest.IngestReport(0, 0, 1, 0))

    // takedown flows through: a copy of the deleted vector re-admits
    VectorOps.deleteFromEmbedLshIndex(spark, Seq(2L).toDF("vec_id"), indexDir)
    val r4 = AssetIngest.ingestEmbedBatch(spark, df((20L, "x", v2)), indexDir, dataDir)
    assert(r4 === AssetIngest.IngestReport(1, 0, 0, 0))
  }

  test("embed ingest maintains a persisted IVF retrieval index; retrainOnDrift heals in-loop") {
    import graft.operators.VectorOps
    import graft.sources.AssetIngest
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ingest_ivf").toString
    val (lsh, data, ivf) = (s"$base/lsh", s"$base/data", s"$base/ivf")
    val rnd = new scala.util.Random(7)
    def unit(): Array[Float] = {
      val v = Array.fill(16)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum); v.map(x => (x / n).toFloat)
    }
    val w1vecs = Array.fill(48)(unit())
    def df(rows: Seq[(Long, String, Array[Float])]) =
      rows.toDF("vec_id", "label", "embedding")
    // full-probe search through the store must equal exact kNN over the
    // landed vectors — the retrieval-tier consistency the hook maintains
    def assertExact(queryId: Long, k: Int): Unit = {
      graft.functions.GraftFunctions.register(spark)
      val (cb, postings) = VectorOps.readIvfIndex(spark, ivf)
      val got = VectorOps.ivfSearch(cb, postings, queryId, nprobe = 64, k = k)
        .collect().map(_.getLong(0)).toSeq
      val landed = spark.read.parquet(s"$data/vectors")
      val qv = landed.where(col("vec_id") === queryId)
        .select(col("embedding").as("qv"))
      val exact = landed.where(col("vec_id") =!= queryId)
        .crossJoin(broadcast(qv))
        .withColumn("sim", round(expr("graft_dot(embedding, qv)"), 6))
        .orderBy(col("sim").desc, col("vec_id").asc).limit(k)
        .collect().map(_.getLong(0)).toSeq
      assert(got === exact, s"IVF store diverged from exact kNN over landed (q=$queryId)")
    }

    // window 1 bootstraps the IVF store alongside the LSH dedup index
    val r1 = AssetIngest.ingestEmbedBatch(spark,
      df(w1vecs.zipWithIndex.map { case (v, i) => (i.toLong, "x", v) }.toSeq),
      lsh, data, batchId = Some("w1"), ivfIndexDir = Some(ivf), ivfCells = 8)
    assert(r1.admitted === 48)
    val (_, p1) = VectorOps.readIvfIndex(spark, ivf)
    assert(p1.count() === 48)
    assertExact(queryId = 3L, k = 5)

    // window 2: the ANTIPODES of window 1 — not near-dups (cos = -1),
    // but maximally far from every trained centroid: the drift monitor
    // must flag after the frozen-codebook append
    val r2 = AssetIngest.ingestEmbedBatch(spark,
      df(w1vecs.zipWithIndex.map { case (v, i) =>
        (100L + i, "x", v.map(x => -x)) }.toSeq),
      lsh, data, batchId = Some("w2"), ivfIndexDir = Some(ivf), ivfCells = 8)
    assert(r2.admitted === 48)
    assert(VectorOps.ivfDriftStats(spark, ivf).get.retrainRecommended,
      "antipodal append must trip the drift monitor")

    // window 3 with retrainOnDrift: the loop itself consults the monitor
    // and retrains from live postings — flag clears, store stays exact
    val r3 = AssetIngest.ingestEmbedBatch(spark,
      df(Seq((200L, "x", unit()))),
      lsh, data, batchId = Some("w3"), ivfIndexDir = Some(ivf), ivfCells = 8,
      retrainOnDrift = true)
    assert(r3.admitted === 1)
    val d = VectorOps.ivfDriftStats(spark, ivf).get
    assert(!d.retrainRecommended, s"retrainOnDrift did not heal the store: $d")
    assert(d.nNow === 97L, "retrained postings must hold every landed vector")
    assertExact(queryId = 103L, k = 5)
  }

  test("composed text ingest loop: bootstrap, quality gate, in-batch dedup, corpus probe, retry") {
    import graft.operators.DedupOps
    import graft.sources.AssetIngest
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ingest_txt").toString
    val indexDir = s"$base/idx"; val dataDir = s"$base/data"
    // 60 disjoint tokens per doc: quality score = 0 * 0.3 + 60/100-capped
    // length term = 0.42 >= the 0.3 default gate
    val mk = (i: Int) => (1 to 60).map(t => s"w${i}_$t").mkString(" ")
    def cut(i: Int, keep: Int) = (1 to keep).map(t => s"w${i}_$t").mkString(" ")
    def df(rows: (Long, String, String)*) = rows.toDF("doc_id", "source", "text")

    // degenerate FIRST batch: all blank — clean accounting, no index or
    // store created, the next batch still bootstraps normally
    val r0 = AssetIngest.ingestTextBatch(spark,
      df((98L, "a", null), (99L, "a", "   ")), indexDir, dataDir)
    assert(r0 === AssetIngest.IngestReport(0, 0, 0, 2))

    // batch 1 BOOTSTRAPS the index: 2 novel, 1 in-batch near-dup of doc 2
    // (5 tokens cut), 1 null text (undecodable), 1 three-token doc whose
    // score (~0.12) fails the quality gate
    val r1 = AssetIngest.ingestTextBatch(spark,
      df((1L, "a", mk(1)), (2L, "a", mk(2)), (3L, "a", cut(2, 55)),
        (4L, "a", null), (5L, "a", "q r s")),
      indexDir, dataDir)
    assert(r1 === AssetIngest.IngestReport(admitted = 2, inBatchDups = 1,
      corpusDups = 0, undecodable = 1, gated = 1))
    val landed = spark.read.parquet(s"$dataDir/docs")
    assert(landed.select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    assert(landed.where($"n_tok" === 60 && $"score" >= 0.3).count() === 2)
    // the bootstrap wrote a real MinHash index with the default banding
    val meta = spark.read.parquet(s"$indexDir/meta").head()
    assert(meta.getAs[Int]("k") === 16 && meta.getAs[Int]("bands") === 4)

    // batch 2: corpus near-dup of doc 1 + a novel doc; retry self-heals
    val r2 = AssetIngest.ingestTextBatch(spark,
      df((10L, "a", cut(1, 55)), (11L, "a", mk(7))), indexDir, dataDir)
    assert(r2 === AssetIngest.IngestReport(1, 0, 1, 0))
    val r3 = AssetIngest.ingestTextBatch(spark, df((11L, "a", mk(7))), indexDir, dataDir)
    assert(r3 === AssetIngest.IngestReport(0, 0, 1, 0))

    // takedown flows through: a near-dup of the deleted doc re-admits
    DedupOps.deleteFromMinhashIndex(spark, Seq(2L).toDF("doc_id"), indexDir)
    val r4 = AssetIngest.ingestTextBatch(spark, df((20L, "a", cut(2, 55))), indexDir, dataDir)
    assert(r4 === AssetIngest.IngestReport(1, 0, 0, 0))
  }

  test("all-gated first text batch strands no husk; a husk index reads as empty corpus") {
    import graft.sources.AssetIngest
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ingest_husk").toString
    val indexDir = s"$base/idx"; val dataDir = s"$base/data"
    val mk = (i: Int) => (1 to 60).map(t => s"w${i}_$t").mkString(" ")
    def df(rows: (Long, String, String)*) = rows.toDF("doc_id", "source", "text")
    // first batch: non-blank but ALL quality-gated (3-token docs score
    // ~0.12 < 0.3). Pre-r12 this wrote a meta-only husk (IdBuckets
    // normalizes the empty cbuckets write away) and the NEXT batch died
    // probing the missing path; now nothing is written at all
    val r0 = AssetIngest.ingestTextBatch(spark,
      df((1L, "a", "q r s"), (2L, "a", "t u v")), indexDir, dataDir)
    assert(r0 === AssetIngest.IngestReport(0, 0, 0, 0, gated = 2))
    val hfs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/meta")))
    // second batch bootstraps and probes cleanly
    val r1 = AssetIngest.ingestTextBatch(spark,
      df((10L, "a", mk(1)), (11L, "a", mk(2))), indexDir, dataDir)
    assert(r1 === AssetIngest.IngestReport(2, 0, 0, 0))

    // a husk written by another engine (meta present, data tables
    // normalized away) must read as EMPTY CORPUS and be rebuilt with the
    // meta's parameters, not crash on the missing cbuckets path
    val huskDir = s"$base/husk"
    Seq((8, 2, graft.sources.IndexMeta.GroupedLayout)).toDF("k", "bands", "layout")
      .write.parquet(s"$huskDir/meta")
    val r2 = AssetIngest.ingestTextBatch(spark,
      df((20L, "a", mk(3))), huskDir, s"$base/huskdata")
    assert(r2 === AssetIngest.IngestReport(1, 0, 0, 0))
    // rebuilt with the husk meta's (8, 2), not the bootstrap default
    val meta = spark.read.parquet(s"$huskDir/meta").head()
    assert(meta.getAs[Int]("k") === 8 && meta.getAs[Int]("bands") === 2)
    assert(hfs.exists(new org.apache.hadoop.fs.Path(s"$huskDir/cbuckets")))
    // and the rebuilt corpus actually vetoes a near-dup
    val r3 = AssetIngest.ingestTextBatch(spark,
      df((21L, "a", mk(3))), huskDir, s"$base/huskdata")
    assert(r3 === AssetIngest.IngestReport(0, 0, 1, 0))
  }

  test("unstamped (pre-r11) index layouts fail loudly with a rebuild message") {
    import graft.operators.{DedupOps, VectorOps}
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("layout_ver").toString
    // pre-r11 minhash meta: no layout column -> layout 1 != grouped
    Seq((16, 4)).toDF("k", "bands").write.parquet(s"$base/mh/meta")
    val eMh = intercept[IllegalArgumentException] {
      DedupOps.dedupAgainstIndex(spark,
        Seq((1L, "a", "x y z w")).toDF("doc_id", "source", "text"), s"$base/mh")
    }
    assert(eMh.getMessage.contains("rebuild") &&
      eMh.getMessage.contains("writeMinhashIndex"), eMh.getMessage)
    // pre-r11 embed-lsh meta
    Seq((32, 4, 8, 42L)).toDF("n_planes", "bands", "dim", "seed")
      .write.parquet(s"$base/el/meta")
    val eEl = intercept[IllegalArgumentException] {
      VectorOps.dedupEmbedAgainstIndex(spark,
        Seq((1L, "x", Array.fill(8)(0.5f))).toDF("vec_id", "label", "embedding"),
        s"$base/el")
    }
    assert(eEl.getMessage.contains("rebuild") &&
      eEl.getMessage.contains("writeEmbedLshIndex"), eEl.getMessage)
    // pre-r11 video meta (band geometry only): grouped readers refuse it...
    Seq((16, 16)).toDF("bands", "bits").write.parquet(s"$base/vid/meta")
    val eV = intercept[IllegalArgumentException] {
      graft.sources.VideoCodec.requireVideoMeta(spark, s"$base/vid")
    }
    assert(eV.getMessage.contains("rebuild"), eV.getMessage)
    // ...while the image/audio FLAT families (whose physical shape never
    // changed) still read the very same unstamped meta fine
    graft.sources.HashBanding.requireMeta(spark, s"$base/vid")
  }

  test("ivf batch store: reuse while the corpus is unchanged, REBUILD when it is regenerated in place") {
    // Round-14 verdict defect #1: the demo store was keyed by
    // md5(dataDir) alone, so a testdata regeneration at the same path
    // (the driver does this between rounds) would silently serve an
    // index over the deleted corpus. The marker now carries a corpus
    // fingerprint; this test plants a store, swaps the corpus
    // underneath at the SAME path, and proves the rebuild.
    import graft.operators.VectorOps
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val dataDir = java.nio.file.Files.createTempDirectory("ivf_stale").toString
    def writeCorpus(idOffset: Long): Unit =
      clusteredCorpus()
        .withColumn("vec_id", col("vec_id") + lit(idOffset))
        .write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")

    writeCorpus(0)
    val fp1 = VectorOps.corpusFingerprint(dataDir)
    assert(fp1 === VectorOps.corpusFingerprint(dataDir), "fingerprint not deterministic")
    val store = VectorOps.ivfBatchStore(spark, Tables.embeddings(spark, dataDir), dataDir)
    val marker = java.nio.file.Paths.get(store, "_built")
    assert(new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") === fp1,
      "marker must carry the corpus fingerprint")
    val builtAt = java.nio.file.Files.getLastModifiedTime(marker)
    val ids1 = spark.read.parquet(s"$store/postings")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids1 === (10L until 320L).toSet, "store must index corpus v1 (vec_id >= 10)")

    // unchanged corpus -> pure read: marker untouched (no rebuild)
    val store2 = VectorOps.ivfBatchStore(spark, Tables.embeddings(spark, dataDir), dataDir)
    assert(store2 === store)
    assert(java.nio.file.Files.getLastModifiedTime(marker) === builtAt,
      "unchanged corpus must NOT trigger a rebuild")

    // regenerate the corpus IN PLACE (same path, different ids/bytes)
    writeCorpus(1000)
    val fp2 = VectorOps.corpusFingerprint(dataDir)
    assert(fp2 !== fp1, "regenerated corpus must change the fingerprint")
    val store3 = VectorOps.ivfBatchStore(spark, Tables.embeddings(spark, dataDir), dataDir)
    assert(store3 === store)
    assert(new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") === fp2,
      "marker must be re-stamped with the new corpus fingerprint")
    val ids2 = spark.read.parquet(s"$store/postings")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids2 === (1000L until 1320L).toSet, // all ids pass the >= 10 corpus cut after the shift
      s"store must serve the REGENERATED corpus, not the deleted one (got ${ids2.size} ids)")

    // hygiene: drop the planted store + corpus so reruns start clean
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        val s = java.nio.file.Files.list(p)
        try s.iterator().forEachRemaining(rm) finally s.close()
      }
      java.nio.file.Files.deleteIfExists(p)
    }
    rm(java.nio.file.Paths.get(store))
    rm(java.nio.file.Paths.get(dataDir))
  }

  test("IVF-family rebuild fence: a crashed multi-table rebuild is detected; a completed one reads clean") {
    // writeIvfIndex / writePqIndex / writeIvfPqIndex overwrite 2-3
    // tables that must agree on cell assignments; a crash between the
    // commits used to leave a new codebook over old postings - searches
    // then probe the wrong cells and recall degrades SILENTLY. The
    // GenStamp rebuild fence (intent marker + shared per-table stamps)
    // turns every crash point into a loud read/append error naming the
    // writer to re-run.
    import graft.operators.VectorOps
    import graft.sources.GenStamp
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val e = clusteredCorpus()
    val dir = java.nio.file.Files.createTempDirectory("fence_ivf").toString
    VectorOps.writeIvfIndex(e, cells = 8, dir = dir)
    // completed rebuild reads clean (and a pre-fence legacy index would
    // too: all stamps absent read as one shared generation 0)
    assert(VectorOps.readIvfIndex(spark, dir)._2.count() === e.count())
    // crash point 1: intent marker still present (death anywhere inside
    // the rebuild) - read AND append must refuse
    GenStamp.beginRebuild(spark, dir)
    val err1 = intercept[IllegalArgumentException] { VectorOps.readIvfIndex(spark, dir) }
    assert(err1.getMessage.contains("writeIvfIndex"), err1.getMessage)
    intercept[IllegalArgumentException] {
      VectorOps.appendToIvfIndex(spark, e.limit(2), dir)
    }
    // a re-run of the writer lifts the fence
    VectorOps.writeIvfIndex(e, cells = 8, dir = dir)
    assert(VectorOps.readIvfIndex(spark, dir)._2.count() === e.count())
    // crash point 2: marker lifted but stamps diverged (death inside
    // completeRebuild's stamping loop) - still detected
    GenStamp.stamp(spark, s"$dir/codebook", GenStamp.read(spark, s"$dir/codebook") + 1)
    val err2 = intercept[IllegalArgumentException] { VectorOps.readIvfIndex(spark, dir) }
    assert(err2.getMessage.contains("generations"), err2.getMessage)
    // PQ + IVFADC twins carry the same fence
    val pdir = java.nio.file.Files.createTempDirectory("fence_pq").toString
    VectorOps.writePqIndex(e, m = 8, ks = 16, dir = pdir)
    assert(VectorOps.readPqIndex(spark, pdir)._2.count() === e.count())
    GenStamp.beginRebuild(spark, pdir)
    intercept[IllegalArgumentException] { VectorOps.readPqIndex(spark, pdir) }
    val rdir = java.nio.file.Files.createTempDirectory("fence_radc").toString
    VectorOps.writeIvfPqIndex(e, cells = 8, m = 8, ks = 16, dir = rdir)
    assert(VectorOps.readIvfPqIndex(spark, rdir)._3.count() === e.count())
    GenStamp.beginRebuild(spark, rdir)
    intercept[IllegalArgumentException] { VectorOps.readIvfPqIndex(spark, rdir) }
  }

  test("IVF read: footer schema == inferred schema; a search launches no listing or schema-inference job") {
    import graft.operators.VectorOps
    import graft.sources.TableRead
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val e = clusteredCorpus()
    val dir = java.nio.file.Files.createTempDirectory("ivf_nojobs").toString
    VectorOps.writeIvfIndex(e, cells = 8, dir = dir)
    VectorOps.deleteFromIvfIndex(spark, Seq(8L, 16L).toDF("vec_id"), dir)
    for (t <- Seq("codebook", "postings", "tombstones")) {
      val p = s"$dir/$t"
      assert(TableRead.schemaOf(spark, p) === spark.read.parquet(p).schema, p)
    }
    val sc = spark.sparkContext
    val (hits, jobs) = ReadJobs.during(sc) {
      val (cb, postings) = VectorOps.readIvfIndex(spark, dir)
      VectorOps.ivfSearch(cb, postings, queryId = 0, nprobe = 2, k = 10).collect()
    }
    assert(hits.length === 10)
    assert(!hits.map(_.getLong(0)).exists(Set(8L, 16L)))
    assert(jobs.isEmpty, s"metadata jobs launched by the IVF search:\n${jobs.mkString("\n")}")
  }

  test("PQ and IVFADC reads, appends and the drift monitor: footer schema == inferred schema; no listing or schema-inference job") {
    import graft.operators.VectorOps
    import graft.sources.TableRead
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val e = clusteredCorpus()
    val base = java.nio.file.Files.createTempDirectory("ann_nojobs").toString
    val (ivf, pq, adc) = (s"$base/ivf", s"$base/pq", s"$base/adc")
    VectorOps.writeIvfIndex(e, cells = 8, dir = ivf)
    VectorOps.writePqIndex(e, m = 4, ks = 8, dir = pq)
    VectorOps.writeIvfPqIndex(e, cells = 8, m = 4, ks = 8, dir = adc)
    val gone = Set(8L, 16L)
    VectorOps.deleteFromPqIndex(spark, gone.toSeq.toDF("vec_id"), pq)
    VectorOps.deleteFromIvfPqIndex(spark, gone.toSeq.toDF("vec_id"), adc)
    for ((dir, ts) <- Seq(ivf -> Seq("codebook", "postings", "buildstats"),
        pq -> Seq("codebooks", "codes", "tombstones"),
        adc -> Seq("coarse", "pq_codebooks", "codes", "tombstones")); t <- ts) {
      val p = s"$dir/$t"
      assert(TableRead.schemaOf(spark, p) === spark.read.parquet(p).schema, p)
    }
    val sc = spark.sparkContext
    val (pqHits, pqJobs) = ReadJobs.during(sc) {
      val (cb, codes) = VectorOps.readPqIndex(spark, pq)
      VectorOps.pqSearch(cb, codes, e, k = 10, rerank = 100).collect()
    }
    assert(pqHits.length === 10 && !pqHits.map(_.getLong(0)).exists(gone))
    assert(pqJobs.isEmpty, s"metadata jobs launched by the PQ search:\n${pqJobs.mkString("\n")}")
    val (adcHits, adcJobs) = ReadJobs.during(sc) {
      val (coarse, pqcb, codes) = VectorOps.readIvfPqIndex(spark, adc)
      VectorOps.ivfPqSearch(coarse, pqcb, codes, e, nprobe = 2, k = 10, rerank = 100).collect()
    }
    assert(adcHits.length === 10 && !adcHits.map(_.getLong(0)).exists(gone))
    assert(adcJobs.isEmpty,
      s"metadata jobs launched by the IVFADC search:\n${adcJobs.mkString("\n")}")
    // the appends and the drift monitor read the stored tables job-free
    // too; their own queries and writes are SQL executions, not counted
    val batch = e.where(col("vec_id") < 16).withColumn("vec_id", col("vec_id") + 10000L)
    for ((name, body) <- Seq[(String, () => Any)](
        "IVF append" -> (() => VectorOps.appendToIvfIndex(spark, batch, ivf)),
        "PQ append" -> (() => VectorOps.appendToPqIndex(spark, batch, pq)),
        "IVFADC append" -> (() => VectorOps.appendToIvfPqIndex(spark, batch, adc)),
        "ivfDriftStats" -> (() => VectorOps.ivfDriftStats(spark, ivf)))) {
      val (_, jobs) = ReadJobs.during(sc, outsideQueries = true)(body())
      assert(jobs.isEmpty, s"metadata jobs launched by the $name:\n${jobs.mkString("\n")}")
    }
    assert(VectorOps.readPqIndex(spark, pq)._2.count() === 320L - 2 + 16)
    assert(VectorOps.readIvfPqIndex(spark, adc)._3.count() === 320L - 2 + 16)
    assert(VectorOps.readIvfIndex(spark, ivf)._2.count() === 320L + 16)
  }

  test("IVF tombstone gate: past MaxBroadcastTombstones the read and the compaction join without a broadcast") {
    import graft.operators.VectorOps
    import graft.sources.Tombstones
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    graft.functions.GraftFunctions.register(spark)
    val e = clusteredCorpus()
    val dir = java.nio.file.Files.createTempDirectory("ivf_mass_tomb").toString
    VectorOps.writeIvfIndex(e, cells = 8, dir = dir)
    // one past the gate: the even ids from 2 up, which covers every even
    // corpus member but 0 and runs far past the corpus
    val n = Tombstones.MaxBroadcastTombstones + 1
    VectorOps.deleteFromIvfIndex(spark,
      spark.range(1, n + 1).select((col("id") * 2).as("vec_id")), dir)
    assert(Tombstones.read(spark, dir).get.count() === n)
    val autoKeys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = autoKeys.map(k => k -> spark.conf.getOption(k))
    autoKeys.foreach(spark.conf.set(_, "-1"))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    try {
      val (cb, postings) = VectorOps.readIvfIndex(spark, dir)
      val readPlan = postings.queryExecution.executedPlan.toString
      assert(!readPlan.contains("BroadcastHashJoin"),
        s"the tombstone anti-join broadcast past its gate:\n$readPlan")
      val hits = VectorOps.ivfSearch(cb, postings, queryId = 1, nprobe = 8, k = 10)
        .collect().map(_.getLong(0))
      assert(hits.length === 10)
      assert(hits.forall(_ % 2 == 1), s"a tombstoned id was returned: ${hits.mkString(",")}")
      spark.listenerManager.register(listener)
      try {
        VectorOps.compactIvfIndex(spark, dir)
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
      } finally spark.listenerManager.unregister(listener)
    } finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    assert(!plans.isEmpty, "the listener saw no compaction query")
    assert(!scala.jdk.CollectionConverters.CollectionHasAsScala(plans).asScala
      .exists(_.contains("BroadcastHashJoin")), "the cell compaction broadcast past its gate")
    assert(!Tombstones.exists(spark, dir))
    val left = VectorOps.readIvfIndex(spark, dir)._2.select("vec_id").collect().map(_.getLong(0))
    assert(left.toSet === (0L until 320L).filter(i => i == 0 || i % 2 == 1).toSet)
  }

  test("prunedById and prunedRead == the partition-filtered full reads they replace") {
    import graft.sources.{BandBuckets, IdBuckets, TextIndex}
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val base = java.nio.file.Files.createTempDirectory("pruned_eq").toString
    // 40 ids cover well under all 64 id buckets: absent directories are real
    val ids = s"$base/ids"
    IdBuckets.write((0L until 40L).map(i => (i, s"p$i")).toDF("id", "payload"),
      "id", ids, "overwrite")
    def oldById(path: String, want: Seq[Long]): org.apache.spark.sql.DataFrame =
      spark.read.parquet(path)
        .where(col(IdBuckets.Col).isin(want.map(IdBuckets.bucketOfId).distinct: _*))
        .where(col("id").isin(want: _*)).drop(IdBuckets.Col)
    val populated = (0L until 40L).map(IdBuckets.bucketOfId).toSet
    val absent = (1000L until 2000L).filterNot(i => populated(IdBuckets.bucketOfId(i))).take(2)
    assert(absent.nonEmpty, "fixture: every bucket is populated")
    for (want <- Seq(Seq(3L, 7L, 39L), Seq(3L) ++ absent, absent, Nil)) {
      val got = IdBuckets.prunedById(spark, ids, "id", want)
      val old = oldById(ids, want)
      assert(got.schema === old.schema, s"ids $want: schema")
      assert(rows(got) === rows(old), s"ids $want: rows")
    }
    // the flat doclens husk of an empty text segment
    val husk = s"$base/textidx"
    TextIndex.build(spark, husk, Seq.empty[(Long, String)].toDF("doc_id", "text"))
    val doclens = s"$husk/doclens"
    val hold = spark.read.parquet(doclens)
      .where(col(IdBuckets.Col).isin(IdBuckets.bucketOfId(1L))).where(col("doc_id").isin(1L))
      .drop(IdBuckets.Col)
    val hgot = IdBuckets.prunedById(spark, doclens, "doc_id", Seq(1L))
    assert(hgot.schema === hold.schema)
    assert(hgot.count() === 0)

    val bands = s"$base/pbands"
    BandBuckets.write((0L until 60L).flatMap(i => (0 until 4).map(b => (i, b, i % 7 + b)))
      .toDF("id", "band", "bucket"), bands, "overwrite")
    def oldPruned(keys: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val kp = keys.select(BandBuckets.partOf(col("band"), col("bucket")).as("pb"),
        col("bucket").cast("bigint").as("bk")).distinct().collect()
      val full = spark.read.parquet(bands)
      (if (kp.isEmpty) full.where(lit(false))
       else full.where(col(BandBuckets.Col).isin(kp.map(_.getInt(0)).distinct.toSeq: _*) &&
         col("bucket").isin(kp.map(_.getLong(1)).distinct.toSeq: _*)))
        .drop(BandBuckets.Col)
    }
    for (keys <- Seq(Seq((0, 3L), (2, 5L)), Seq((1, 999L)), Seq((0, 3L), (3, 12345L)),
        Seq.empty[(Int, Long)]).map(_.toDF("band", "bucket"))) {
      val got = BandBuckets.prunedRead(spark, bands, keys)
      val old = oldPruned(keys)
      assert(got.schema === old.schema, s"keys ${keys.collect().toSeq}: schema")
      assert(rows(got) === rows(old), s"keys ${keys.collect().toSeq}: rows")
    }
  }
}
