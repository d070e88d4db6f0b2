package graft

import graft.operators.{DedupOps, VectorOps}
import graft.sources.{AudioCodec, BandBuckets, BandedIndex, GenStamp, IdBuckets,
  ImageCodec, IndexMeta, VideoCodec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Laws of the banded-index lifecycle (BandedIndex) that hold for every
  * family instance — MinHash text, embed-LSH, image, audio and video:
  * the rebuild fence, and delete + compact. Fixtures are tiny; each
  * family probes a batch holding copies of some corpus items, dead ones
  * included, so a compaction that kept a dead item would show.
  */
class BandedIndexSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** One family's public entry points over a fixture corpus. */
  private case class Family(name: String, index: BandedIndex, corpus: DataFrame,
      write: (DataFrame, String) => Unit, append: String => Unit,
      probe: String => DataFrame, delete: (DataFrame, String) => Unit,
      compact: String => Unit)

  private def img(key: Long): Array[Byte] =
    ImageCodec.encodeGrayPng(16, 16, ImageCodec.texturedLuma(key, 16, 16))
  private def wav(key: Long): Array[Byte] =
    AudioCodec.encodeWavPcm16(Array.tabulate(300)(i => AudioCodec.sampleAt(key, i)))
  private def vid(key: Long): Array[Byte] =
    VideoCodec.encodeContainer((0 until 3).map(f =>
      ImageCodec.encodeGrayPng(16, 16, ImageCodec.texturedLuma(key * 977 + f, 16, 16))))

  private lazy val families: Seq[Family] = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    def words(i: Int) = (0 until 12).map(j => s"w${(i * 31 + j * 7) % 50}")
    val docs = (0 until 24).map(i => (i.toLong, "s", words(i).mkString(" ")))
      .toDF("doc_id", "source", "text")
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 32).map { i =>
      val v = Array.fill(8)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, (i % 2).toString, v.map(x => (x / n).toFloat))
    }.toDF("vec_id", "label", "embedding")
    def assets(n: Int, payload: Long => Array[Byte]) =
      (0 until n).map(i => (i.toLong, payload(i + 1L))).toDF("asset_id", "payload")
    // batch: copies of corpus items 0..5 under fresh ids
    def assetCopies(payload: Long => Array[Byte]) =
      (0 until 6).map(i => (500L + i, payload(i + 1L))).toDF("asset_id", "payload")
    Seq(
      Family("minhash", DedupOps.MinhashIndex, docs,
        DedupOps.writeMinhashIndex(spark, _, _),
        DedupOps.appendToMinhashIndex(spark,
          Seq((900L, "s", "z1 z2 z3 z4 z5 z6")).toDF("doc_id", "source", "text"), _),
        DedupOps.dedupAgainstIndex(spark,
          (0 until 6).map(i => (5000L + i, words(i).take(11).mkString(" ")))
            .toDF("doc_id", "text"), _),
        DedupOps.deleteFromMinhashIndex(spark, _, _),
        DedupOps.compactMinhashIndex(spark, _)),
      Family("embed-lsh", VectorOps.EmbedLshIndex, vecs,
        VectorOps.writeEmbedLshIndex(spark, _, _),
        VectorOps.appendToEmbedLshIndex(spark,
          vecs.where(col("vec_id") === 9).withColumn("vec_id", lit(900L)), _),
        VectorOps.dedupEmbedAgainstIndex(spark,
          vecs.where(col("vec_id") < 6).withColumn("vec_id", col("vec_id") + 500), _),
        VectorOps.deleteFromEmbedLshIndex(spark, _, _),
        VectorOps.compactEmbedLshIndex(spark, _)),
      Family("image", ImageCodec.HashIndex, assets(16, img),
        ImageCodec.writeImageHashIndex(spark, _, _),
        ImageCodec.appendToImageHashIndex(spark, Seq((900L, img(7777L))).toDF("asset_id", "payload"), _),
        ImageCodec.dedupImagesAgainstIndex(spark, assetCopies(img), _),
        ImageCodec.deleteFromImageHashIndex(spark, _, _),
        ImageCodec.compactImageHashIndex(spark, _)),
      Family("audio", AudioCodec.HashIndex, assets(16, wav),
        AudioCodec.writeAudioHashIndex(spark, _, _),
        AudioCodec.appendToAudioHashIndex(spark, Seq((900L, wav(7777L))).toDF("asset_id", "payload"), _),
        AudioCodec.dedupAudioAgainstIndex(spark, assetCopies(wav), _),
        AudioCodec.deleteFromAudioHashIndex(spark, _, _),
        AudioCodec.compactAudioHashIndex(spark, _)),
      Family("video", VideoCodec.HashIndex, assets(10, vid),
        VideoCodec.writeVideoHashIndex(spark, _, _),
        VideoCodec.appendToVideoHashIndex(spark, Seq((900L, vid(7777L))).toDF("asset_id", "payload"), _),
        VideoCodec.dedupVideosAgainstIndex(spark, assetCopies(vid), _),
        VideoCodec.deleteFromVideoHashIndex(spark, _, _),
        VideoCodec.compactVideoHashIndex(spark, _)))
  }

  private def freshDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"banded_$tag").toString

  private def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  /** Partition directory -> its data files (name, size, mtime). */
  private def partFiles(table: String, partCol: String): Map[String, Set[(String, Long, Long)]] = {
    val root = new java.io.File(table)
    if (!root.exists()) Map.empty
    else root.listFiles().filter(_.getName.startsWith(s"$partCol=")).map { d =>
      d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).toSet
    }.toMap
  }

  test("rebuild fence: every family's probe and append refuse while the marker stands, naming the writer; re-running it lifts the fence") {
    families.foreach { f =>
      val dir = freshDir(s"fence_${f.name}")
      f.write(f.corpus, dir)
      GenStamp.beginRebuild(spark, dir)
      val refusals = Seq(
        intercept[IllegalArgumentException](f.probe(dir)),
        intercept[IllegalArgumentException](f.append(dir)))
      refusals.foreach { e =>
        assert(e.getMessage.contains(f.index.writer) && e.getMessage.contains("re-run"),
          s"${f.name}: refusal does not name the writer: ${e.getMessage}")
      }
      f.write(f.corpus, dir)
      assert(f.probe(dir).count() > 0, s"${f.name}: probe over the rebuilt index found nothing")
      f.append(dir)
    }
  }

  test("compaction: every family folds the tombstoned ids out of every table, leaves untouched partitions byte-identical, and probes as a fresh build of the survivors") {
    val dead = Seq(2L, 3L)
    families.foreach { f =>
      import spark.implicits._
      val dir = freshDir(s"compact_${f.name}")
      f.write(f.corpus, dir)
      val before = f.probe(dir)
        .select("corpus_id").distinct().collect().map(_.getLong(0)).toSet
      assert(dead.forall(before), s"${f.name}: fixture defect, dead ids not matched: $before")
      val idx = f.index
      // (table, id column, partition column when partitioned)
      val tables = Seq((s"$dir/${BandedIndex.Derived}", idx.bandIdCol, Some(BandBuckets.Col)),
          (s"$dir/${idx.primary}", idx.idCol,
            if (idx.layout == IndexMeta.GroupedLayout) Some(IdBuckets.Col) else None)) ++
        idx.refine.map(r => (s"$dir/$r", idx.idCol, Some(IdBuckets.Col)))
      val deadLits = dead.map(java.lang.Long.valueOf)
      // the partitions holding the dead ids' rows, read before the fold
      val dirty = tables.collect { case (t, idc, Some(pc)) =>
        t -> spark.read.parquet(t).where(col(idc).isin(deadLits: _*))
          .select(col(pc)).distinct().collect().map(r => s"$pc=${r.get(0)}").toSet
      }.toMap
      val snap = tables.collect { case (t, _, Some(pc)) => t -> partFiles(t, pc) }.toMap
      f.delete(dead.toDF("id"), dir)
      f.compact(dir)
      tables.foreach { case (t, idc, _) =>
        assert(spark.read.parquet(t).where(col(idc).isin(deadLits: _*)).count() === 0,
          s"${f.name}: compaction left a tombstoned id in $t")
      }
      tables.collect { case (t, _, Some(pc)) =>
        val untouched = snap(t).keySet -- dirty(t)
        assert(dirty(t).nonEmpty && untouched.nonEmpty,
          s"${f.name}: fixture defect at $t: dirty ${dirty(t)}, untouched ${untouched.size}")
        val after = partFiles(t, pc)
        untouched.foreach { p =>
          assert(after.get(p) === Some(snap(t)(p)),
            s"${f.name}: compaction rewrote untouched partition $t/$p")
        }
      }
      val fresh = freshDir(s"fresh_${f.name}")
      f.write(f.corpus.where(!col(f.corpus.columns.head).isin(deadLits: _*)), fresh)
      val folded = rows(f.probe(dir))
      assert(folded === rows(f.probe(fresh)),
        s"${f.name}: folded index probe != fresh build of the survivors")
      assert(folded.nonEmpty, s"${f.name}: fixture defect, survivors matched nothing")
    }
  }
}
