package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem whose `rename` returns false, the failure
  * `FileSystem.rename` reports without throwing. Renames inside a write
  * job's `_temporary` staging still succeed, so Spark's own output
  * commits work and only the library's table swaps meet the refusal. */
class RefusingRenameFs extends LocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean =
    src.toString.contains("/_temporary") && super.rename(src, dst)
}

/** Every swap that folds deletions into a persisted table checks each
  * rename: with renames refused, the compactor throws and every row of
  * the table is still there; with renames back, the fold completes. */
class SwapRenameSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Run `body` with [[RefusingRenameFs]] serving `file:` paths. The
    * filesystem cache is bypassed while it is installed, so every
    * `getFileSystem` in the body gets the refusing one. */
  private def refusingRenames[T](body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[RefusingRenameFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try body
    finally {
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
  }

  private def rows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).sorted.toSeq

  /** The compactor throws on the refused rename and leaves `tables`
    * row-identical. */
  private def throwsAndKeepsRows(tables: Seq[String])(compact: => Unit): Unit = {
    val before = tables.map(rows)
    val e = intercept[IllegalArgumentException](refusingRenames(compact))
    assert(e.getMessage.contains("could not rename"), e.getMessage)
    assert(tables.map(rows) === before, "a refused rename lost rows")
  }

  private def hasId(path: String, idCol: String, id: Long): Boolean =
    spark.read.parquet(path).where(col(idCol) === id).count() > 0

  test("MinHash compaction: banded and id-bucketed swaps throw on a refused rename and lose no row") {
    import graft.operators.DedupOps
    import graft.sources.{IdBuckets, Tombstones}
    import spark.implicits._
    val mk = (i: Int) => (1 to 12).map(t => s"w${i}_$t").mkString(" ")
    val corpus = (1 to 6).map(i => (i.toLong, "a", mk(i))).toDF("doc_id", "source", "text")
    val dir = Files.createTempDirectory("swap_mh").toString
    DedupOps.writeMinhashIndex(spark, corpus, dir)
    DedupOps.deleteFromMinhashIndex(spark, Seq(1L, 4L).toDF("doc_id"), dir)
    val tables = Seq("pbands", "cbuckets", "shingles").map(t => s"$dir/$t")
    // the banded probe layout folds first
    throwsAndKeepsRows(tables)(DedupOps.compactMinhashIndex(spark, dir))
    // the id-bucketed fold on its own
    throwsAndKeepsRows(tables)(
      IdBuckets.foldIntoBucketed(spark, s"$dir/cbuckets", dir, "doc_id"))
    assert(Tombstones.exists(spark, dir), "a failed fold cleared the tombstones")
    DedupOps.compactMinhashIndex(spark, dir)
    assert(!Tombstones.exists(spark, dir))
    assert(!hasId(s"$dir/cbuckets", "doc_id", 1L) && !hasId(s"$dir/shingles", "doc_id", 4L))
    assert(hasId(s"$dir/cbuckets", "doc_id", 2L))
  }

  test("IVF compaction: the cell swap throws on a refused rename and loses no row") {
    import graft.operators.VectorOps
    import graft.sources.Tombstones
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(11)
    val e: DataFrame = (0 until 64).map(i =>
      (i.toLong, (i % 4).toString, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "label", "embedding")
    val dir = Files.createTempDirectory("swap_ivf").toString
    VectorOps.writeIvfIndex(e, cells = 4, dir = dir)
    VectorOps.deleteFromIvfIndex(spark, Seq(3L, 40L).toDF("vec_id"), dir)
    throwsAndKeepsRows(Seq(s"$dir/postings"))(VectorOps.compactIvfIndex(spark, dir))
    assert(Tombstones.exists(spark, dir), "a failed fold cleared the tombstones")
    VectorOps.compactIvfIndex(spark, dir)
    assert(!hasId(s"$dir/postings", "vec_id", 3L) && hasId(s"$dir/postings", "vec_id", 4L))
  }

  test("flat fold: the table swap throws on a refused rename and loses no row") {
    import graft.sources.Tombstones
    import spark.implicits._
    val dir = Files.createTempDirectory("swap_flat").toString
    val table = s"$dir/hashes"
    (1L to 20L).map(i => (i, s"h$i")).toDF("asset_id", "h").write.parquet(table)
    Tombstones.append(spark, Seq(5L).toDF("id"), dir)
    throwsAndKeepsRows(Seq(table))(Tombstones.foldIntoFlat(spark, table, dir, "asset_id"))
    Tombstones.foldIntoFlat(spark, table, dir, "asset_id")
    assert(!hasId(table, "asset_id", 5L) && rows(table).size === 19)
  }

  test("landing takedown: the partition swap throws on a refused rename, loses no row, and the re-issue completes") {
    import graft.sources.AssetIngest
    import spark.implicits._
    val base = Files.createTempDirectory("swap_takedown").toString
    val (idx, data) = (s"$base/idx", s"$base/data")
    val docs = s"$data/docs"
    def batch(ids: Seq[Long]) = ids.map(i => (i, "s",
      (1 to 60).map(t => s"k${i}_$t").mkString(" "))).toDF("doc_id", "source", "text")
    AssetIngest.ingestTextBatch(spark, batch(Seq(1L, 2L, 3L)), idx, data, batchId = Some("b0"))
    AssetIngest.ingestTextBatch(spark, batch(Seq(4L, 5L)), idx, data, batchId = Some("b1"))
    throwsAndKeepsRows(Seq(docs))(
      AssetIngest.deleteFromLanding(spark, docs, Seq(2L).toDF("id"), "doc_id"))
    assert(AssetIngest.deleteFromLanding(spark, docs, Seq(2L).toDF("id"), "doc_id") === 1L)
    assert(spark.read.parquet(docs).select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 3L, 4L, 5L))
  }
}
