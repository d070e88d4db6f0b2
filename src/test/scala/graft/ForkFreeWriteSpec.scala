package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.Path
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{AssetIngest, ForkFreeLocalFs, GenStamp, IdBuckets, TableWrite, TextIndex}

/** The library's `file:` writes start no process: permissions are set
  * in-process ([[graft.sources.TableWrite]]) with the bits, `.crc`
  * companions and rows the stock filesystem gives, and a user's own
  * `fs.file.impl` is never overridden. */
class ForkFreeWriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Processes this JVM starts while `body` runs, from a JFR recording
    * of `jdk.ProcessStart`. */
  private def processStarts(body: => Unit): Int = {
    val r = new Recording()
    r.enable("jdk.ProcessStart")
    r.start()
    try body finally r.stop()
    val f = Files.createTempFile("process-starts", ".jfr")
    try {
      r.dump(f)
      RecordingFile.readAllEvents(f).asScala.count(_.getEventType.getName == "jdk.ProcessStart")
    } finally { r.close(); Files.delete(f) }
  }

  private def docs(from: Long, n: Int): DataFrame = {
    import spark.implicits._
    (from until from + n).map(i => (i, "s", (1 to 40).map(t => s"k${i}_$t").mkString(" ")))
      .toDF("doc_id", "source", "text")
  }

  test("IdBuckets.write, a GenStamp stamp, TextIndex.append and ingestTextBatch start no process") {
    val base = Files.createTempDirectory("fork_free").toString
    def round(tag: String, from: Long): Unit = {
      IdBuckets.write(docs(from, 30), "doc_id", s"$base/$tag/buckets", "overwrite")
      GenStamp.beginAppend(spark, s"$base/$tag/buckets")
      TextIndex.append(spark, s"$base/text", docs(from, 20))
      AssetIngest.ingestTextBatch(spark, docs(from, 20), s"$base/$tag/idx", s"$base/$tag/data",
        batchId = Some(tag))
    }
    TextIndex.build(spark, s"$base/text", docs(0L, 20))
    // the first round loads the classes the second round's writes use
    round("warm", 100L)
    assert(processStarts(round("measured", 200L)) === 0)
  }

  test("positive control: the same write under the stock filesystem starts processes") {
    assume(!NativeCodeLoader.isNativeCodeLoaded, "libhadoop sets permissions without a fork")
    val dir = Files.createTempDirectory("fork_stock").toString
    val df = docs(0L, 30).withColumn(IdBuckets.Col, IdBuckets.bucketOf(col("doc_id")))
    assert(processStarts(df.write.partitionBy(IdBuckets.Col).parquet(s"$dir/t")) >= 1)
  }

  /** (path relative to `root` with the write job's uuid masked, unix
    * mode) of every entry under `root`. */
  private def tree(root: String): Seq[(String, Int)] = {
    val r = java.nio.file.Paths.get(root)
    val walk = Files.walk(r)
    try walk.iterator.asScala.filter(_ != r).map { p: JPath =>
      r.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>") ->
        Files.getAttribute(p, "unix:mode").asInstanceOf[Int]
    }.toSeq.sorted
    finally walk.close()
  }

  test("a helper write gives the stock permissions, .crc companions and rows") {
    val dir = Files.createTempDirectory("fork_parity").toString
    val df = docs(0L, 50).withColumn("b", col("doc_id") % 4)
    df.write.partitionBy("b").parquet(s"$dir/stock")
    TableWrite(df).partitionBy("b").parquet(s"$dir/helper")
    val (stock, helper) = (tree(s"$dir/stock"), tree(s"$dir/helper"))
    assert(helper === stock)
    val names = helper.map(_._1)
    val data = names.filter(_.endsWith(".parquet"))
    assert(data.nonEmpty)
    data.foreach { f =>
      val (d, n) = f.splitAt(f.lastIndexOf('/') + 1)
      assert(names.contains(s"$d.$n.crc"), s"$f has no .crc companion")
    }
    def rows(p: String) = spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
    assert(rows(s"$dir/helper") === rows(s"$dir/stock"))
    // a driver-side file: same mode and checksum as the stock create
    def create(fs: org.apache.hadoop.fs.FileSystem, p: Path): Unit = {
      val out = fs.create(p, true)
      try out.write('1') finally out.close()
    }
    val (a, b) = (new Path(s"$dir/drv/stock/_m"), new Path(s"$dir/drv/helper/_m"))
    create(a.getFileSystem(spark.sparkContext.hadoopConfiguration), a)
    create(TableWrite.fs(spark, b), b)
    assert(tree(s"$dir/drv/helper") === tree(s"$dir/drv/stock"))
  }

  test("bits outside rwx still reach the stock chmod") {
    val dir = Files.createTempDirectory("fork_sticky")
    val fs = TableWrite.fs(spark, new Path(dir.toUri))
    assert(fs.getClass === classOf[ForkFreeLocalFs])
    fs.setPermission(new Path(dir.toUri), new org.apache.hadoop.fs.permission.FsPermission(
      Integer.parseInt("1755", 8).toShort))
    assert((Files.getAttribute(dir, "unix:mode").asInstanceOf[Int] & 0x3ff) ===
      Integer.parseInt("1755", 8))
  }

  /** The `fs.file.impl` option of every parquet write `body` runs. */
  private def writeImpls(body: => Unit): Seq[Option[String]] = {
    val seen = scala.collection.mutable.ArrayBuffer[Option[String]]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed.foreach {
          case w: InsertIntoHadoopFsRelationCommand =>
            seen.synchronized { seen += w.options.get("fs.file.impl") }
          case _ =>
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.synchronized(seen.toList)
  }

  test("a user's own fs.file.impl is never overridden") {
    val dir = Files.createTempDirectory("fork_user").toString
    val df = docs(0L, 10)
    assert(writeImpls(TableWrite(df).parquet(s"$dir/a")) ===
      Seq(Some(classOf[ForkFreeLocalFs].getName)))
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[RefusingRenameFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try {
      assert(writeImpls(TableWrite(df).parquet(s"$dir/b")) === Seq(None))
      assert(TableWrite.fs(spark, new Path(dir)).getClass === classOf[RefusingRenameFs])
    } finally {
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
  }
}
