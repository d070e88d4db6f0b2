package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType,
  StructField, StructType}

/** Job-free reads of the persisted index tables.
  *
  * A bare `s.read.parquet(table)` costs two Spark jobs before the query
  * it feeds runs at all: a "Listing leaf files" job (Spark lists in
  * parallel once a directory holds more than
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` = 32
  * children — every 64-bucket layout here does) and a schema-inference
  * job that reads one footer. A search reads a handful of small tables
  * per live segment, so those jobs dominated its latency. Both are
  * resolved on the driver instead:
  *
  *  - [[schemaOf]] reads ONE part file's footer through the Hadoop
  *    filesystem and returns what inference would have returned;
  *  - [[bucketRead]] lists the table root once and reads only the wanted
  *    `partCol=b` leaf directories under that schema, so Spark lists at
  *    most those few directories itself, serially, on the driver.
  *
  * The bytes read are unchanged: the same row groups, under the same
  * pushed filters, as the partition-filtered full read these replace.
  *
  * Tables that are small by construction are not planned at all:
  * [[localRows]] runs Spark's own parquet reader (the function a scan
  * task runs per file) on the driver and hands back rows, so reading
  * them costs no job, no task and no broadcast of the result. A caller
  * uses it only where the rows it keeps are bounded: one row per index
  * segment (stats), the tombstone set an anti-join would broadcast
  * anyway, or a read it stops itself past a fixed cap (blockmax).
  */
object TableRead {

  /** Spark's hidden-path rule: `_`-prefixed entries (`_SUCCESS`, the
    * GenStamp marker) and `.`-prefixed ones (checksums) are not data. */
  private def visible(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    !(n.startsWith("_") && !n.contains("=")) && !n.startsWith(".")
  }

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Partition-value type inference for the layouts this library
    * writes: integral bucket/cell ids read as int (long when any value
    * overflows int), anything else as string. */
  private def partitionType(values: Seq[String]): DataType =
    if (values.forall(_.toIntOption.isDefined)) IntegerType
    else if (values.forall(_.toLongOption.isDefined)) LongType
    else StringType

  /** The schema `s.read.parquet(table).schema` infers, without its job:
    * the Spark row metadata in one part file's footer (the parquet
    * schema converted, for files written by another engine), every
    * field made nullable as the file source makes it, followed by the
    * `k=v` partition columns on the path down to that file. A directory
    * holding no data file fails loudly, as inference does. */
  def schemaOf(s: SparkSession, table: String): StructType = {
    val root = new Path(table)
    val fs = fsOf(s, root)
    @annotation.tailrec
    def descend(dir: Path, parts: Vector[StructField]): (Path, Vector[StructField]) = {
      val kids = fs.listStatus(dir).filter(visible)
      kids.filter(_.isFile).map(_.getPath).sortBy(_.getName).headOption match {
        case Some(file) => (file, parts)
        case None =>
          val dirs = kids.filter(d => d.isDirectory && d.getPath.getName.contains("="))
            .map(_.getPath).sortBy(_.getName)
          require(dirs.nonEmpty,
            s"Unable to infer schema for Parquet at $table: no data file")
          val key = dirs.head.getName.takeWhile(_ != '=')
          val values = dirs.map(_.getName.drop(key.length + 1)).toSeq
          descend(dirs.head, parts :+ StructField(key, partitionType(values)))
      }
    }
    val (file, parts) = descend(root, Vector.empty)
    val conf = s.sparkContext.hadoopConfiguration
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    val footer = try reader.getFooter finally reader.close()
    val meta = footer.getFileMetaData
    val data = Option(meta.getKeyValueMetaData.get(
        org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
          .SPARK_METADATA_KEY))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(conf).convert(meta.getSchema))
    StructType(data.toNullable.fields ++ parts)
  }

  /** Full-table read under the footer schema: Spark still lists the
    * files (a full read needs all of them) but infers nothing. */
  def read(s: SparkSession, table: String): DataFrame =
    s.read.schema(schemaOf(s, table)).parquet(table)

  /** The rows of `table` whose partition column `partCol` is in
    * `buckets`, `partCol` itself dropped — what
    * `s.read.parquet(table).where(col(partCol).isin(buckets)).drop(partCol)`
    * returns, without a job. One driver listing of the root picks the
    * `partCol=b` directories that exist; only those leaves are read, so
    * no partition filter is needed. A flat table (the empty-segment
    * husk, which carries the bucket as a data column) is read flat and
    * filtered on that column. When no wanted bucket exists the result
    * is an empty frame of the table's schema. */
  def bucketRead(s: SparkSession, table: String, partCol: String,
      buckets: Seq[Int]): DataFrame =
    bucketDirs(s, table, partCol, buckets) match {
      case None =>
        read(s, table).where(col(partCol).isin(buckets: _*)).drop(partCol)
      case Some((leaves, any)) =>
        // a leaf directory holds no partition column: its schema is the
        // footer's data schema
        val schema = schemaOf(s, (leaves :+ any).head)
        if (leaves.isEmpty)
          s.createDataFrame(java.util.Collections.emptyList[Row](), schema)
        else s.read.schema(schema).parquet(leaves: _*)
    }

  /** One driver listing of a partitioned `table`: the `partCol=b` leaf
    * directories of the wanted `buckets` that exist, plus any one leaf
    * (whose footer gives the data schema when none is wanted). None for
    * a flat table, which carries `partCol` as a data column. */
  def bucketDirs(s: SparkSession, table: String, partCol: String,
      buckets: Seq[Int]): Option[(Seq[String], String)] = {
    val root = new Path(table)
    val partDirs = fsOf(s, root).listStatus(root)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith(s"$partCol="))
      .map(_.getPath).sortBy(_.getName).toSeq
    if (partDirs.isEmpty) None
    else {
      val want = buckets.map(b => s"$partCol=$b").toSet
      Some((partDirs.filter(p => want(p.getName)).map(_.toString),
        partDirs.head.toString))
    }
  }

  /** The rows of the data files directly inside `dirs`, read on the
    * driver by Spark's parquet reader under `schema` — no Spark job.
    *
    * `schema` names the columns to read, typed as in the footers
    * ([[schemaOf]]); a file lacking one of them reads it as null, as the
    * file source does. `filters` are pushed to the reader exactly as a
    * scan pushes them, so they skip row groups by their min/max stats;
    * they are not applied row by row, and the caller filters the rows it
    * is handed. One reader serves every file, and `use` runs while the
    * file being read is open: the reader is closed when `use` returns,
    * also when it stops early, so a caller bounds its own read by
    * returning once it has seen enough rows. */
  def localRows[T](s: SparkSession, dirs: Seq[String], schema: StructType,
      filters: Seq[Filter] = Nil)(use: Iterator[Row] => T): T = {
    val files = dirs.flatMap { d =>
      val p = new Path(d)
      fsOf(s, p).listStatus(p).filter(st => st.isFile && visible(st)).sortBy(_.getPath.getName)
    }
    val reader = new ParquetFileFormat().buildReaderWithPartitionValues(s,
      schema, new StructType(), schema, filters,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      s.sessionState.newHadoopConf())
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    // a file's reader closes itself once read to the end; `use` stopping
    // early leaves the last one open, so every one is closed (idempotent)
    val opened = scala.collection.mutable.ArrayBuffer.empty[Iterator[InternalRow]]
    val rows = files.iterator.flatMap { st =>
      opened += reader(PartitionedFile(InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPath(st.getPath), 0L, st.getLen,
        Array.empty[String], st.getModificationTime, st.getLen, Map.empty))
      opened.last
    }
    // the converter copies every value out of the reader's reused row
    try use(rows.map(r => toRow(r).asInstanceOf[Row]))
    finally opened.foreach { case c: AutoCloseable => c.close(); case _ => () }
  }
}
