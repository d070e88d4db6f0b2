package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** Fork-free writes of the library's own files, the write twin of
  * [[TableRead]].
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem.setPermission` starts
  * a `chmod` process, and the stock local filesystem calls it for every
  * data file, every `.crc` companion and every new directory it creates.
  * A write task waits 2–5 ms per fork, so a 64-bucket table costs
  * hundreds of process starts. Every library write instead goes through
  * [[apply]] (Spark writes), or [[fs]] and [[replaceFile]] (files the
  * driver creates itself),
  * which serve `file:` paths with [[ForkFreeLocalFs]]: the same
  * checksummed `LocalFileSystem`, whose raw layer sets the same rwx bits
  * in-process. A write site reads `df.tableWrite` where it would read
  * `df.write` ([[TableWriteOps]]).
  *
  * Scope:
  *  - `file:` only. The two Hadoop options set here name the filesystem
  *    of the `file` scheme, so hdfs, s3a and the rest are untouched.
  *  - The stock filesystem only. When `fs.file.impl` already resolves to
  *    anything but the local filesystem the installation registers (a
  *    user's own class, or a test's fault-injecting one), nothing is
  *    added and that class keeps serving every write.
  *  - The same bits and checksums. Files and directories get the
  *    permissions `chmod 0nnn` would give them; `.crc` files, the commit
  *    protocol and every fence are unchanged. A permission with bits
  *    outside rwx (sticky, setuid) still goes to the stock `chmod`.
  *
  * The options travel with the write, not the session: Spark copies
  * write options into the job's Hadoop conf, so the driver, the executor
  * tasks and the output committer resolve the fork-free filesystem while
  * the session conf and the shared `FileSystem` cache are left alone. The
  * cache is bypassed for these writes because it keys instances by
  * scheme and user, not by class.
  */
object TableWrite {

  private val WriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** The `file:` filesystems a Spark installation registers itself:
    * Hadoop's `LocalFileSystem`, or Hive's `ProxyLocalFileSystem` where
    * Spark's hive-exec jar registers it after Hadoop's. The latter is a
    * `LocalFileSystem` that also refuses to rename onto an existing file,
    * which neither Spark's committer nor the library's swaps do: both
    * delete or move the target aside first. */
  private val Stock = Set(classOf[LocalFileSystem].getName,
    "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem")

  /** True when `conf` leaves `file:` to a stock local filesystem. */
  private def stockLocal(conf: Configuration): Boolean =
    Stock(FileSystem.getFileSystemClass("file", conf).getName)

  /** `df.write`, with `file:` outputs served fork-free when the session
    * uses the stock local filesystem. */
  def apply(df: DataFrame): DataFrameWriter[Row] = {
    val w = df.write
    if (stockLocal(df.sparkSession.sessionState.newHadoopConf())) w.options(WriteOptions) else w
  }

  /** `df.tableWrite` reads as `df.write` at every library write site. */
  implicit class TableWriteOps(private val df: DataFrame) extends AnyVal {
    def tableWrite: DataFrameWriter[Row] = TableWrite(df)
  }

  /** The filesystem for a file the driver writes itself under `p` (a
    * marker, a manifest, a fold list, a trash directory), by the same
    * rule as [[apply]]. */
  def fs(s: SparkSession, p: Path): FileSystem = {
    val conf = s.sessionState.newHadoopConf()
    if (stockLocal(conf)) WriteOptions.foreach { case (k, v) => conf.set(k, v) }
    p.getFileSystem(conf)
  }

  /** Replace `file` by `bytes` so that a reader sees the old content or
    * the new, never a torn file: a sibling `<name>.tmp.<pid>` is written,
    * then renamed over `file`. On [[ForkFreeLocalFs]] that rename is
    * `rename(2)`, which replaces an existing file atomically, and the
    * `.crc` companion follows it as FileContext's rename moves it; there
    * FileContext would fork `readlink` to check the target. Elsewhere
    * it is FileContext's rename with OVERWRITE. */
  def replaceFile(s: SparkSession, file: Path, bytes: Array[Byte]): Unit = {
    val fs = this.fs(s, file)
    val dst = fs.makeQualified(file)
    val tmp = new Path(dst.getParent, s"${dst.getName}.tmp.${ProcessHandle.current.pid}")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    fs match {
      case _: ForkFreeLocalFs => require(fs.rename(tmp, dst), s"could not rename $tmp to $dst")
      case _ => FileContext.getFileContext(dst.toUri, s.sparkContext.hadoopConfiguration)
        .rename(tmp, dst, Options.Rename.OVERWRITE)
    }
  }
}

/** Hadoop's checksummed local filesystem over [[ForkFreeRawLocalFs]]. */
class ForkFreeLocalFs extends LocalFileSystem(new ForkFreeRawLocalFs)

/** `RawLocalFileSystem` whose `setPermission` sets rwx bits through
  * `Files.setPosixFilePermissions` instead of a `chmod` process. */
class ForkFreeRawLocalFs extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val bits = new java.util.HashSet[PosixFilePermission]()
      // enum order is owner r/w/x, group r/w/x, others r/w/x: bit 8 down to 0
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (1 << (8 - i))) != 0) bits.add(b)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
    }
  }
}
