package graft.sources

import graft.sources.TableWrite.TableWriteOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hash-bucketed layout for the flat persisted-index tables (MinHash
  * cbuckets/shingles, embed-LSH cbuckets/embeddings, video grouped): rows
  * are partitioned by `id_bucket = pmod(xxhash64(id), NumBuckets)` so a
  * tombstone compaction can rewrite ONLY the partitions that actually
  * contain deleted ids — the flat-table twin of the IVF families'
  * affected-cell-only compaction (VectorOps.compactCellPartitioned).
  *
  * What the bound buys, stated honestly: ids hash uniformly, so a
  * tombstone set of t ids touches at most min(t, NumBuckets) partitions —
  * the win is the common takedown case (a handful of ids → a handful of
  * 1/NumBuckets-sized rewrites instead of a full-table rewrite). A mass
  * deletion spanning every bucket still rewrites the whole table, as it
  * must. NumBuckets is a library-wide layout constant, not per-index
  * metadata: every reader/writer/compactor agrees by construction, and
  * changing it requires an index rebuild (64 keeps small-corpus file
  * counts sane; a 100 TB deployment that wants tighter compaction bounds
  * raises it and rebuilds).
  *
  * The partition column is an internal layout detail: [[read]] drops it,
  * so consumers see exactly the logical schema they wrote.
  */
object IdBuckets {

  val NumBuckets = 64
  val Col = "id_bucket"

  def bucketOf(id: Column): Column = pmod(xxhash64(id), lit(NumBuckets)).cast("int")

  /** Driver-side twin of [[bucketOf]] for a BIGINT id — the same
    * xxhash64(seed 42) the SQL expression computes, so a caller holding
    * literal ids (a bounded candidate list) can turn them into partition
    * values without a Spark job. Equality with the column form is pinned
    * by a PropertiesSpec law. */
  def bucketOfId(id: Long): Int =
    java.lang.Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(id, 42L),
      NumBuckets.toLong).toInt

  /** Cap on the id literal list [[prunedById]] pushes into a scan —
    * plan-size bound; larger lists degrade to directory pruning alone
    * (still at most NumBuckets directories, and a candidate list that
    * big is reading a fair share of the table anyway). */
  val MaxIdLiterals = 8192

  /** PRUNED point-lookup read: only the rows whose `idCol` is in `ids`
    * could be returned — directory pruning via the ids' hash buckets
    * (computed, listed and schema-resolved on the driver by
    * [[TableRead.bucketRead]], so the read launches no job of its own)
    * plus a pushed `idCol IN (...)` filter that skips row groups (files
    * are id-range-clustered at write). The result is a SUPERSET
    * restricted view (bucket collisions remain); callers keep their
    * exact join/filter on the id. Over [[MaxIdLiterals]], keeps only the
    * bucket-directory pruning. */
  def prunedById(s: SparkSession, path: String, idCol: String,
      ids: Seq[Long]): DataFrame = {
    val byDir = TableRead.bucketRead(s, path, Col, ids.map(bucketOfId).distinct)
    if (ids.length <= MaxIdLiterals) byDir.where(col(idCol).isin(ids: _*))
    else byDir
  }

  /** Write `df` under `path` partitioned by the id hash bucket.
    *
    * Empty-table semantics: a zero-row write of a PARTITIONED table
    * leaves no part files (only _SUCCESS) — unreadable, since there is
    * no footer to infer a schema from (the flat layout this replaced
    * wrote a schema-bearing empty file). So "empty table" is normalized
    * to "no table": if the write leaves no partition directories, the
    * husk is removed and existence checks / bootstrap logic behave as if
    * nothing was written — the first NON-empty batch creates the table.
    * A zero-row append to an EXISTING table keeps its partitions and is
    * a true no-op. The check is one directory listing, not a job.
    *
    * Rows are range-clustered by (bucket, id) before the partitioned
    * write: each directory's files then carry DISJOINT id ranges with
    * tight row-group min/max stats, so a pruned point-lookup's pushed
    * `id IN (...)` filter ([[prunedById]]) skips the row groups a
    * candidate list doesn't touch. Write parallelism stays at the range
    * sampler's allocation, not NumBuckets. */
  def write(df: DataFrame, idCol: String, path: String, mode: String): Unit =
    Partitioned.write(df, Col, bucketOf(col(idCol)), idCol, path, mode)

  /** The logical view of a bucketed table (partition column dropped). */
  def read(s: SparkSession, path: String): DataFrame =
    TableRead.read(s, path).drop(Col)

  /** The distinct id buckets of a tombstone frame's `id` column, sorted —
    * a bounded driver list (at most NumBuckets values). */
  private[sources] def bucketsOf(tombstones: DataFrame): Seq[Int] =
    tombstones.select(bucketOf(col("id"))).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq

  /** Fold `dir`'s tombstones into a bucketed table, rewriting ONLY the
    * affected bucket partitions; untouched partitions' files are not
    * opened, let alone rewritten (IndexMaintenanceSpec pins them
    * byte-identical). The tombstone side is broadcast only up to
    * `maxBroadcastTombstones` ids ([[Tombstones.joinSide]]). Does NOT
    * clear the tombstones — the caller clears once every table of the
    * index is folded. */
  def foldIntoBucketed(s: SparkSession, tablePath: String, dir: String,
      idCol: String,
      maxBroadcastTombstones: Long = Tombstones.MaxBroadcastTombstones): Unit =
    Tombstones.read(s, dir).foreach { t =>
      fold(s, tablePath, idCol, bucketsOf(t),
        Tombstones.joinSide(s, dir, t, maxBroadcastTombstones))
    }

  /** [[foldIntoBucketed]] over the tombstoned ids' `buckets` and their
    * gated join side ([[Tombstones.joinSide]]). */
  private[sources] def fold(s: SparkSession, tablePath: String, idCol: String,
      buckets: Seq[Int], tombstones: DataFrame): Unit =
    Partitioned.fold(s, tablePath, Col, bucketOf(col(idCol)), idCol, idCol,
      buckets, tombstones)
}

/** The write and the tombstone fold shared by the two partitioned index
  * layouts: [[IdBuckets]] (partition = id hash bucket, clustered by id)
  * and [[BandBuckets]] (partition = band-key hash, clustered by bucket).
  */
private[sources] object Partitioned {

  /** Write `df` under `path` with `partCol = key`, range-clustered and
    * sorted by (`partCol`, `sortCol`), then drop the husk a zero-row
    * write leaves ([[dropIfPartless]]). */
  def write(df: DataFrame, partCol: String, key: Column, sortCol: String,
      path: String, mode: String): Unit = {
    df.withColumn(partCol, key)
      .repartitionByRange(col(partCol), col(sortCol))
      .sortWithinPartitions(col(partCol), col(sortCol))
      .tableWrite.mode(mode).partitionBy(partCol).parquet(path)
    dropIfPartless(df.sparkSession, path, partCol)
  }

  /** A partitioned write that leaves no `partCol=` directory (zero rows,
    * or a fold that deleted every row) leaves an unreadable husk with no
    * footer to infer a schema from; it is removed, so existence checks
    * read "no table". One listing, no job. */
  def dropIfPartless(s: SparkSession, path: String, partCol: String): Unit = {
    val p = new Path(path)
    val hfs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (hfs.exists(p) &&
        !hfs.listStatus(p).exists(_.getPath.getName.startsWith(s"$partCol="))) {
      hfs.delete(p, true)
      ()
    }
  }

  /** Rewrite the `affected` partitions of `tablePath` minus the rows whose
    * `idCol` is in `tombstones` (the gated `id` join side,
    * [[Tombstones.joinSide]]). Only the affected leaf directories are read
    * ([[TableRead.bucketRead]]; the partition column is recomputed from
    * the row); the survivors are written to a temp root and swapped in
    * partition by partition ([[FsMoves.swapPartitions]]); a partition
    * whose rows all died is removed. Untouched partitions are never
    * opened. */
  def fold(s: SparkSession, tablePath: String, partCol: String, key: Column,
      sortCol: String, idCol: String, affected: Seq[Int],
      tombstones: DataFrame): Unit =
    if (affected.nonEmpty) {
      val tmp = s"${tablePath}__compact_tmp"
      val base = TableRead.bucketRead(s, tablePath, partCol, affected)
      write(base.join(tombstones, base(idCol) === tombstones("id"), "left_anti"),
        partCol, key, sortCol, tmp, "overwrite")
      FsMoves.swapPartitions(TableWrite.fs(s, new Path(tablePath)),
        tablePath, tmp, affected.map(b => s"$partCol=$b"))
      dropIfPartless(s, tablePath, partCol)
    }
}
