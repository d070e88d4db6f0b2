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
    * a true no-op. The check is one directory listing, not a job. */
  def write(df: DataFrame, idCol: String, path: String, mode: String): Unit = {
    // Range-cluster by (bucket, id) before the partitioned write: each
    // directory's files then carry DISJOINT id ranges with tight
    // row-group min/max stats, so a pruned point-lookup's pushed
    // `id IN (...)` filter ([[prunedById]]) skips the row groups a
    // candidate list doesn't touch. Write parallelism stays at the
    // range sampler's allocation, not NumBuckets.
    df.withColumn(Col, bucketOf(col(idCol)))
      .repartitionByRange(col(Col), col(idCol))
      .sortWithinPartitions(col(Col), col(idCol))
      .tableWrite.mode(mode).partitionBy(Col).parquet(path)
    dropIfPartless(df.sparkSession, path)
  }

  private def dropIfPartless(s: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val hfs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (hfs.exists(p) &&
        !hfs.listStatus(p).exists(_.getPath.getName.startsWith(s"$Col="))) {
      hfs.delete(p, true)
      ()
    }
  }

  /** The logical view of a bucketed table (partition column dropped). */
  def read(s: SparkSession, path: String): DataFrame =
    TableRead.read(s, path).drop(Col)

  /** Fold `dir`'s tombstones into a bucketed table, rewriting ONLY the
    * affected bucket partitions; untouched partitions' files are not
    * opened, let alone rewritten (IndexMaintenanceSpec pins them
    * byte-identical). Same swap discipline as Tombstones.foldIntoFlat:
    * survivors land in a temp dir first, then partition dirs swap in; a
    * bucket whose rows all died is simply removed. Does NOT clear the
    * tombstones — the caller clears once every table of the index is
    * folded. */
  /** Tombstone sets small enough to ride as a broadcast in the
    * compaction anti-join — ~16 MB of long ids, far past any takedown
    * batch. A MASS deletion above this falls back to a shuffle
    * anti-join: slower, but it cannot OOM the driver, and a fold that
    * big is rewriting most of the table anyway. */
  val MaxBroadcastTombstones: Long = 1L << 20

  def foldIntoBucketed(s: SparkSession, tablePath: String, dir: String,
      idCol: String,
      maxBroadcastTombstones: Long = MaxBroadcastTombstones): Unit =
    Tombstones.read(s, dir).foreach { t =>
      // bounded driver list: at most NumBuckets values
      val affected = t.select(bucketOf(col("id")).as("b")).distinct()
        .collect().map(_.getInt(0)).sorted
      if (affected.nonEmpty) {
        // count-gate the broadcast (r11 verdict nit): takedowns are the
        // documented small case, but a pathological mass-deletion set
        // must degrade to a shuffle anti-join, not a driver OOM
        val tSide =
          if (t.count() <= maxBroadcastTombstones) broadcast(t) else t
        val tmp = s"${tablePath}__compact_tmp"
        val base = s.read.parquet(tablePath)
          .where(col(Col).isin(affected.map(Integer.valueOf).toSeq: _*))
        base.join(tSide, base(idCol) === tSide("id"), "left_anti")
          .repartitionByRange(col(Col), col(idCol))
          .sortWithinPartitions(col(Col), col(idCol))
          .tableWrite.mode("overwrite").partitionBy(Col).parquet(tmp)
        FsMoves.swapPartitions(TableWrite.fs(s, new Path(tablePath)),
          tablePath, tmp, affected.map(b => s"$Col=$b").toSeq)
        // a fold that deleted every row leaves the same unreadable husk
        // as an empty write — normalize it away (see write's scaladoc)
        dropIfPartless(s, tablePath)
      }
    }
}
