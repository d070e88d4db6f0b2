package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Band-partitioned PROBE layout for the banded index families (MinHash
  * text near-dup, embed-LSH, perceptual hashes): the exploded candidate
  * rows — (id, band, bucket) plus any carried refine columns — persisted
  * partitioned by `pband = pmod(xxhash64(band, bucket), NumParts)` and
  * range-clustered by bucket within each partition directory.
  *
  * Why this table exists: every probe (batch or per-micro-batch) joins
  * its batch's (band, bucket) keys against the corpus band rows. The
  * grouped `cbuckets` form made that a PROJECTION-ONLY scan — but still
  * a scan of the WHOLE corpus per probe, the one measured scale slope
  * left in the system (the 50x probe smoke: per-trigger latency grew
  * 2-3.6x with corpus size). Dynamic partition pruning cannot close it:
  * measured on this Spark, a stream-static join never plants a DPP
  * subquery on the static scan (the scan keeps only `isnotnull`
  * partition filters even with the stream side broadcast). So the probe
  * side must prune with LITERALS, which is exactly what this layout
  * enables:
  *
  *  1. directory pruning — the batch's distinct `pband` values (at most
  *     [[NumParts]], a bounded collect) become a partition-column `IN`
  *     filter, so only the probed directories' files are opened;
  *  2. row-group skipping — files are written range-partitioned and
  *     sorted by (pband, bucket), so each row group covers a tight
  *     bucket range and the pushed `bucket IN (...)` literal filter
  *     ([[MaxKeyLiterals]]-bounded) skips the groups a probe's buckets
  *     don't touch.
  *
  * Together a probe reads O(batch keys) row groups regardless of corpus
  * size — the banded families' twin of the IVF cell-partition discipline
  * (VectorOps.readCellPartitioned), with literal pruning standing in for
  * the DPP that stream-static joins don't get.
  *
  * Layout notes, same contract style as [[IdBuckets]]:
  *  - [[NumParts]] is a library-wide constant: every writer/reader/
  *    compactor agrees by construction; changing it is an index rebuild.
  *  - The table is DERIVED from the grouped signature table (one
  *    posexplode), so families treat it as optional: indexes written
  *    before it existed fall back to the full-scan probe, and
  *    re-deriving it is one cheap pass over `cbuckets`.
  *  - Write parallelism scales: `repartitionByRange(pband, bucket)`
  *    spreads one partition's rows across as many tasks as the range
  *    sampler allocates, so a 100 TB build is not throttled to
  *    [[NumParts]] writers, and each directory's files carry DISJOINT
  *    bucket ranges (file-level skip on top of row-group-level).
  */
object BandBuckets {

  val NumParts = 64
  val Col = "pband"

  /** Cap on the `bucket IN (...)` literal list a pruned read will push
    * into the scan (Catalyst converts long IN-lists to an InSet hash
    * probe, so the plan stays cheap; the cap bounds the driver collect
    * and the plan size). A batch probing more distinct buckets than this
    * falls back to directory pruning alone — by then the probe is big
    * enough that reading whole directories amortizes. */
  val MaxKeyLiterals = 4096

  /** The partition key of a (band, bucket) pair. Types are pinned (int,
    * bigint) so writer and prober hash identical bytes no matter what
    * width the caller's expressions carry. */
  def partOf(band: Column, bucket: Column): Column =
    pmod(xxhash64(band.cast("int"), bucket.cast("bigint")), lit(NumParts)).cast("int")

  /** TEST-ONLY fault injection: when set, the next append-mode [[write]]
    * throws BEFORE touching disk and clears itself — simulating a crash
    * in the window between a primary-table commit and its derived
    * probe-layout commit (the GenStamp fence's crash model). Production
    * code never sets it. */
  @volatile private[graft] var failNextAppend: Boolean = false

  /** Table existence = directory present AND holding at least one
    * non-underscore entry (a partition dir or data file). A directory
    * containing only `_`-prefixed markers (`_SUCCESS`, `_graft_gen`) is
    * "no table": parquet cannot infer a schema from it, so callers that
    * trusted a bare-dir check would crash where the husk-drop rule
    * means "fall back to the full scan / empty result" (r16 advice,
    * medium — a resurrected marker-only husk). One listing, no job. */
  def exists(s: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(!_.getPath.getName.startsWith("_"))
  }

  /** Write band rows under `path` partitioned by [[Col]] and clustered
    * by bucket. `df` must carry `bandCol` and `bucketCol`; any other
    * columns ride along (the id for tombstoning, carried refine
    * payloads). Same empty-husk normalization as IdBuckets.write: a
    * zero-row partitioned write leaves an unreadable no-footer husk,
    * which is removed so existence checks see "no table". */
  def write(df: DataFrame, path: String, mode: String,
      bandCol: String = "band", bucketCol: String = "bucket"): Unit = {
    if (mode == "append" && failNextAppend) {
      failNextAppend = false
      throw new IllegalStateException(
        "graft test fault injection: probe-layout append suppressed")
    }
    Partitioned.write(df, Col, partOf(col(bandCol), col(bucketCol)), bucketCol, path, mode)
    // the path may have held a previous generation of the table (the
    // upgrade/rebuild flow) — drop any cached file listing so the next
    // reader lists the files actually on disk
    df.sparkSession.catalog.refreshByPath(path)
  }

  /** The logical view (partition column dropped) — the fallback full
    * scan, plan-compatible with a pruned read. */
  def read(s: SparkSession, path: String): DataFrame =
    TableRead.read(s, path).drop(Col)

  /** PRUNED read: only the rows whose (band, bucket) could match `keys`
    * (a small batch-derived frame carrying `bandCol`/`bucketCol`).
    * Executes ONE bounded job over `keys` — distinct (pband, bucket)
    * pairs, capped at [[MaxKeyLiterals]] — after which the pband values
    * are known on the driver: one listing of the table root picks their
    * directories and one part-file footer gives the schema
    * ([[TableRead.bucketRead]]), so the read itself adds no listing or
    * schema-inference job. A pushed `bucket IN` literal filter then
    * skips row groups. Past the cap it re-collects just the pband
    * values (bounded by [[NumParts]] regardless of batch size) and
    * keeps directory pruning alone. The result is a SUPERSET of the
    * matching rows (hash collisions, bucket-only filtering); callers
    * keep their exact equi-join on (band, bucket) — pruning is a scan
    * optimization, never a semantics change. */
  def prunedRead(s: SparkSession, path: String, keys: DataFrame,
      bandCol: String = "band", bucketCol: String = "bucket"): DataFrame = {
    val kp = keys
      .select(partOf(col(bandCol), col(bucketCol)).as("pb"),
        col(bucketCol).cast("bigint").as("bk"))
      .distinct().limit(MaxKeyLiterals + 1).collect()
    // an empty key set (an empty or all-filtered batch) matches nothing:
    // no bucket is wanted, so the read is an empty frame and opens no file
    if (kp.length <= MaxKeyLiterals) {
      val pbs = kp.map(_.getInt(0)).distinct.toSeq
      val bks = kp.map(_.getLong(1)).distinct.toSeq
      TableRead.bucketRead(s, path, Col, pbs).where(col(bucketCol).isin(bks: _*))
    } else {
      val pbs = keys.select(partOf(col(bandCol), col(bucketCol)).as("pb"))
        .distinct().collect().map(_.getInt(0)).toSeq
      TableRead.bucketRead(s, path, Col, pbs)
    }
  }

  /** Fold tombstones into a band-partitioned table, rewriting ONLY the
    * partitions that hold the deleted ids' band rows. The deleted rows'
    * (band, bucket) keys are not derivable from the tombstone ids alone
    * — the caller locates them from its primary signature table (run
    * BEFORE that table is itself folded) and passes them as
    * `deletedBandRows`. Affected partitions are a bounded collect (at
    * most [[NumParts]] values); untouched directories' files are never
    * opened. `tombstones` is the gated join side ([[Tombstones.foldSide]]).
    * Does NOT clear the tombstones — the index lifecycle
    * (BandedIndex.compact) clears once every table is folded. */
  private[sources] def fold(s: SparkSession, tablePath: String, idCol: String,
      deletedBandRows: DataFrame, tombstones: DataFrame, bandCol: String,
      bucketCol: String): Unit = {
    val key = partOf(col(bandCol), col(bucketCol))
    Partitioned.fold(s, tablePath, Col, key, bucketCol, idCol,
      deletedBandRows.select(key).distinct().collect().map(_.getInt(0)).sorted.toSeq,
      tombstones)
    s.catalog.refreshByPath(tablePath)
  }
}
