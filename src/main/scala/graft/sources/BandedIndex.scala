package graft.sources

import graft.sources.TableWrite.TableWriteOps
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The lifecycle every banded near-dup index shares — MinHash text
  * (`DedupOps`), embedding LSH (`VectorOps`), image and audio perceptual
  * hashes (`ImageCodec`, `AudioCodec`) and video frame hashes
  * (`VideoCodec`). One index directory holds:
  *
  *  - `primary`: the signature table, one row per item. Its shape is the
  *    family's [[IndexMeta]] layout: [[IndexMeta.FlatLayout]] is plain
  *    parquet (folded whole, `Tombstones.foldIntoFlat`),
  *    [[IndexMeta.GroupedLayout]] is [[IdBuckets]]-partitioned (folded
  *    per affected id bucket);
  *  - `refine` (optional): the exact-refine tier, id-bucketed by the same
  *    id;
  *  - `pbands`: the [[BandBuckets]] probe table, DERIVED from the primary
  *    by the family's band-row function and fenced against it with
  *    [[GenStamp]] append generations;
  *  - `meta`: one row pinning the signing parameters and the layout;
  *  - `tombstones` ([[Tombstones]]).
  *
  * A family supplies only its table and column names, its band-row
  * derivation and its meta check; write, heal, fenced append, delete,
  * compact, the meta check, bucket stats and both probe storage sides
  * are implemented here once. Commit orders are crash-shaped (DURABILITY
  * .md): a write is rebuild-fenced and meta-last, an append is
  * refine-first and generation-fenced, a compaction folds `pbands` first
  * and clears the tombstones last.
  *
  * @param name      family name in error messages
  * @param writer    the writer an operator re-runs to lift a rebuild fence
  * @param idCol     item id of the primary and refine tables
  * @param bandIdCol item id carried by the `pbands` rows (tombstones
  *                  apply to it; video carries its `vid`)
  * @param bandRowsOf `pbands` rows of a frame of primary rows
  * @param checkMeta family checks on the meta row, beyond the layout
  */
final class BandedIndex(val name: String, val writer: String,
    val primary: String, val refine: Option[String], val idCol: String,
    val bandIdCol: String, val bandCol: String, val bucketCol: String,
    val layout: Int, bandRowsOf: DataFrame => DataFrame,
    checkMeta: Row => Unit = _ => ()) {

  private def at(dir: String, table: String): String = s"$dir/$table"
  private def derived(dir: String): String = at(dir, BandedIndex.Derived)
  private val grouped = layout == IndexMeta.GroupedLayout

  /** The logical view of `table`: the primary by its layout, a refine
    * table id-bucketed. */
  private def read(s: SparkSession, dir: String, table: String): DataFrame =
    if (table == primary && !grouped) TableRead.read(s, at(dir, table))
    else IdBuckets.read(s, at(dir, table))

  /** What a full-scan reader of the index sees of `table` (the primary
    * by default): its logical view with the tombstoned ids removed. */
  def live(s: SparkSession, dir: String, table: String = primary): DataFrame =
    Tombstones.applyTo(s, read(s, dir, table), dir, idCol)

  private def writePrimary(rows: DataFrame, dir: String, mode: String): Unit =
    if (grouped) IdBuckets.write(rows, idCol, at(dir, primary), mode)
    else rows.tableWrite.mode(mode).parquet(at(dir, primary))

  private def writeRefine(rows: Option[DataFrame], dir: String, mode: String): Unit =
    for (t <- refine; r <- rows) IdBuckets.write(r, idCol, at(dir, t), mode)

  /** Read and validate the meta row, shared by every reader and appender
    * of the index: a standing rebuild marker refuses first, then the
    * family's check, then the layout stamp. */
  def requireMeta(s: SparkSession, dir: String): Row =
    BandedIndex.requireMeta(s, dir, name, writer, layout)(checkMeta)

  /** Build the index under `dir`, replacing any previous one: the rebuild
    * marker goes up, the primary and refine tables are written, `pbands`
    * is derived, `meta` lands last and the fence is lifted. */
  def write(s: SparkSession, dir: String, primaryRows: DataFrame,
      refineRows: Option[DataFrame], meta: DataFrame): Unit = WriterLock.withLock(dir) {
    GenStamp.beginRebuild(s, dir)
    writePrimary(primaryRows, dir, "overwrite")
    writeRefine(refineRows, dir, "overwrite")
    heal(s, dir)
    meta.tableWrite.mode("overwrite").parquet(s"$dir/meta")
    GenStamp.completeRebuild(s, dir, Seq(at(dir, primary), derived(dir)))
  }

  /** (Re-)derive the whole `pbands` table from the primary and reconverge
    * its generation stamp — one pass over the primary, no re-signing.
    * Called by [[write]]; also the upgrade path for an index persisted
    * before the probe layout existed and the heal for a layout diverged
    * by a crashed append. A husk-dropped empty primary derives nothing. */
  def heal(s: SparkSession, dir: String): Unit = WriterLock.withLock(dir) {
    if (BandBuckets.exists(s, at(dir, primary))) {
      BandBuckets.write(bandRowsOf(read(s, dir, primary)), derived(dir), "overwrite",
        bandCol, bucketCol)
      GenStamp.syncDerived(s, at(dir, primary), derived(dir))
    }
  }

  /** Append a batch: `sign` turns the validated meta row into the batch's
    * primary rows. The caller owns id uniqueness (gate retries through
    * Ledger.missing). Commit order: the refine rows land first (a refine
    * row with no signature is unreachable, never a false negative), then
    * the primary under [[GenStamp.beginAppend]], then the `pbands` rows
    * and the stamp that reconverges the pair. A crash in the window
    * leaves the stamps diverged, so probes take the full scan; a layout
    * found already diverged is re-derived whole ([[heal]]) instead of
    * appended to. An index without `pbands` gets a plain primary append:
    * an append never creates a partial layout. */
  def append(s: SparkSession, dir: String, refineRows: Option[DataFrame] = None)(
      sign: Row => DataFrame): Unit = WriterLock.withLock(dir) {
    val rows0 = sign(requireMeta(s, dir))
    val hasLayout = BandBuckets.exists(s, derived(dir))
    // with a layout the rows feed two parquet jobs; the barrier keeps
    // the signing to one pass
    val rows = if (hasLayout) rows0.localCheckpoint(false) else rows0
    writeRefine(refineRows, dir, "append")
    if (!hasLayout) writePrimary(rows, dir, "append")
    else {
      val inSync = GenStamp.read(s, at(dir, primary)) == GenStamp.read(s, derived(dir))
      val gen = GenStamp.beginAppend(s, at(dir, primary))
      writePrimary(rows, dir, "append")
      if (inSync) {
        BandBuckets.write(bandRowsOf(rows), derived(dir), "append", bandCol, bucketCol)
        GenStamp.stamp(s, derived(dir), gen)
      } else heal(s, dir)
    }
  }

  /** Delete items: an O(ids) tombstone append. Probes exclude the ids at
    * once; [[compact]] folds them into the stored tables later. */
  def delete(s: SparkSession, ids: DataFrame, dir: String): Unit =
    Tombstones.append(s, ids, dir)

  /** Fold the tombstones into every table and clear them. `pbands` folds
    * first: the deleted items' band rows are derived from the not yet
    * folded primary (through its id buckets when grouped), and their
    * band keys bound which `pbands` partitions are rewritten. Then the
    * primary and refine tables fold, and the tombstones clear last.
    * Partitions the deletions did not touch are never opened. The
    * tombstone side of every join is broadcast only up to
    * `maxBroadcastTombstones` ids ([[Tombstones.joinSide]]). */
  def compact(s: SparkSession, dir: String,
      maxBroadcastTombstones: Long = Tombstones.MaxBroadcastTombstones): Unit =
    WriterLock.withLock(dir) {
    Tombstones.read(s, dir).foreach { t =>
      val side = Tombstones.joinSide(s, dir, t, maxBroadcastTombstones)
      // one bounded collect serves every id-bucketed table
      lazy val idBuckets = IdBuckets.bucketsOf(t)
      if (BandBuckets.exists(s, derived(dir))) {
        val stored =
          if (grouped) TableRead.bucketRead(s, at(dir, primary), IdBuckets.Col, idBuckets)
          else read(s, dir, primary)
        val dead = stored.join(side.select(col("id").as(idCol)), Seq(idCol), "left_semi")
        BandBuckets.fold(s, derived(dir), bandIdCol, bandRowsOf(dead), side, bandCol, bucketCol)
      }
      if (grouped) IdBuckets.fold(s, at(dir, primary), idCol, idBuckets, side)
      else Tombstones.foldFlat(s, at(dir, primary), idCol, side)
      refine.foreach(r => IdBuckets.fold(s, at(dir, r), idCol, idBuckets, side))
    }
    Tombstones.clear(s, dir)
  }

  /** The `perBand` most-populated band buckets, tombstone-aware: the
    * candidate skew profile a probe will meet, read from the stored
    * signatures. `keys` are blocking columns that are part of the bucket
    * key (embed-LSH's `label`). */
  def bucketStats(s: SparkSession, dir: String, perBand: Int,
      keys: Seq[String] = Nil): DataFrame = {
    requireMeta(s, dir)
    BandedIndex.topBuckets(bandRowsOf(live(s, dir)), perBand, bandCol, bucketCol, keys)
  }

  /** Resolve the stored sides of one probe: the pruned path when
    * `pbands` exists and is generation-equal to the primary, else the
    * full scan ([[GenStamp.prunedProbeOk]]). */
  def probe(s: SparkSession, dir: String): Probe =
    new Probe(s, dir, GenStamp.prunedProbeOk(s, at(dir, primary), derived(dir), name,
      "OpenProbe.open (or the next append)"))

  /** The stored sides of one probe. Both paths return the same rows;
    * pruning is a scan optimization only (BandLayoutSpec laws). */
  final class Probe private[BandedIndex] (s: SparkSession, dir: String,
      val pruned: Boolean) {

    /** Tombstone-applied stored band rows that could match `keys` (a
      * batch frame carrying the band and bucket columns): a literal-
      * pruned read of `pbands` ([[BandBuckets.prunedRead]]), or the band
      * rows derived from a full scan of the primary. */
    def bandRows(keys: DataFrame): DataFrame =
      if (pruned)
        Tombstones.applyTo(s,
          BandBuckets.prunedRead(s, derived(dir), keys, bandCol, bucketCol),
          dir, bandIdCol)
      else bandRowsOf(live(s, dir))

    /** A barrier for a frame the pruned path reads twice (the candidate
      * id collect and the refine join); the full scan reads it once. */
    def barrier(df: DataFrame): DataFrame = if (pruned) df.localCheckpoint(false) else df

    /** Tombstone-applied rows of the id-bucketed `table` for the candidate
      * `ids` (one long column): on the pruned path a bounded collect of
      * the ids turns into a point read ([[IdBuckets.prunedById]]), up to
      * [[IdBuckets.MaxIdLiterals]] ids; past that, and on the full scan,
      * the whole table. Callers keep their exact join on the id. */
    def rowsFor(table: String, ids: DataFrame): DataFrame = {
      lazy val idRows = ids.distinct().limit(IdBuckets.MaxIdLiterals + 1).collect()
      if (pruned && idRows.length <= IdBuckets.MaxIdLiterals)
        Tombstones.applyTo(s,
          IdBuckets.prunedById(s, at(dir, table), idCol, idRows.map(_.getLong(0)).toSeq),
          dir, idCol)
      else live(s, dir, table)
    }
  }
}

object BandedIndex {

  /** The derived probe table of every banded index. */
  val Derived = "pbands"

  /** The meta check of [[BandedIndex.requireMeta]] for callers that know
    * a family's layout but not its instance (HashBanding.requireMeta). */
  def requireMeta(s: SparkSession, dir: String, name: String, writer: String,
      layout: Int)(check: Row => Unit): Row = {
    GenStamp.requireNoRebuild(s, dir, name, writer)
    val meta = IndexMeta.headCached(s, s"$dir/meta")
    check(meta)
    IndexMeta.requireLayout(meta, layout, name, writer)
    meta
  }

  /** The `perBand` most-populated (keys, band, bucket) cells of a frame of
    * band rows, as (keys..., band, bucket, population), population-
    * descending within each band. */
  def topBuckets(rows: DataFrame, perBand: Int, bandCol: String,
      bucketCol: String, keys: Seq[String] = Nil): DataFrame = {
    require(perBand >= 1, s"perBand must be >= 1, got $perBand")
    val k: Seq[Column] = keys.map(col)
    rows.groupBy(k ++ Seq(col(bandCol), col(bucketCol)): _*)
      .agg(count(lit(1)).as("population"))
      .withColumn("rnk", row_number().over(Window.partitionBy(bandCol)
        .orderBy(col("population").desc +: k :+ col(bucketCol): _*)))
      .where(col("rnk") <= perBand)
      .select(k ++ Seq(col(bandCol).as("band"), col(bucketCol).as("bucket"),
        col("population")): _*)
      .orderBy(Seq(col("band"), col("population").desc) ++ k :+ col("bucket"): _*)
  }
}
