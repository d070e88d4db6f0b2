package graft.sources

import graft.sources.TableWrite.TableWriteOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tombstone table shared by every persisted index family (IVF / PQ /
  * IVFADC postings+codes, MinHash bands+shingles) — the deletion half of
  * the index lifecycle (takedowns, dedup removals).
  *
  * A delete is an O(ids) parquet append of the ids to `dir/tombstones`;
  * nothing in the (possibly enormous) index is touched. Readers apply the
  * tombstones as a left-anti join — with tombstone counts tiny relative
  * to the corpus, Catalyst broadcasts them, so the filter costs one
  * broadcast hash probe per index row and composes with partition
  * pruning on the scan below it. A periodic `compact*Index` pass (in the
  * owning operator object) folds the tombstones into the stored files
  * and clears them; until then, deleted ids are invisible to every
  * search/probe but still occupy bytes — the standard LSM-ish tradeoff
  * every production store makes.
  *
  * Re-adding a previously deleted id requires a compaction first: the
  * anti-join cannot distinguish the old posting from the re-appended one
  * (same discipline as the append-idempotence contract — the caller owns
  * id uniqueness, see Ledger).
  */
object Tombstones {

  def path(dir: String): String = s"$dir/tombstones"

  private def fs(s: SparkSession, p: String) =
    new Path(p).getFileSystem(s.sparkContext.hadoopConfiguration)

  def exists(s: SparkSession, dir: String): Boolean =
    fs(s, path(dir)).exists(new Path(path(dir)))

  /** Record ids (any single-column frame; the column is taken as-is and
    * stored as `id`) as deleted. Append-only and idempotent: duplicate
    * tombstones change nothing (anti-join semantics). */
  def append(s: SparkSession, ids: DataFrame, dir: String): Unit =
    WriterLock.withLock(dir) {
    require(ids.columns.length == 1,
      s"tombstone ids must be a single-column frame, got ${ids.columns.mkString(",")}")
    ids.select(col(ids.columns(0)).as("id")).distinct()
      .tableWrite.mode("append").parquet(path(dir))
    // the lock covers the whole index root, so a concurrent compaction
    // cannot clear tombstones between this append and its fold — the
    // resurrection race the crash fences alone cannot see
  }

  def read(s: SparkSession, dir: String): Option[DataFrame] =
    if (exists(s, dir)) Some(TableRead.read(s, path(dir)).select("id").distinct())
    else None

  /** The delete-aware view of an index table: anti-join `idCol` against
    * the tombstones, a no-op (the identical plan) when none exist. */
  def applyTo(s: SparkSession, df: DataFrame, dir: String, idCol: String): DataFrame =
    read(s, dir) match {
      case Some(t) => df.join(broadcast(t), df(idCol) === t("id"), "left_anti")
      case None    => df
    }

  /** Drop the tombstone table (call only after a compaction has folded
    * the deletions into the stored files). */
  def clear(s: SparkSession, dir: String): Unit = {
    val p = new Path(path(dir))
    fs(s, path(dir)).delete(p, true)
    ()
  }

  /** Tombstone sets small enough to ride as a broadcast in a fold's
    * joins — ~16 MB of long ids, far past any takedown batch. */
  val MaxBroadcastTombstones: Long = 1L << 20

  /** The one broadcast gate of the folds: the tombstone side of every
    * fold join (the anti-join that rewrites a table, the semi-join that
    * finds the deleted band rows) is broadcast up to
    * `maxBroadcastTombstones` ids and a plain shuffle side past it, so a
    * mass deletion degrades to a shuffle join instead of collecting the
    * whole set on the driver — a fold that big rewrites most of the
    * table anyway. One count job decides. Bounded collects that pick the
    * partitions to rewrite read the ungated frame. */
  def foldSide(t: DataFrame,
      maxBroadcastTombstones: Long = MaxBroadcastTombstones): DataFrame =
    if (t.count() <= maxBroadcastTombstones) broadcast(t) else t

  /** Fold `dir`'s tombstones into one flat (non-partitioned) parquet
    * table: rewrite minus the deleted ids, then swap the rewrite in. A
    * flat table has no finer rewrite unit than itself. Does NOT clear
    * the tombstones — an index may own several tables (e.g. MinHash
    * bands + shingles); the caller clears once all are folded. */
  def foldIntoFlat(s: SparkSession, tablePath: String, dir: String, idCol: String,
      maxBroadcastTombstones: Long = MaxBroadcastTombstones): Unit =
    read(s, dir).foreach(t =>
      foldFlat(s, tablePath, idCol, foldSide(t, maxBroadcastTombstones)))

  /** [[foldIntoFlat]] over a gated tombstone side ([[foldSide]]). */
  private[sources] def foldFlat(s: SparkSession, tablePath: String, idCol: String,
      tombstones: DataFrame): Unit = {
    val tmp = s"${tablePath}__compact_tmp"
    val base = TableRead.read(s, tablePath)
    base.join(tombstones, base(idCol) === tombstones("id"), "left_anti")
      .tableWrite.mode("overwrite").parquet(tmp)
    // the swap replaces the whole directory, which would drop the
    // table's GenStamp marker and leave it diverged from its fence
    // partners (readers would then refuse a perfectly consistent
    // index); folding changes no cross-table consistency, so the
    // pre-fold generation carries across the swap
    val gen = GenStamp.read(s, tablePath)
    val hfs = fs(s, tablePath)
    // the old table moves aside first and is deleted only once the
    // rewrite is in place: a failed move throws with both on disk
    val old = new Path(s"${tablePath}__compact_old")
    hfs.delete(old, true)
    FsMoves.move(hfs, new Path(tablePath), old)
    FsMoves.move(hfs, new Path(tmp), new Path(tablePath))
    hfs.delete(old, true)
    if (gen != 0L) GenStamp.stamp(s, tablePath, gen)
  }
}
