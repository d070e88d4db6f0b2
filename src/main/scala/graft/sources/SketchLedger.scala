package graft.sources

import graft.functions.GraftFunctions
import graft.sources.TableWrite.TableWriteOps
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental DISTINCT-COUNT accounting over an append-only ingest —
  * the sketch-table pattern every 100 TB pipeline ends up needing for
  * cardinality monitoring (vocabulary growth, distinct doc hashes per
  * source, dedup-rate dashboards): re-scanning the corpus to answer
  * "how many distinct X so far" is a full-table pass per question,
  * while a per-batch HLL sketch table answers it from kilobytes.
  *
  * Built on Spark's native DataSketches HLL expressions
  * (`hll_sketch_agg` / `hll_union_agg` / `hll_sketch_estimate` — real
  * mergeable sketches, NOT approx_count_distinct's one-shot estimate):
  * each ingest batch appends one row per key carrying its serialized
  * sketch (+ exact row count); any later question merges the relevant
  * sketch rows — commutative, idempotent under re-merge. A re-appended
  * (retried) batch under the SAME batch id is fully absorbed on the
  * read path: both ledger kinds collapse to one row per
  * (keys, batch_id) before merging (see dedupRetries), so neither the
  * estimate NOR the exact `rows` bookkeeping moves. A retry that lands
  * under a different batch id still cannot inflate the HLL estimate
  * (register OR is idempotent) but DOES double `rows` — batch ids are
  * the retry contract, as in the composed ingest loops.
  *
  * Error contract: standard HLL — ~1.04/√2^lgk relative error (~1.6% at
  * the default lgConfigK=12, ~520 bytes per key). `lgConfigK` is pinned
  * in the ledger's 1-row meta at first append and enforced on every
  * later append: merging sketches of different precision is a silent
  * accuracy downgrade, so a mismatch fails loudly instead (the
  * IndexMeta discipline, parameter tier).
  *
  * The `rows` column is exact bookkeeping (sums linearly), giving every
  * reader the (exact processed rows, approximate distinct) pair that
  * dedup-rate monitoring actually wants.
  *
  * A second ledger kind, the QUANTILE ledger (appendQuantile /
  * quantileByKey / quantileTotal below), applies the same pattern to
  * "p99 of X so far, per key" via the graft_kll_* functions
  * (functions/KllSketchFns.scala) — completing the sketch-accounting
  * trio (distinct = HLL here, heavy hitters = graft_topk, quantiles =
  * KLL). The two kinds never share a dir: the meta stamps which sketch
  * family owns it and every reader checks that first.
  */
object SketchLedger {

  private def fs(s: SparkSession, dir: String) =
    new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)

  private def metaPath(dir: String) = s"$dir/meta"

  // ------------------------------------------------------------------
  // Physical layout (r17, v2 — enables compaction): every append lands
  // its rows under a per-batch PARTITION `bpart=b<batchId>` (batch_id
  // stays a data column — the partition is a layout detail readers
  // drop), and every row carries a `folded array<string>` column that
  // is empty on appends and holds the cumulative fold manifest on
  // consolidated rows. Compaction (compactDistinct/compactQuantile/
  // compactSum) merges batches outside the caller's retry horizon into
  // ONE consolidated partition `bpart=_c<gen>` whose rows carry every
  // folded batch id; the publish is a single atomic directory rename,
  // and the read path takes the HIGHEST generation present and
  // anti-joins its manifest — so every crash state reads correctly:
  // before the rename nothing changed, after it the originals are
  // excluded by the manifest whether or not their partitions were
  // garbage-collected yet. Deleting folded partitions is therefore
  // pure GC, healed at the head of the next compaction. A late retry
  // of a folded batch (caller breaking the retry-horizon contract)
  // lands a partition the manifest already excludes — read-correct,
  // GC'd later. Why compaction matters at all: at a streaming trigger
  // cadence a year of micro-batches is ~500k partitions × keys rows —
  // without folding, every ledger read and directory listing scales
  // with INGEST HISTORY rather than key cardinality.
  // ------------------------------------------------------------------

  private val PartCol = "bpart"
  private val CompactPrefix = "_c"
  private def bpartOf(batchId: String) = "b" + batchId

  /** Caller batch ids must never collide with the reserved consolidated
    * namespace: a batch id like "_c1" would be excluded from live reads
    * by readLive's prefix filter and, at the matching generation, its
    * rows would be CONFLATED with the consolidated partition (its empty
    * `folded` array can even win the cons.limit(1) manifest pick) —
    * silently corrupting sums and estimates with no error (r17 advice).
    * Refused loudly at every append instead. */
  private def requireCallerBatchId(batchId: String): Unit =
    require(!batchId.startsWith(CompactPrefix),
      s"batch id '$batchId' collides with the reserved consolidated-generation " +
        s"prefix '$CompactPrefix' - ids with that prefix are compaction-internal; " +
        "pick a different batch id")

  // ------------------------------------------------------------------
  // v1 -> v2 layout migration (r17 advice): a pre-r17 ledger has flat
  // part files directly under sketches/ and rows without the `folded`
  // column. The first v2 partitionBy(bpart) append against such a dir
  // would produce a mixed flat+partitioned directory Spark's partition
  // discovery rejects, and readLive's col("folded") would fail on the
  // old schema. Every WRITER therefore migrates the legacy layout
  // in-place first (under the caller's WriterLock): rewrite the old
  // rows under bpart=b<batch_id> with an empty `folded` column via a
  // staged directory swap. Pure READS of an untouched v1 dir already
  // work (maxGen sees no _c partitions; the lenient drops are no-ops),
  // so migration is lazy on the first mutation. A reader that lands in
  // the brief swap window (sketches dir renamed away) fails LOUDLY on
  // the missing-table message and succeeds after the writer finishes —
  // never a silent wrong answer.
  // ------------------------------------------------------------------

  private def migrateStagePath(dir: String) = s"$dir/_migrate_stage"
  private def migrateOldPath(dir: String) = s"$dir/_sketches_v1_old"

  /** True iff the sketches table still has v1 flat part files at its
    * top level (v2 writes only bpart=* partition directories). */
  private def legacyFlat(s: SparkSession, dir: String): Boolean = {
    val p = new Path(s"$dir/sketches")
    val hfs = fs(s, dir)
    hfs.exists(p) && hfs.listStatus(p).exists { st =>
      st.isFile && st.getPath.getName.endsWith(".parquet")
    }
  }

  /** Heal a crashed migration, then migrate a v1 flat layout to the v2
    * partitioned layout if present. Must run under WriterLock (every
    * caller is a mutator that already holds it). Idempotent. */
  private def migrateLegacyLayout(s: SparkSession, dir: String): Unit = {
    val hfs = fs(s, dir)
    val sketches = new Path(s"$dir/sketches")
    val stage = new Path(migrateStagePath(dir))
    val old = new Path(migrateOldPath(dir))
    // heal: a crash between the two renames leaves old present and
    // sketches absent — the stage is complete by construction (the
    // move-out only happens after the staged write commits), so finish
    // the swap; any other debris means the staged write itself crashed
    // and the sources are intact, so discard and redo below
    if (hfs.exists(old) && !hfs.exists(sketches)) {
      require(hfs.exists(stage) && hfs.rename(stage, sketches),
        s"ledger migration at $dir crashed mid-swap and its stage is missing - " +
          s"restore $old to $sketches manually")
    }
    if (hfs.exists(old)) { hfs.delete(old, true); () }
    if (hfs.exists(stage)) { hfs.delete(stage, true); () }
    if (!legacyFlat(s, dir)) return
    val raw = s.read.parquet(sketches.toString)
    val withFolded =
      if (raw.columns.contains("folded")) raw
      else raw.withColumn("folded", typedLit(Seq.empty[String]))
    withFolded
      .withColumn(PartCol, concat(lit("b"), col("batch_id")))
      .tableWrite.mode("overwrite").partitionBy(PartCol).parquet(stage.toString)
    require(hfs.rename(sketches, old),
      s"ledger migration at $dir: could not move $sketches aside")
    require(hfs.rename(stage, sketches),
      s"ledger migration at $dir: could not publish $stage")
    hfs.delete(old, true)
    ()
  }

  /** Highest consolidated generation present (0 = never compacted).
    * One directory listing, no job. */
  private def maxGen(s: SparkSession, dir: String): Int = {
    val p = new Path(s"$dir/sketches")
    val hfs = fs(s, dir)
    if (!hfs.exists(p)) 0
    else hfs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith(s"$PartCol=$CompactPrefix"))
      .map(_.stripPrefix(s"$PartCol=$CompactPrefix"))
      .flatMap(v => scala.util.Try(v.toInt).toOption)
      .foldLeft(0)(math.max)
  }

  /** The LOGICAL ledger view: consolidated top-generation rows plus the
    * live batch rows its manifest does not cover, layout columns
    * dropped. Correct in every compaction crash state (see the layout
    * note above). */
  private def readLive(s: SparkSession, dir: String): DataFrame = {
    val raw = readSketches(s, dir).drop(PartCol)
    val g = maxGen(s, dir)
    if (g == 0) raw.drop("folded")
    else {
      val consId = s"$CompactPrefix$g"
      val cons = raw.where(col("batch_id") === consId)
      // the manifest is identical on every consolidated row — one suffices
      val folded = cons.limit(1).select(explode(col("folded")).as("batch_id"))
      val live = raw.where(!col("batch_id").startsWith(CompactPrefix))
        .join(folded, Seq("batch_id"), "left_anti")
      cons.unionByName(live).drop("folded")
    }
  }

  /** Batch ids the ledger accounts for: live partition rows plus the
    * top manifest (a folded batch is PRESENT — reconcile must not
    * re-derive it). */
  private def accountedBatchIds(s: SparkSession, dir: String): Set[String] = {
    if (!fs(s, dir).exists(new Path(s"$dir/sketches"))) return Set.empty
    val raw = s.read.parquet(s"$dir/sketches")
    val live = raw.select("batch_id").distinct().collect().map(_.getString(0))
      .filterNot(_.startsWith(CompactPrefix))
    val g = maxGen(s, dir)
    val manifest =
      if (g == 0) Nil
      else raw.where(col("batch_id") === s"$CompactPrefix$g")
        .limit(1).select(col("folded")).collect()
        .headOption.map(_.getSeq[String](0)).getOrElse(Nil)
    (live ++ manifest).toSet
  }

  private def readMeta(s: SparkSession, dir: String): Option[(Int, Seq[String], String)] =
    if (fs(s, dir).exists(new Path(metaPath(dir)))) {
      val df = s.read.parquet(metaPath(dir))
      require(df.columns.contains("lgk"),
        s"ledger at $dir is not a distinct-count ledger (its meta has no 'lgk'; " +
          "quantile ledgers carry 'k') - sketch kinds cannot share a ledger dir")
      val m = df.head()
      Some((m.getAs[Int]("lgk"), m.getSeq[String](m.fieldIndex("keys")).toList,
        m.getAs[String]("value")))
    } else None

  private def readQuantileMeta(s: SparkSession, dir: String): Option[(Int, Seq[String], String)] =
    if (fs(s, dir).exists(new Path(metaPath(dir)))) {
      val df = s.read.parquet(metaPath(dir))
      require(df.columns.contains("k"),
        s"ledger at $dir is not a quantile ledger (its meta has no 'k'; " +
          "distinct-count ledgers carry 'lgk') - sketch kinds cannot share a ledger dir")
      val m = df.head()
      Some((m.getAs[Int]("k"), m.getSeq[String](m.fieldIndex("keys")).toList,
        m.getAs[String]("value")))
    } else None

  /** Append one ingest batch's sketches. `keys` group the accounting
    * (e.g. Seq("source")), `value` is the column whose distinct
    * cardinality is tracked, `batchId` is the caller's batch label
    * (the Ledger step id in the composed pipelines) — kept per row so a
    * ledger can also be queried per batch or re-derived after a batch
    * is disowned. First append stamps (lgk, keys, value) into the meta;
    * later appends must match all three. */
  def append(s: SparkSession, batch: DataFrame, keys: Seq[String], value: String,
      dir: String, batchId: String, lgConfigK: Int = 12): Unit = WriterLock.withLock(dir) {
    require(keys.nonEmpty, "SketchLedger.append: at least one key column required")
    requireCallerBatchId(batchId)
    migrateLegacyLayout(s, dir)
    require(lgConfigK >= 4 && lgConfigK <= 21,
      s"lgConfigK must be in [4, 21], got $lgConfigK")
    readMeta(s, dir).foreach { case (lgk, ks, v) =>
      require(lgk == lgConfigK && ks == keys && v == value,
        s"SketchLedger at $dir was created with (lgk=$lgk, keys=$ks, value=$v); " +
          s"this append uses (lgk=$lgConfigK, keys=$keys, value=$value) - merging " +
          "mixed-parameter sketches silently degrades accuracy, so it is refused. " +
          "Start a new ledger dir for new parameters.")
    }
    // meta FIRST (the AssetIngest husk discipline): a crash after the
    // meta stamp but before the sketch write leaves a harmless husk the
    // retry passes through the param check above; the old sketches-first
    // order left a window where a differently-parameterized second
    // append could stamp its own meta over lgk-X sketches and
    // hll_union_agg would silently merge mixed precisions.
    if (readMeta(s, dir).isEmpty) {
      import s.implicits._
      Seq((lgConfigK, keys, value)).toDF("lgk", "keys", "value")
        .coalesce(1).tableWrite.mode("overwrite").parquet(metaPath(dir))
    }
    val sk = batch
      .groupBy(keys.map(col): _*)
      .agg(expr(s"hll_sketch_agg($value, $lgConfigK)").as("sketch"),
        count(col(value)).as("rows"))
      .withColumn("batch_id", lit(batchId))
      .withColumn("folded", typedLit(Seq.empty[String]))
      .withColumn(PartCol, lit(bpartOf(batchId)))
    sk.tableWrite.mode("append").partitionBy(PartCol).parquet(s"$dir/sketches")
  }

  /** Retried-batch absorption shared by both read paths: collapse to one
    * row per (keys, batch_id) BEFORE merging, so a re-appended batch
    * (same id) cannot double the exact `rows` bookkeeping. The HLL
    * estimate was already retry-safe (register OR is idempotent), but
    * `rows` sums linearly — without this, a retry silently inflates the
    * exact half of the (rows, distinct) pair. min(sketch) is an
    * arbitrary-but-deterministic pick among retries of the same payload
    * (HLL sketch bytes are deterministic, so retries agree anyway). A
    * "retry" that writes DIFFERENT data under the same batch id is
    * caller error, as everywhere in the Ledger family. */
  private def dedupRetries(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy((keys :+ "batch_id").map(col): _*)
      .agg(min(col("sketch")).as("sketch"), max(col("rows")).as("rows"))

  /** Sketch-table read with a clean message for the meta-only husk a
    * crashed first append leaves behind (meta-first ordering makes that
    * the ONLY partial state possible). */
  private def readSketches(s: SparkSession, dir: String): DataFrame = {
    if (!fs(s, dir).exists(new Path(s"$dir/sketches")))
      sys.error(s"ledger at $dir has meta but no sketches yet - its first " +
        "append was interrupted before any sketch row landed; re-run the append")
    s.read.parquet(s"$dir/sketches")
  }

  // ------------------------------------------------------------------
  // Reconciliation (r17, closing DURABILITY's AssetIngest row (b)): the
  // ledgers are RE-DERIVABLE BY DESIGN — every sketch row is a pure
  // function of (one batch's landed rows, the meta's parameters), and
  // the landed tables carry their batch id as a partition column
  // (AssetIngest.landIdempotent). So a batch whose recordSketches call
  // was lost to a crash AFTER the index append is not a permanent
  // undercount: reconcile() diffs the landed batch ids against the
  // ledger's batch ids and re-appends exactly the missing ones, with
  // the meta's own parameters. Idempotent (a second reconcile finds
  // nothing missing) and retry-safe (an id that raced in anyway is
  // absorbed by the (keys, batch_id) read-path dedup).
  // ------------------------------------------------------------------

  /** Batch ids present in `landed` (under `batchCol`) but absent from
    * the ledger's sketch table. Bounded driver collect: one id per
    * ingest batch, crawl-cadence small by construction. */
  private def missingBatches(s: SparkSession, dir: String, landed: DataFrame,
      batchCol: String): Seq[String] = {
    val inLedger = accountedBatchIds(s, dir)
    landed.select(col(batchCol).cast("string")).distinct()
      .collect().map(_.getString(0)).filterNot(inLedger).sorted.toSeq
  }

  /** Re-derive the distinct-count ledger's missing batch rows from the
    * landed data: one [[append]] per landed batch id the sketch table
    * does not carry, grouped exactly as the original recordSketches
    * would have (the meta's parameters win over the defaults, so a
    * reconcile can never mix precisions). Returns the repaired ids —
    * empty when the ledger was already complete. */
  def reconcile(s: SparkSession, landed: DataFrame, keys: Seq[String],
      value: String, dir: String, batchCol: String = "ingest_batch",
      lgConfigK: Int = 12): Seq[String] = {
    val lgk = readMeta(s, dir).map(_._1).getOrElse(lgConfigK)
    val missing = missingBatches(s, dir, landed, batchCol)
    missing.foreach { id =>
      append(s, landed.where(col(batchCol).cast("string") === id),
        keys, value, dir, id, lgk)
    }
    missing
  }

  /** Quantile-ledger twin of [[reconcile]]. */
  def reconcileQuantile(s: SparkSession, landed: DataFrame, keys: Seq[String],
      value: String, dir: String, batchCol: String = "ingest_batch",
      k: Int = 200): Seq[String] = {
    val kk = readQuantileMeta(s, dir).map(_._1).getOrElse(k)
    val missing = missingBatches(s, dir, landed, batchCol)
    missing.foreach { id =>
      appendQuantile(s, landed.where(col(batchCol).cast("string") === id),
        keys, value, dir, id, kk)
    }
    missing
  }

  /** Distinct estimate + exact processed rows per key, merged across
    * every appended batch — reads only the sketch table (bytes per
    * key·batch), never the corpus. */
  def distinctByKey(s: SparkSession, dir: String): DataFrame = {
    val (_, keys, _) = readMeta(s, dir).getOrElse(
      sys.error(s"SketchLedger at $dir has no meta - nothing was ever appended"))
    dedupRetries(readLive(s, dir), keys)
      .groupBy(keys.map(col): _*)
      .agg(expr("hll_sketch_estimate(hll_union_agg(sketch))").as("distinct_est"),
        sum(col("rows")).as("rows"))
      .orderBy(keys.map(c => col(c).asc): _*)
  }

  /** Global distinct estimate across ALL keys and batches — one merge
    * over the whole sketch table (valid because every sketch shares the
    * meta-pinned lgConfigK). */
  def distinctTotal(s: SparkSession, dir: String): Long = {
    readMeta(s, dir).getOrElse(
      sys.error(s"SketchLedger at $dir has no meta - nothing was ever appended"))
    readLive(s, dir)
      .agg(expr("hll_sketch_estimate(hll_union_agg(sketch))").as("distinct_est"))
      .head().getLong(0)
  }

  // ------------------------------------------------------------------
  // Quantile ledger (KLL) — same append/merge pattern, different error
  // contract. "p99 document length so far, per source" from kilobytes
  // instead of a corpus re-scan. See functions/KllSketchFns.scala for
  // the sketch functions and the honest determinism caveat (KLL
  // compaction is randomized; every law here is an error bound, never
  // a hash).
  //
  // Retry stakes are higher here than for HLL: HLL union is idempotent
  // (re-OR of the same registers), but merging a duplicate KLL sketch
  // DOUBLES its values' weights — without the shared (keys, batch_id)
  // dedup the ESTIMATES themselves would drift, not just the `rows`
  // bookkeeping. Both read paths go through dedupRetries.
  // ------------------------------------------------------------------

  /** Append one ingest batch's KLL quantile sketches, one row per key.
    * First append stamps (k, keys, value) into the meta; later appends
    * must match (mixed-k merges silently degrade to the smaller k's
    * accuracy, so drift is refused loudly — the IndexMeta discipline).
    * k=200 default ≈ 1.65% normalized rank error, a few KB per key. */
  def appendQuantile(s: SparkSession, batch: DataFrame, keys: Seq[String], value: String,
      dir: String, batchId: String, k: Int = 200): Unit = WriterLock.withLock(dir) {
    require(keys.nonEmpty, "SketchLedger.appendQuantile: at least one key column required")
    requireCallerBatchId(batchId)
    migrateLegacyLayout(s, dir)
    require(k >= 8 && k <= 65535, s"k must be in [8, 65535], got $k")
    GraftFunctions.register(s)
    readQuantileMeta(s, dir).foreach { case (mk, ks, v) =>
      require(mk == k && ks == keys && v == value,
        s"quantile ledger at $dir was created with (k=$mk, keys=$ks, value=$v); " +
          s"this append uses (k=$k, keys=$keys, value=$value) - merging " +
          "mixed-parameter sketches silently degrades accuracy, so it is refused. " +
          "Start a new ledger dir for new parameters.")
    }
    // meta FIRST — same crash-window discipline as append() above
    if (!fs(s, dir).exists(new Path(metaPath(dir)))) {
      import s.implicits._
      Seq((k, keys, value)).toDF("k", "keys", "value")
        .coalesce(1).tableWrite.mode("overwrite").parquet(metaPath(dir))
    }
    val sk = batch
      .groupBy(keys.map(col): _*)
      .agg(expr(s"graft_kll_agg($value, $k)").as("sketch"),
        count(col(value)).as("rows"))
      .withColumn("batch_id", lit(batchId))
      .withColumn("folded", typedLit(Seq.empty[String]))
      .withColumn(PartCol, lit(bpartOf(batchId)))
    sk.tableWrite.mode("append").partitionBy(PartCol).parquet(s"$dir/sketches")
  }

  /** Estimated values at the requested normalized ranks per key, merged
    * across every appended batch (long form: one row per key × rank,
    * with the exact processed-row count alongside). Reads only the
    * sketch table — bytes per key·batch, never the corpus. */
  def quantileByKey(s: SparkSession, dir: String, ranks: Seq[Double]): DataFrame = {
    require(ranks.nonEmpty && ranks.forall(r => r >= 0.0 && r <= 1.0),
      s"ranks must be non-empty and within [0, 1], got $ranks")
    GraftFunctions.register(s)
    val (_, keys, _) = readQuantileMeta(s, dir).getOrElse(
      sys.error(s"quantile ledger at $dir has no meta - nothing was ever appended"))
    dedupRetries(readLive(s, dir), keys)
      .groupBy(keys.map(col): _*)
      .agg(expr("graft_kll_merge(sketch)").as("sk"), sum(col("rows")).as("rows"))
      .select(keys.map(col) ++ Seq(col("rows"), col("sk"),
        explode(lit(ranks.toArray)).as("rank")): _*)
      .withColumn("value_est", expr("graft_kll_quantile(sk, rank)"))
      .drop("sk")
      .orderBy(keys.map(c => col(c).asc) :+ col("rank").asc: _*)
  }

  /** Global estimate at one rank across ALL keys and batches. Errors on
    * a ledger whose every appended value was NULL (empty union). */
  def quantileTotal(s: SparkSession, dir: String, rank: Double): Double = {
    require(rank >= 0.0 && rank <= 1.0, s"rank must be in [0, 1], got $rank")
    GraftFunctions.register(s)
    val (_, keys, _) = readQuantileMeta(s, dir).getOrElse(
      sys.error(s"quantile ledger at $dir has no meta - nothing was ever appended"))
    val row = dedupRetries(readLive(s, dir), keys)
      .agg(expr(s"graft_kll_quantile(graft_kll_merge(sketch), cast($rank as double))")
        .as("value_est"))
      .head()
    if (row.isNullAt(0))
      sys.error(s"quantile ledger at $dir holds only empty sketches - no quantile exists")
    row.getDouble(0)
  }

  // ------------------------------------------------------------------
  // Exact sum ledger — the third accounting tier: not a sketch at all,
  // just per-(keys, batch) exact sums of a metric, mergeable by
  // addition. Kilobytes per key·batch, and it answers the question the
  // other two tiers cannot: "how many TOKENS has each source landed so
  // far" — the input a mixture plan needs (CurationOps
  // .mixturePlanFromLedger derives sampling weights/epochs from this
  // table WITHOUT a corpus scan; at 100 TB that is the difference
  // between a metadata read and a full pass). Sums accumulate in
  // DOUBLE: integer metrics stay exact through 2^53 (~9e15 — a
  // 100 TB corpus is ~2.5e13 tokens), fractional metrics are welcome.
  // Same crash/retry discipline as the sketch tiers: meta-first,
  // (keys, batch_id) retry dedup, WriterLock serialization, and a
  // reconcile that re-derives missing batches from landed data.
  // The physical table is named `sketches` so the shared
  // missing-batches machinery applies unchanged.
  // ------------------------------------------------------------------

  private def readSumMeta(s: SparkSession, dir: String): Option[(Seq[String], String)] =
    if (!fs(s, dir).exists(new Path(metaPath(dir)))) None
    else {
      val df = s.read.parquet(metaPath(dir))
      require(!df.columns.contains("lgk") && !df.columns.contains("k"),
        s"ledger at $dir is not a sum ledger (its meta carries a sketch " +
          "parameter) - ledger kinds cannot share a dir")
      val m = df.head()
      Some((m.getSeq[String](m.fieldIndex("keys")).toList,
        m.getAs[String]("value")))
    }

  /** Append one ingest batch's exact per-key sums of `value`. First
    * append stamps (keys, value) into the meta; later appends must
    * match (a ledger silently mixing metrics is a wrong answer, not a
    * degraded one — refused loudly, the IndexMeta discipline). */
  def appendSum(s: SparkSession, batch: DataFrame, keys: Seq[String], value: String,
      dir: String, batchId: String): Unit = WriterLock.withLock(dir) {
    require(keys.nonEmpty, "SketchLedger.appendSum: at least one key column required")
    requireCallerBatchId(batchId)
    migrateLegacyLayout(s, dir)
    readSumMeta(s, dir).foreach { case (ks, v) =>
      require(ks == keys && v == value,
        s"sum ledger at $dir was created with (keys=$ks, value=$v); this " +
          s"append uses (keys=$keys, value=$value) - summing mixed metrics " +
          "is a silently wrong total, so it is refused. Start a new ledger " +
          "dir for new parameters.")
    }
    // meta FIRST — same crash-window discipline as the sketch tiers
    if (readSumMeta(s, dir).isEmpty) {
      import s.implicits._
      Seq((keys, value)).toDF("keys", "value")
        .coalesce(1).tableWrite.mode("overwrite").parquet(metaPath(dir))
    }
    batch.groupBy(keys.map(col): _*)
      .agg(sum(col(value).cast("double")).as("sum_val"),
        count(col(value)).as("rows"))
      .withColumn("batch_id", lit(batchId))
      .withColumn("folded", typedLit(Seq.empty[String]))
      .withColumn(PartCol, lit(bpartOf(batchId)))
      .tableWrite.mode("append").partitionBy(PartCol).parquet(s"$dir/sketches")
  }

  /** Exact metric total + processed rows per key, merged across every
    * appended batch — reads only the ledger table, never the corpus.
    * Retries collapse per (keys, batch_id) before the merge (sums add
    * linearly, so a duplicated batch row would inflate the total —
    * the same reason the KLL tier dedups). */
  def sumByKey(s: SparkSession, dir: String): DataFrame = {
    val (keys, _) = readSumMeta(s, dir).getOrElse(
      sys.error(s"sum ledger at $dir has no meta - nothing was ever appended"))
    readLive(s, dir)
      .groupBy((keys :+ "batch_id").map(col): _*)
      .agg(max(col("sum_val")).as("sum_val"), max(col("rows")).as("rows"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("sum_val")).as("sum_val"), sum(col("rows")).as("rows"))
      .orderBy(keys.map(c => col(c).asc): _*)
  }

  /** Sum-ledger twin of [[reconcile]]: re-derive missing batch rows
    * from landed data with the meta's own (keys, value). */
  def reconcileSum(s: SparkSession, landed: DataFrame, keys: Seq[String],
      value: String, dir: String, batchCol: String = "ingest_batch"): Seq[String] = {
    val missing = missingBatches(s, dir, landed, batchCol)
    missing.foreach { id =>
      appendSum(s, landed.where(col(batchCol).cast("string") === id),
        keys, value, dir, id)
    }
    missing
  }

  // ------------------------------------------------------------------
  // Compaction — see the layout note at the top of this object. Each
  // tier folds every batch OUTSIDE the caller's `retain` predicate
  // (the retry horizon: an id that might still be retried must stay a
  // live partition, or its retry would land a row the manifest already
  // excludes — read-correct but wasted work) into one consolidated
  // partition per generation. Returns the folded ids (empty = no-op).
  // ------------------------------------------------------------------

  /** Drop stage debris and GC partitions the current manifest already
    * covers (a previous compaction that crashed after its atomic
    * publish but before cleanup).
    *
    * READER-RACE caveat (r17 advice; DURABILITY.md ledger row): the GC
    * deletes folded bpart directories outside any reader coordination —
    * WriterLock serializes WRITERS only — so a concurrent reader that
    * listed files before the delete can fail a task with
    * FileNotFoundException during the post-publish GC window. The
    * failure is loud and a retry reads correctly (the manifest already
    * excludes the folded partitions); deployments that want the window
    * silent set `spark.sql.files.ignoreMissingFiles=true` for ledger
    * reads. Likewise the "single atomic publish" rename is atomic on
    * rename-atomic filesystems (HDFS, local); on object stores the
    * rename is copy+delete and the same loud-retry posture applies —
    * matching the stance the other compactors document. */
  private def healCompaction(s: SparkSession, dir: String): Unit = {
    val hfs = fs(s, dir)
    hfs.delete(new Path(s"$dir/_compact_stage"), true)
    val g = maxGen(s, dir)
    if (g > 0) {
      val manifest = s.read.parquet(s"$dir/sketches")
        .where(col("batch_id") === s"$CompactPrefix$g")
        .limit(1).select(col("folded")).collect()
        .headOption.map(_.getSeq[String](0).toSet).getOrElse(Set.empty[String])
      val covered = manifest.map(bpartOf) ++
        (1 until g).map(i => s"$CompactPrefix$i")
      hfs.listStatus(new Path(s"$dir/sketches"))
        .map(_.getPath).filter(_.getName.startsWith(s"$PartCol="))
        .foreach { p =>
          val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(p.getName.stripPrefix(s"$PartCol="))
          if (covered.contains(v)) { hfs.delete(p, true); () }
        }
    }
  }

  private def compactImpl(s: SparkSession, dir: String,
      retain: String => Boolean, keys: Seq[String],
      merge: DataFrame => DataFrame): Seq[String] = WriterLock.withLock(dir) {
    migrateLegacyLayout(s, dir)
    healCompaction(s, dir)
    val g = maxGen(s, dir)
    val raw = readSketches(s, dir).drop(PartCol)
    val consId = s"$CompactPrefix$g"
    val oldManifest: Seq[String] =
      if (g == 0) Nil
      else raw.where(col("batch_id") === consId)
        .limit(1).select(col("folded")).collect()
        .headOption.map(_.getSeq[String](0)).getOrElse(Nil)
    val excluded = oldManifest.toSet
    val foldIds = raw
      .where(!col("batch_id").startsWith(CompactPrefix))
      .select("batch_id").distinct().collect().map(_.getString(0))
      .filterNot(excluded).filterNot(retain).sorted.toSeq
    if (foldIds.isEmpty) Nil
    else {
      import s.implicits._
      val newManifest = (oldManifest ++ foldIds).distinct.sorted
      val foldDf = foldIds.toDF("batch_id")
      val liveFold = raw.join(broadcast(foldDf), Seq("batch_id"), "left_semi")
      val foldSet =
        if (g == 0) liveFold
        else liveFold.unionByName(raw.where(col("batch_id") === consId))
      val out = merge(foldSet.drop("folded"))
        .withColumn("batch_id", lit(s"$CompactPrefix${g + 1}"))
        .withColumn("folded", typedLit(newManifest))
      val hfs = fs(s, dir)
      val stage = new Path(s"$dir/_compact_stage")
      out.coalesce(1).tableWrite.mode("overwrite").parquet(stage.toString)
      // single atomic publish: the staged files BECOME the consolidated
      // partition; everything after this line is garbage collection
      val dst = new Path(s"$dir/sketches/$PartCol=$CompactPrefix${g + 1}")
      require(hfs.rename(stage, dst),
        s"compaction publish failed: could not rename $stage to $dst")
      healCompaction(s, dir)
      foldIds
    }
  }

  /** Fold the distinct-count ledger's non-retained batches into one
    * consolidated HLL row per key. Read results are unchanged (HLL
    * union is associative); read COST drops from O(batches × keys) to
    * O(retained × keys). */
  def compactDistinct(s: SparkSession, dir: String,
      retain: String => Boolean = _ => false): Seq[String] = {
    val (_, keys, _) = readMeta(s, dir).getOrElse(
      sys.error(s"SketchLedger at $dir has no meta - nothing to compact"))
    compactImpl(s, dir, retain, keys, df =>
      dedupRetries(df, keys)
        .groupBy(keys.map(col): _*)
        .agg(expr("hll_union_agg(sketch)").as("sketch"),
          sum(col("rows")).as("rows")))
  }

  /** Quantile-ledger twin of [[compactDistinct]] (KLL merge is
    * associative; the merged sketch's error contract is unchanged). */
  def compactQuantile(s: SparkSession, dir: String,
      retain: String => Boolean = _ => false): Seq[String] = {
    GraftFunctions.register(s)
    val (_, keys, _) = readQuantileMeta(s, dir).getOrElse(
      sys.error(s"quantile ledger at $dir has no meta - nothing to compact"))
    compactImpl(s, dir, retain, keys, df =>
      dedupRetries(df, keys)
        .groupBy(keys.map(col): _*)
        .agg(expr("graft_kll_merge(sketch)").as("sketch"),
          sum(col("rows")).as("rows")))
  }

  /** Sum-ledger twin — exact: addition is associative, so the
    * consolidated totals are bit-equal to the unfolded read. */
  def compactSum(s: SparkSession, dir: String,
      retain: String => Boolean = _ => false): Seq[String] = {
    val (keys, _) = readSumMeta(s, dir).getOrElse(
      sys.error(s"sum ledger at $dir has no meta - nothing to compact"))
    compactImpl(s, dir, retain, keys, df =>
      df.groupBy((keys :+ "batch_id").map(col): _*)
        .agg(max(col("sum_val")).as("sum_val"), max(col("rows")).as("rows"))
        .groupBy(keys.map(col): _*)
        .agg(sum(col("sum_val")).as("sum_val"), sum(col("rows")).as("rows")))
  }
}
