package graft.plans

import graft.sources.TableWrite.TableWriteOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-posture utilities (SURVEY §4.3 "100 TB posture"): skew salting
  * and storage layout. These are config+layout tools, not custom
  * operators — spill, vectorization, and codegen are already Spark's.
  */
object Scale {

  /** Equi-join with skew salting: rows of the (big, skewed) side scatter
    * across `salts` sub-keys; the small side replicates once per salt.
    * Same result set as a plain join, but a hot key's rows land on
    * `salts` reducers instead of one. Use when AQE's skew split isn't
    * available (e.g. a broadcast-disabled build side) or a key is
    * pathological. The salt is derived from a hash of the big side's
    * whole row, so the scatter is deterministic.
    */
  def saltedEquiJoin(big: DataFrame, small: DataFrame,
      bigKey: String, smallKey: String, salts: Int): DataFrame = {
    require(salts > 0)
    val bigS = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.map(col).toIndexedSeq: _*)), lit(salts)).cast("int"))
    val smallS = small.withColumn("__salt",
      explode(expr(s"sequence(0, ${salts - 1})")))
    bigS.join(smallS, bigS(bigKey) === smallS(smallKey) && bigS("__salt") === smallS("__salt"))
      .drop("__salt")
  }

  /** On-disk byte size of a table path (Hadoop FS, so s3a://, hdfs://
    * resolve) — a planning-time stat for broadcast decisions, no job. */
  def sourceBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Pin a broadcast only when an upper bound on the relation's source
    * bytes is genuinely shippable to every executor; above the threshold
    * the plan is left to AQE (which will still broadcast at runtime if
    * the built side turns out small). This is how a fact-DERIVED relation
    * gets the small-scale broadcast win without the 100 TB OOM: the
    * decision input is the fact table's on-disk size, not a guess. */
  def broadcastIfSmall(df: DataFrame, upperBoundBytes: Long,
      threshold: Long = 64L << 20): DataFrame =
    if (upperBoundBytes <= threshold) broadcast(df) else df

  /** Hive-style partitioned parquet layout: readers prune whole
    * directories on the partition key (PartitionFilters in the scan). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.tableWrite.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed layout: co-locates join/agg keys so equal-bucketed joins
    * skip their shuffle entirely. Table-catalog based (bucketing metadata
    * lives in the catalog, not the files). `path` makes the table
    * EXTERNAL with its data rooted there (a scratch-scoped location for
    * in-query layouts); None keeps the default warehouse location. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
      path: Option[String] = None): Unit = {
    // plain df.write: saveAsTable stores writer options as table
    // properties, so TableWrite's filesystem options would outlive it
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Compact a parquet dataset into files of ~`targetBytesPerFile`: the
    * small-files fix for streaming/incremental sinks (thousands of tiny
    * files per day destroy scan planning and NameNode/listing behavior at
    * scale). File count comes from the source's real on-disk bytes — a
    * planning-time FS stat, no extra job — and rows are hash-scattered
    * round-robin so output files are even-sized. Readers of the result
    * get the same data in max(1, ceil(bytes/target)) files. */
  def compact(spark: SparkSession, srcPath: String, dstPath: String,
      targetBytesPerFile: Long = 128L << 20): Int = {
    val bytes = sourceBytes(spark, srcPath)
    val files = math.max(1L, (bytes + targetBytesPerFile - 1) / targetBytesPerFile).toInt
    spark.read.parquet(srcPath)
      .repartition(files)
      .tableWrite.mode(SaveMode.Overwrite).parquet(dstPath)
    files
  }

  /** Deterministic `factor`× blow-up of an sf directory's LLM-pipeline
    * tables (documents, embeddings, events), other tables copied as-is —
    * the load-test input for proving a plan survives a scale-up rather
    * than arguing it would (ScaleSpec runs the scale-sensitive queries on
    * the result and asserts shape + linear output).
    *
    * Replica construction keeps per-query semantics intact:
    *  - documents: every token is prefixed with its replica id (replica 0
    *    keeps the original text), so token/shingle spaces are DISJOINT
    *    across replicas — near-dup relations never cross replicas and
    *    every dedup query's output grows exactly linearly by
    *    construction; ids are re-keyed `id * factor + rep` (stays far
    *    below the 1e6 id offset the dedup queries derive variants with);
    *  - embeddings: each replica's vector is the original rotated by
    *    `rep` positions — norm preserved, cross-replica cosine back at
    *    random-pair level, and `vec_id * factor` keeps replica 0 of the
    *    query vector at vec_id 0;
    *  - events: ids and user_ids re-key by `* factor + rep`, so each
    *    replica contributes its own disjoint user population (10× users,
    *    same per-user session structure); raw nanosecond timestamps pass
    *    through unchanged.
    */
  def upsampleCorpus(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    require(factor >= 1 && factor <= 64, "embedding rotation needs rep < dim")
    val f = factor
    def reps(df: DataFrame): DataFrame =
      df.withColumn("rep", explode(expr(s"sequence(0, ${f - 1})")))

    reps(spark.read.parquet(s"$srcDir/documents.parquet"))
      .select(
        (col("doc_id") * f + col("rep")).as("doc_id"),
        when(col("rep") === 0, col("text")).otherwise(expr(
          "array_join(transform(split(text, ' '), t -> concat('r', CAST(rep AS STRING), t)), ' ')"))
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")))
      .tableWrite.mode(SaveMode.Overwrite).parquet(s"$outDir/documents.parquet")

    reps(spark.read.parquet(s"$srcDir/embeddings.parquet"))
      .select(
        (col("vec_id") * f + col("rep")).as("vec_id"),
        expr("concat(slice(embedding, rep + 1, size(embedding) - rep), slice(embedding, 1, rep))")
          .as("embedding"),
        col("label"))
      .tableWrite.mode(SaveMode.Overwrite).parquet(s"$outDir/embeddings.parquet")

    // raw read: TIMESTAMP(NANOS) surfaces as LONG under nanosAsLong, and
    // writes back as INT64 — Tables.events handles both identically
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reps(spark.read.parquet(s"$srcDir/events.parquet"))
      .select(
        (col("event_id") * f + col("rep")).as("event_id"),
        col("ts"),
        (col("user_id") * f + col("rep")).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .tableWrite.mode(SaveMode.Overwrite).parquet(s"$outDir/events.parquet")

    val conf = spark.sparkContext.hadoopConfiguration
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach { t =>
        val src = new org.apache.hadoop.fs.Path(s"$srcDir/$t.parquet")
        val dst = new org.apache.hadoop.fs.Path(s"$outDir/$t.parquet")
        org.apache.hadoop.fs.FileUtil.copy(
          src.getFileSystem(conf), src, dst.getFileSystem(conf), dst,
          false, true, conf)
      }
  }

  /** Range-clustered layout: repartitionByRange + in-partition sort on
    * `key`, so each output file owns a narrow disjoint key range. This
    * is what makes BOTH levels of data skipping selective: parquet
    * row-group min/max stats inside each file, and the file-level zone
    * map below. On an unsorted layout every file spans the full key
    * range and no range predicate can skip anything. Also lands the
    * MANIFEST (per-file stats) beside the data — measured at sf0.1:
    * recomputing stats per query costs more than the skipped I/O
    * (0.40 s vs a 0.23 s full scan), exactly why every table format
    * collects stats at WRITE time. Measured honestly, manifest-backed
    * pruning is a WASH at local sf0.1 (0.25 s vs 0.21 s over 32 hot
    * local files: parquet row-group pushdown already skips the data
    * pages, so only footer reads are saved) — the win this buys at
    * scale is 2 tasks instead of 1000s and as many spared object-store
    * footer round-trips, not local byte I/O. */
  def writeRangeSorted(df: DataFrame, path: String, key: String,
      partitions: Int): Unit =
    // lock a SIBLING scope: the data dir itself is clobbered by the
    // overwrite, which would unlink a lock file held inside it
    graft.sources.WriterLock.withLock(path.stripSuffix("/") + "_lockscope") {
    // manifest fence: data + manifest are two commits; a crash between
    // them leaves a STALE manifest over new files — worse than loud,
    // a stale manifest whose boxes miss the query range would return an
    // EMPTY pruned scan over data that has matching rows. The sibling
    // marker makes pruneByStats* ignore the manifest (live-stats
    // fallback, correct) until a completed write lifts it.
    markRebuild(df.sparkSession, path)
    df.repartitionByRange(partitions, col(key))
      .sortWithinPartitions(key)
      .tableWrite.mode(SaveMode.Overwrite).parquet(path)
    writeManifest(df.sparkSession, path, key)
    unmarkRebuild(df.sparkSession, path)
  }

  /** Manifest location: BESIDE the data directory, never inside it — a
    * plain `read.parquet(path)` of the table must not pick it up. */
  def manifestPath(path: String): String = path.stripSuffix("/") + "_manifest"

  /** Write-in-progress marker, beside the data like the manifests (the
    * overwrite truncates the data dir, so an in-dir marker would vanish
    * with the crash evidence). Existence is the whole signal. */
  private def rebuildMarkerPath(path: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "_rebuild")

  private def markRebuild(spark: SparkSession, path: String): Unit = {
    val p = rebuildMarkerPath(path)
    val out = graft.sources.TableWrite.fs(spark, p).create(p, true)
    try out.write('1') finally out.close()
  }

  private def unmarkRebuild(spark: SparkSession, path: String): Unit = {
    val p = rebuildMarkerPath(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    ()
  }

  private def rebuildInProgress(spark: SparkSession, path: String): Boolean = {
    val p = rebuildMarkerPath(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Morton (Z-order) interleave of two non-negative BIGINT keys, `bits`
    * bits each (default 21 → a 42-bit z, comfortably inside Long): bit i
    * of `a` lands at z-bit 2i, bit i of `b` at 2i+1. A range sort on z
    * clusters rows so every file owns a small RECTANGLE of (a, b) space
    * instead of a stripe of one key — the property that lets a zone map
    * prune on BOTH dimensions (Delta/Iceberg's OPTIMIZE ZORDER). Pure
    * HOF arithmetic (aggregate over sequence), codegen-friendly, no UDF. */
  def zValueExpr(a: String, b: String, bits: Int = 21): String = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    s"aggregate(sequence(0, ${bits - 1}), 0L, (acc, i) -> acc " +
      s"| shiftleft(shiftright(CAST($a AS BIGINT), i) & 1, 2 * i) " +
      s"| shiftleft(shiftright(CAST($b AS BIGINT), i) & 1, 2 * i + 1))"
  }

  /** Z-order-clustered layout over two keys + a TWO-dimensional per-file
    * zone-map manifest. Where writeRangeSorted makes one key prunable,
    * this makes a conjunctive box predicate `a ∈ [x₁,x₂] AND b ∈ [y₁,y₂]`
    * prune on both: the z sort gives each file a tight bounding box in
    * (a, b), so far fewer files intersect a small box than under a
    * single-key sort (where a predicate on the OTHER key keeps every
    * file). Key domains are validated loudly up front — a negative or
    * over-wide key would interleave into garbage order, which corrupts
    * pruning SELECTIVITY silently (never correctness, since pruneByStats2
    * re-applies the exact predicate — but silent non-pruning at 100 TB is
    * the failure being bought off here). */
  def writeZOrdered(df: DataFrame, path: String, keyA: String, keyB: String,
      partitions: Int, bits: Int = 21): Unit =
    graft.sources.WriterLock.withLock(path.stripSuffix("/") + "_lockscope") {
    require(partitions >= 1, s"partitions must be >= 1, got $partitions")
    val limit = 1L << bits
    val dom = df.agg(min(keyA).cast("long"), max(keyA).cast("long"),
      min(keyB).cast("long"), max(keyB).cast("long")).head()
    if (dom.anyNull) {
      // null bounds = zero rows (valid: an empty-but-real table + empty
      // manifest, the same answer writeRangeSorted gives) or an all-null
      // key column (invalid: nulls are not z-orderable — say so, not
      // "keys must be non-negative", the r15 advice's misleading message)
      require(df.isEmpty,
        s"writeZOrdered: $keyA/$keyB contain only nulls — null keys are " +
          "not z-orderable; filter or fill them first")
      markRebuild(df.sparkSession, path)
      df.tableWrite.mode(SaveMode.Overwrite).parquet(path)
      writeManifest2(df.sparkSession, path, keyA, keyB)
      unmarkRebuild(df.sparkSession, path)
      return
    }
    require(dom.getLong(0) >= 0 && dom.getLong(1) < limit &&
      dom.getLong(2) >= 0 && dom.getLong(3) < limit,
      s"writeZOrdered: $keyA/$keyB must be non-negative and < 2^$bits " +
        s"(got [${dom.get(0)}, ${dom.get(1)}] / [${dom.get(2)}, ${dom.get(3)}]); " +
        "shift/scale the keys first")
    // manifest fence — see writeRangeSorted
    markRebuild(df.sparkSession, path)
    df.withColumn("__z", expr(zValueExpr(keyA, keyB, bits)))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .tableWrite.mode(SaveMode.Overwrite).parquet(path)
    writeManifest2(df.sparkSession, path, keyA, keyB)
    unmarkRebuild(df.sparkSession, path)
  }

  /** 2-key manifest location, beside the data like manifestPath. */
  def manifestPath2(path: String): String = path.stripSuffix("/") + "_manifest2"

  /** Per-file (lo, hi) boxes of BOTH keys — fileStats widened to 2-D. */
  def fileStats2(spark: SparkSession, path: String,
      keyA: String, keyB: String): DataFrame =
    spark.read.parquet(path)
      .select(col(keyA), col(keyB), input_file_name().as("file"))
      .groupBy("file")
      .agg(min(keyA).as("lo_a"), max(keyA).as("hi_a"),
        min(keyB).as("lo_b"), max(keyB).as("hi_b"), count(lit(1)).as("rows"))

  /** (Re)collect the 2-D manifest (call after rewrites, as writeManifest). */
  def writeManifest2(spark: SparkSession, path: String,
      keyA: String, keyB: String): Unit =
    fileStats2(spark, path, keyA, keyB).coalesce(1)
      .tableWrite.mode(SaveMode.Overwrite).parquet(manifestPath2(path))

  /** Box-predicate scan pruned by the 2-D zone map: read only files whose
    * (a, b) bounding box intersects the query box, then apply the exact
    * predicate — pruneByStats' contract (graceful no-manifest fallback,
    * distributed manifest filter, maxKeptFiles driver bound, layout
    * affects only SPEED) extended to conjunctive two-key ranges. */
  def pruneByStats2(spark: SparkSession, path: String, keyA: String,
      fromA: Any, toA: Any, keyB: String, fromB: Any, toB: Any,
      maxKeptFiles: Int = 1 << 16): (DataFrame, Int, Int) = {
    require(maxKeptFiles >= 0, s"maxKeptFiles must be >= 0, got $maxKeptFiles")
    val mp = new org.apache.hadoop.fs.Path(manifestPath2(path))
    // a crashed writeZOrdered leaves the rebuild marker standing: the
    // manifest may describe DELETED files (loud read failure) or, worse,
    // skip every file and silently return empty — fall back to live
    // stats over the files actually on disk (correct, slower)
    val hasManifest = !rebuildInProgress(spark, path) &&
      mp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(mp)
    val stats =
      (if (hasManifest) spark.read.parquet(manifestPath2(path))
       else fileStats2(spark, path, keyA, keyB)).localCheckpoint(false)
    val total = stats.count().toInt
    val keep = stats
      .where(col("lo_a") <= lit(toA) && lit(fromA) <= col("hi_a") &&
        col("lo_b") <= lit(toB) && lit(fromB) <= col("hi_b"))
      .select("file")
      .limit(maxKeptFiles + 1)
      .collect().map(_.getString(0))
    val exact = col(keyA) >= lit(fromA) && col(keyA) <= lit(toA) &&
      col(keyB) >= lit(fromB) && col(keyB) <= lit(toB)
    if (keep.length > maxKeptFiles)
      (spark.read.parquet(path).where(exact), total, total)
    else if (keep.isEmpty)
      (spark.read.parquet(path).limit(0).where(exact), 0, total)
    else
      (spark.read.parquet(keep.toIndexedSeq: _*).where(exact), keep.length, total)
  }

  /** (Re)collect the per-file stats manifest. Call after any operation
    * that rewrites data files (compact, append); readers fall back to a
    * live stats scan when the manifest is absent, so a missing or
    * deleted manifest degrades to correct-but-slower, never to wrong. */
  def writeManifest(spark: SparkSession, path: String, key: String): Unit =
    fileStats(spark, path, key).coalesce(1)
      .tableWrite.mode(SaveMode.Overwrite).parquet(manifestPath(path))

  /** File-level zone map: one row per parquet file with the file's
    * min/max/count of `key` — the ANALYZE-style skipping statistics an
    * engine keeps per data file (Iceberg/Delta manifests, ORC tail
    * stats). One distributed scan of the key column; `input_file_name`
    * attributes rows to files without touching any other column. */
  def fileStats(spark: SparkSession, path: String, key: String): DataFrame =
    spark.read.parquet(path)
      .select(col(key), input_file_name().as("file"))
      .groupBy("file")
      .agg(min(key).as("lo"), max(key).as("hi"), count(lit(1)).as("rows"))

  /** Per-RUN scratch path for a query's temp layout. Scoped by corpus
    * dir AND a JVM-unique run id (r16 advice): a fixed corpus-keyed
    * path let two concurrent runs over the same testdata clobber each
    * other mid-read (one run's overwrite deletes files under the other
    * run's scan). Within one JVM the path IS stable, so a Verify+Bench
    * sweep still reuses/overwrites one directory per (tag, corpus); a
    * shutdown hook removes everything this run created, so repeated
    * runs don't accumulate either.
    *
    * The base defaults to the driver's `java.io.tmpdir` — correct in
    * local mode, where driver and executors share one disk. On a
    * multi-node cluster a `file:` tmp path resolves to EACH NODE'S OWN
    * disk and the round-trip breaks; deployments there must point
    * `spark.graft.scratch.dir` at a shared filesystem (HDFS/S3 URI),
    * which this honors verbatim. */
  private val scratchDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val scratchRunId: String = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.forEach { d =>
        try {
          val root = java.nio.file.Paths.get(d)
          if (java.nio.file.Files.exists(root)) {
            import scala.jdk.CollectionConverters._
            val walk = java.nio.file.Files.walk(root)
            try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path])
              .iterator.asScala.foreach(java.nio.file.Files.deleteIfExists(_))
            finally walk.close()
          }
        } catch { case _: Exception => () } // best-effort tmp cleanup
      }))
    s"${ProcessHandle.current.pid}_${java.lang.Long.toHexString(System.nanoTime())}"
  }

  private[graft] def scratch(s: SparkSession, tag: String, sfDir: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val base = s.conf.getOption("spark.graft.scratch.dir")
    val dir = base match {
      case Some(b) => s"${b.stripSuffix("/")}/graft_${tag}_${key}_$scratchRunId"
      case None => java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_${tag}_${key}_$scratchRunId").toString
    }
    // only local paths are cleaned by the hook; a shared-FS scratch is
    // the deployment's to lifecycle (it outlives any one driver)
    if (base.isEmpty) scratchDirs.add(dir)
    dir
  }

  /** Declared layout-independence query (driver-gated): write a
    * Z-order-clustered copy of lineitem into the query's scratch scope,
    * read it back through the 2-D zone-map pruned scan with a
    * conjunctive box predicate, and emit the matching rows. The DuckDB
    * oracle runs the SAME box predicate over the ORIGINAL table, so a
    * pruning bug (an off-by-one on a file-boundary min/max, a dropped
    * surviving file) hash-fails instead of hiding behind "pruning is
    * only a speed-up". Box bounds derive from the key maxima with
    * integer arithmetic mirrored exactly in the oracle, so the query
    * stays selective-but-nonempty at every SF. */
  val queries: Map[String, graft.Q] = Map(
    "q_prune_zorder" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_extendedprice")
      val m = li.agg(max("l_partkey"), max("l_suppkey")).head()
      val (pkMax, skMax) = (m.getLong(0), m.getLong(1))
      val store = scratch(s, "zorder", d) + "/li"
      writeZOrdered(li, store, "l_partkey", "l_suppkey", partitions = 8)
      val (pruned, kept, total) = pruneByStats2(s, store,
        "l_partkey", pkMax / 10, pkMax / 5,
        "l_suppkey", skMax / 10, skMax * 2 / 5)
      // the zone map must actually skip files on a z-clustered layout —
      // a silent no-prune regression fails here, not in a bench table
      // (kept == total would also be CORRECT, which is exactly why the
      // driver's hash gate alone can't catch it)
      require(kept < total,
        s"q_prune_zorder: zone map kept all $total files of the z-ordered " +
          "layout — pruning selectivity regressed")
      pruned.orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
    }),

    // Hive-partitioned directory pruning under the driver's hash gate
    // (r16 verdict, next-round #5 — the q_prune_zorder recipe applied to
    // the previously spec-only writePartitioned surface): write a copy
    // of orders partitioned by o_orderpriority, read it back through a
    // partition-column filter, and emit the matching rows; the oracle is
    // the plain filter over the ORIGINAL table. The in-query guard
    // asserts the scan actually PRUNED directories — files read
    // (distinct `_metadata.file_path`) must be fewer than the layout's
    // total — because a no-prune scan returns the same rows and the
    // hash gate alone cannot see the regression. The partition value
    // round-trips through a directory name, so an escaping bug ("4-NOT
    // SPECIFIED" carries a space) hash-fails loudly too.
    "q_prune_partitioned" -> ((s, d) => {
      val store = scratch(s, "hivepart", d) + "/orders"
      writePartitioned(
        s.read.parquet(s"$d/orders.parquet")
          .select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"),
        store, Seq("o_orderpriority"))
      val back = s.read.parquet(store)
      val totalFiles = back.select(col("_metadata.file_path")).distinct().count()
      val pruned = back.where(col("o_orderpriority") === "1-URGENT")
      val keptFiles = pruned.select(col("_metadata.file_path")).distinct().count()
      require(keptFiles < totalFiles,
        s"q_prune_partitioned: the partition filter read all $totalFiles files " +
          "of the 5-directory layout — directory pruning regressed")
      pruned.select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")
        .orderBy("o_orderkey")
    }),

    // 1-D min/max zone-map pruning under the driver's hash gate — the
    // writeRangeSorted + pruneByStats single-key path (q_prune_zorder
    // gates only the 2-D pruneByStats2 twin; this closes the "same
    // off-by-one class, ungated" gap for the 1-D surface). Band bounds
    // derive from the key maximum with integer arithmetic mirrored
    // exactly in the oracle.
    "q_prune_range1d" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
      val pkMax = li.agg(max("l_partkey")).head().getLong(0)
      val store = scratch(s, "range1d", d) + "/li"
      writeRangeSorted(li, store, "l_partkey", partitions = 8)
      val (pruned, kept, total) = pruneByStats(s, store,
        "l_partkey", pkMax / 10, pkMax / 5)
      require(kept < total,
        s"q_prune_range1d: zone map kept all $total files of the " +
          "range-sorted layout — pruning selectivity regressed")
      pruned.orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
    }),

    // Shuffle-FREE co-located join through the bucketed layout, under the
    // driver's hash gate — the q_prune_zorder recipe applied to the last
    // spec-only layout surface (writeBucketed). Both sides land bucketed
    // by their join key into the same bucket count (the one-time shuffle
    // a 100 TB deployment pays at WRITE so every subsequent join/agg on
    // that key pays none); the repartition before each write aligns task
    // hashing with bucket hashing so each bucket is exactly one file.
    // The in-query guard asserts what the hash gate cannot see: the
    // joined plan must contain NO shuffle exchange — a silent regression
    // to a shuffled join returns identical rows. The merge hint keeps
    // the planner on SMJ even where the dimension side would broadcast
    // at test scale (a broadcast plan would also be exchange-free on the
    // bucket columns and would hide a bucketing regression). Catalog
    // names are per-JVM (in-memory catalog); the data lives in the
    // per-run scratch scope like the other layout queries.
    "q_join_bucketed" -> ((s, d) => {
      val run = scratch(s, "bucketed", d)
      s.sql("DROP TABLE IF EXISTS graft_bkt_orders")
      s.sql("DROP TABLE IF EXISTS graft_bkt_lineitem")
      val o = s.read.parquet(s"$d/orders.parquet")
        .select("o_orderkey", "o_orderpriority")
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      writeBucketed(o.repartition(8, col("o_orderkey")),
        "graft_bkt_orders", "o_orderkey", 8, Some(s"$run/orders"))
      writeBucketed(li.repartition(8, col("l_orderkey")),
        "graft_bkt_lineitem", "l_orderkey", 8, Some(s"$run/lineitem"))
      val joined = s.table("graft_bkt_orders").hint("merge")
        .join(s.table("graft_bkt_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange hashpartitioning"),
        "q_join_bucketed: the bucketed join planned a shuffle exchange — " +
          "bucket co-location regressed (bucket counts or keys no longer align)")
      require(plan.contains("SortMergeJoin"),
        "q_join_bucketed: expected a sort-merge join over the bucketed scans")
      joined.groupBy("o_orderpriority")
        .agg(
          round(sum(expr("l_extendedprice * (1 - l_discount)")), 2).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    }),

    // Small-files compaction under the driver gate — the last layout
    // surface that was spec-only. A deliberately fragmented copy (48
    // tiny files, the streaming-sink disease) folds through `compact`
    // into the byte-target layout; the aggregate runs over the FOLDED
    // copy and the oracle over the ORIGINAL table, so a row dropped or
    // duplicated by the rewrite hash-fails. The in-query guard asserts
    // the part the hash cannot see: the folded layout must actually
    // have fewer files (compaction that silently stops compacting is a
    // planning-time regression — thousands of tiny files is what
    // destroys scan scheduling at 100 TB, not wrong answers).
    "q_compact_roundtrip" -> ((s, d) => {
      val run = scratch(s, "compactrt", d)
      s.read.parquet(s"$d/lineitem.parquet")
        .select("l_returnflag", "l_quantity", "l_extendedprice")
        .repartition(48)
        .tableWrite.mode(SaveMode.Overwrite).parquet(s"$run/frag")
      compact(s, s"$run/frag", s"$run/folded", targetBytesPerFile = 64L << 20)
      def nFiles(p: String): Long = s.read.parquet(p)
        .select(expr("count(DISTINCT _metadata.file_path)").as("n")).head().getLong(0)
      val (before, after) = (nFiles(s"$run/frag"), nFiles(s"$run/folded"))
      require(after < before,
        s"q_compact_roundtrip: compaction did not reduce the file count " +
          s"($before -> $after)")
      s.read.parquet(s"$run/folded")
        .groupBy("l_returnflag")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }))

  val oracle: Map[String, String] = Map(
    "q_prune_zorder" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice
        |FROM lineitem
        |WHERE l_partkey BETWEEN (SELECT max(l_partkey)//10 FROM lineitem)
        |                    AND (SELECT max(l_partkey)//5 FROM lineitem)
        |  AND l_suppkey BETWEEN (SELECT max(l_suppkey)//10 FROM lineitem)
        |                    AND (SELECT max(l_suppkey)*2//5 FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin,

    "q_prune_partitioned" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice, o_orderdate
        |FROM orders
        |WHERE o_orderpriority = '1-URGENT'
        |ORDER BY o_orderkey""".stripMargin,

    "q_prune_range1d" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice
        |FROM lineitem
        |WHERE l_partkey BETWEEN (SELECT max(l_partkey)//10 FROM lineitem)
        |                    AND (SELECT max(l_partkey)//5 FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin,

    "q_join_bucketed" ->
      """SELECT o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_compact_roundtrip" ->
      """SELECT l_returnflag,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)

  /** Zone-map-pruned range scan: consult the stored manifest (or a live
    * `fileStats` scan when none exists), read ONLY the files whose
    * [lo, hi] intersects [from, to], then apply the exact predicate. On
    * a range-sorted layout this skips all but O(range fraction) of the
    * files BEFORE any data I/O, mirroring how a table format's manifest
    * pruning works. Falls back gracefully twice over: no manifest →
    * live stats scan; unsorted layout → every file intersects and the
    * scan degrades to a full read with the same answer (correctness
    * never depends on layout or manifest freshness-to-SORT — but a
    * manifest must be rewritten after files are REPLACED, see
    * writeManifest).
    *
    * Driver posture (r10, closes the r9 advisory): the manifest is
    * filtered DISTRIBUTED — the driver never materializes a
    * non-surviving file's row, so nothing here scales with TOTAL file
    * count (an O(10⁶)-file table costs the driver only its kept set).
    * The surviving paths must reach the driver to parameterize the scan
    * (Spark's own FileIndex holds exactly this list for any scan), and
    * `maxKeptFiles` bounds that explicitly: when more files survive
    * than the cap — low selectivity, where a path-list scan buys little
    * anyway — the function returns the plain full-path read and lets
    * parquet row-group pushdown do the skipping, reporting
    * kept == total. The interval compare runs in Spark with the same
    * type coercion as the exact predicate (the old driver-side compare
    * needed hand-rolled exact-integer cases to avoid 2^53 double
    * round-trips; pushing it into the engine removes that class of bug
    * by construction). */
  def pruneByStats(spark: SparkSession, path: String, key: String,
      from: Any, to: Any, maxKeptFiles: Int = 1 << 16): (DataFrame, Int, Int) = {
    require(maxKeptFiles >= 0, s"maxKeptFiles must be >= 0, got $maxKeptFiles")
    val mp = new org.apache.hadoop.fs.Path(manifestPath(path))
    // crashed-write fallback: see pruneByStats2
    val hasManifest = !rebuildInProgress(spark, path) &&
      mp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(mp)
    // lazy barrier: the count and the kept-path collect both read one
    // materialization (for the live-stats fallback that scan is the
    // expensive part; the manifest case is one tiny file either way)
    val stats =
      (if (hasManifest) spark.read.parquet(manifestPath(path))
       else fileStats(spark, path, key)).localCheckpoint(false)
    val total = stats.count().toInt
    val keep = stats
      .where(col("lo") <= lit(to) && lit(from) <= col("hi"))
      .select("file")
      .limit(maxKeptFiles + 1) // bound the driver list BEFORE collecting
      .collect().map(_.getString(0))
    val exact = col(key) >= lit(from) && col(key) <= lit(to)
    if (keep.length > maxKeptFiles)
      (spark.read.parquet(path).where(exact), total, total)
    else if (keep.isEmpty)
      (spark.read.parquet(path).limit(0).where(exact), 0, total)
    else
      (spark.read.parquet(keep.toIndexedSeq: _*).where(exact), keep.length, total)
  }
}
