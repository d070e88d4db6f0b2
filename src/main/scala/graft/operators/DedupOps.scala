package graft.operators

import graft.{Q, Tables}
import graft.functions.{BloomGate, GraftFunctions}
import graft.sources.{BandedIndex, IndexMeta}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` (SURVEY §2.I + the
  * training-data-pipeline additions): exact hash dedup, n-gram Jaccard,
  * MinHash/LSH and SimHash near-dup detection, document fingerprinting.
  *
  * The sf corpus has no real duplicates (FIXTURES.md), so each dedup
  * query derives a duplicate-bearing corpus deterministically: the
  * original docs unioned with perturbed copies (id + 1_000_000, last
  * tokens dropped). That keeps every query self-contained and its
  * output stable for the oracle.
  *
  * Scale posture: every candidate join is keyed — exact hash, MinHash
  * band bucket, prefix shingle (q_dedup_ngram_jaccard), or signature
  * chunk (q_dedup_simhash) — so no all-pairs comparison ever
  * materializes and each shuffle is linear in the corpus. The one
  * deliberately quadratic query, q_jaccard_pairs, is declared-bounded
  * (doc_id < 200 candidate cap per SURVEY §2).
  */
object DedupOps {

  /** Distinct 3-gram shingles of the first `n-drop` tokens of the `toks`
    * column, in first-occurrence order; docs with fewer than `3 + drop`
    * tokens get an empty array. The windows come from the one-pass
    * `graft_ngrams` kernel (functions/TokenNgrams.scala), so the token
    * array is never re-split per window. Callers must run
    * GraftFunctions.register before the expression is analyzed. */
  private[graft] def shingleExpr(drop: Int): String =
    s"array_distinct(graft_ngrams(toks, 3, $drop))"

  /** Keeps the rows whose [[shingleExpr]]`(drop)` is non-empty, by their
    * token count: a filter on `size(sh)` itself is pushed below the
    * shingle projection and runs the kernel a second time per row. */
  private[graft] def hasShingles(drop: Int): Column = size(col("toks")) >= 3 + drop

  /** Original + perturbed-copy corpus: (doc_id, source, sh) with distinct,
    * non-empty 3-gram shingle sets; copies drop the last 3 tokens. */
  private[graft] def nearDupCorpus(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val base = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
    val orig = base.where(hasShingles(0))
      .select(col("doc_id"), col("source"), expr(shingleExpr(0)).as("sh"))
    val variant = base.where(hasShingles(3))
      .select((col("doc_id") + 1000000).as("doc_id"), col("source"),
        expr(shingleExpr(3)).as("sh"))
    orig.unionByName(variant)
  }

  /** Set Jaccard rounded to 4dp with INTEGER-exact half-up rounding:
    * floor((2*i*10^4 + u) / (2u)) computed wholly in BIGINT, then one
    * exact int->double division — no float arithmetic ever enters the
    * rounding path, so both engines produce the identical double by
    * construction (the G11 discipline applied to the ratio case; plain
    * round(i/u, 4) leaves each engine's round() convention in play at
    * exact 4dp halves, e.g. 7/32). u = 0 yields NULL in both engines
    * (Spark `div` and DuckDB `//` both return NULL on zero). */
  private[graft] def jaccard(a: String, b: String) =
    expr(s"CAST((CAST(size(array_intersect($a, $b)) AS BIGINT) * 20000" +
      s" + size(array_union($a, $b))) div" +
      s" (2 * CAST(size(array_union($a, $b)) AS BIGINT)) AS DOUBLE) / 10000.0")

  /** Connected components of an undirected graph, exact for ANY diameter:
    * min-label propagation accelerated with pointer doubling, iterated to
    * a true fixpoint.
    *
    * `nodes` is a single-column frame (`node`); `edges` is (da, db), one
    * row per undirected edge (either orientation). Every round does
    * (1) one hop of label flow across the symmetric edge set (keyed
    * equi-join + groupBy-min — linear shuffles), then (2) pointer doubling
    * comp(x) := comp(comp(x)) (a self-join on the label table — labels are
    * always node ids, so the lookup total). Reach therefore at least
    * doubles per round, and the loop stops when a round changes NO label
    * (`changed` is a count aggregate — one scalar to the driver per round,
    * never row data). The previous fixed-8-round propagation was exact
    * only for diameter <= 8 and silently split longer chains; with
    * doubling the 64-round safety cap covers any graph (2^64 diameter) and
    * the fixpoint check makes the cap unreachable in practice
    * (LlmOpsSpec plants a diameter-12 chain and proves one component).
    *
    * Each round's result is localCheckpoint'ed: truncates the
    * exponentially nesting lineage, and the `changed` count doubles as its
    * materialization, so the checkpoint is never wasted work. This
    * function EXECUTES jobs when called (the fixpoint needs per-round
    * scalars) — unlike the lazy-barrier queries, callers get a small
    * number of bounded jobs at construction time. */
  private[graft] def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 64): DataFrame = {
    // Constraint propagation is OFF for the fixpoint's analysis: each
    // round unions localCheckpoint'ed lineages, and the checkpoint's
    // preserved origin constraints can (for some edge-plan shapes — seen
    // live with videoDupPairs' alignment-vote edges) slip a pruned
    // attribute past Catalyst's union constraint rewrite, which then
    // dies with `NoSuchElementException: key not found: <attr>`.
    // Constraints optimize nothing here — every round reads materialized
    // checkpoints — so the dial costs nothing and is restored after the
    // loop; the returned frame is itself a constraint-free checkpoint.
    val spark = nodes.sparkSession
    val propKey = "spark.sql.constraintPropagation.enabled"
    val prevProp = spark.conf.getOption(propKey)
    spark.conf.set(propKey, "false")
    try {
      // materialize the (possibly expensive) edge derivation ONCE — every
      // round's hop join re-reads it (round-5 advice: the quadratic pair
      // join re-executed in all 8 rounds)
      val sym = edges.select(col("da"), col("db"))
        .unionByName(edges.select(col("db").as("da"), col("da").as("db")))
        .distinct()
        .localCheckpoint(false)
      var comp = nodes.select(col("node"), col("node").as("comp"))
        .localCheckpoint(false)
      var changed = 1L
      var rounds = 0
      while (changed > 0 && rounds < maxRounds) {
        val viaNeighbor = sym.join(comp, col("da") === col("node"))
          .select(col("db").as("node"), col("comp"))
        val hopped = comp.unionByName(viaNeighbor)
          .groupBy("node").agg(min("comp").as("comp"))
        // pointer doubling: follow the label one more level. Every label is
        // some node's id, so the left lookup always hits; coalesce guards
        // the (impossible by construction) miss rather than nulling comps.
        val ptr = hopped.select(col("node").as("p_node"), col("comp").as("p_comp"))
        val next = hopped.join(ptr, col("comp") === col("p_node"), "left")
          .select(col("node"), coalesce(col("p_comp"), col("comp")).as("comp"))
          .localCheckpoint(false)
        // one scalar per round; labels only decrease, so inequality == change
        changed = next.join(comp.withColumnRenamed("comp", "old"), "node")
          .where(col("comp") =!= col("old")).count()
        comp = next
        rounds += 1
      }
      // With doubling the cap means diameter 2^64 — unreachable — but if it
      // ever WERE hit, returning silently would hand back split components
      // (the exact bug this function replaced). Fail loudly instead.
      require(changed == 0,
        s"connectedComponents did not converge within $maxRounds rounds ($changed labels still moving)")
      comp
    } finally prevProp match {
      case Some(v) => spark.conf.set(propKey, v)
      case None    => spark.conf.unset(propKey)
    }
  }

  /** (doc_id, source, sig): 32-bit SimHash per document of the derived
    * original + truncated-copy corpus, computed by the native codegen'd
    * `graft_simhash` expression — one long per row straight off the scan
    * (the declarative recipe it replaces exploded every token into 32
    * (bit, vote) rows and ran two aggregations; CustomFunctionsSpec
    * proves the expression bit-identical to that recipe).
    * `private[graft]` so the lossless-banding spec can brute-force pairs
    * from the same signatures and prove the pigeonhole candidates
    * identical. */
  private[graft] def simhashSigs(s: SparkSession, d: String): DataFrame = {
    GraftFunctions.register(s)
    val base = Tables.documents(s, d).withColumn("toks", split(col("text"), " "))
    val orig = base.select(col("doc_id"), col("source"), col("toks"))
    val variant = base.select((col("doc_id") + 1000000).as("doc_id"), col("source"),
      expr("slice(toks, 1, greatest(size(toks) - 3, 1))").as("toks"))
    orig.unionByName(variant)
      .select(col("doc_id"), col("source"), expr("graft_simhash(toks)").as("sig"))
  }

  /** MinHash+LSH near-dup pairs with parameterized banding — the
    * recall/cost dial: k hashes split into `bands` bands of k/bands
    * rows; a pair is a candidate iff some band's rows all agree, so for
    * shingle Jaccard j the hit probability is 1-(1-j^(k/bands))^bands —
    * more, narrower bands buy recall at lower similarity for a
    * proportional increase in candidate volume. Every candidate is
    * refined with the true shingle Jaccard, so banding affects recall
    * only, never precision. The declared q_dedup_minhash is 16 hashes in
    * 4x4 banding; LlmOpsSpec measures the dial against 8x2. */
  def minhashPairs(s: SparkSession, d: String, k: Int, bands: Int): DataFrame = {
    val base = Tables.documents(s, d).withColumn("toks", split(col("text"), " "))
    val toksU = base.select(col("doc_id"), col("toks"))
      .unionByName(base.select((col("doc_id") + 1000000).as("doc_id"),
        expr("slice(toks, 1, greatest(size(toks) - 3, 0))").as("toks")))
    // NO corpus barrier here, deliberately (round-7 A/B): every
    // duplicated subplan reaches its consumers through IDENTICAL
    // exchanges, so ReuseExchange computes each pipeline once — a
    // localCheckpoint would blind the plan audit's pushdown view for
    // nothing. r11 note: the pre-r11 signing carried its own
    // groupBy(doc_id) exchange, which is what ReuseExchange latched onto;
    // the native per-row signing is map-only, so WITHOUT an exchange the
    // expensive signing subtree would re-execute under BOTH self-join
    // sides (measured 2.3x at the 50x smoke). The explicit
    // repartition(doc_id) restores exactly the old exchange shape: one
    // signing pass materialized into a reused exchange, both sides and
    // the banding read its output.
    val bandRows = bandRowsOfBuckets(
      minhashBucketsOf(s, toksU, k, bands).repartition(col("doc_id")))
    val a = bandRows.select(col("doc_id").as("da"), col("band"), col("bucket"))
    val b = bandRows.select(col("doc_id").as("db"), col("band").as("band_b"),
      col("bucket").as("bucket_b"))
    val cands = a.join(b, col("band") === col("band_b") &&
        col("bucket") === col("bucket_b") && col("da") < col("db"))
      .select("da", "db").distinct()
    // refine candidates with true shingle-set Jaccard
    val shs = nearDupCorpus(s, d)
    cands
      .join(shs.select(col("doc_id").as("da"), col("sh").as("sha")), "da")
      .join(shs.select(col("doc_id").as("db"), col("sh").as("shb")), "db")
      .select(col("da"), col("db"), jaccard("sha", "shb").as("jac"))
      .where(col("jac") >= 0.5)
      .orderBy("da", "db")
  }

  /** (doc_id, cbuckets) — ONE ROW PER DOC carrying its banded signature
    * as an ordered array of `bands` BIGINT bucket ids, signed PER ROW by
    * the native graft_minhash_buckets expression (map-only — no explode,
    * no groupBy exchange; bit-identical to the retired
    * generator → MinHashAgg → bucket-hash pipeline, CustomFunctionsSpec).
    * This is the CANONICAL signature form: band rows derive from it
    * per-row ([[bandRowsOfBuckets]] — a posexplode, no aggregation), and
    * the persisted index stores exactly this shape so probe static sides
    * are projection-only scans (the streaming gate's 100 TB requirement —
    * see StreamingOps.dedupAgainstIndexStream). Self-join consumers must
    * add their own repartition(doc_id) so ReuseExchange computes the
    * signing once (see minhashPairs' r11 note) — single-consumer paths
    * (index write/append, batch probe) want exactly this exchange-free
    * shape. MinHash "training" is just the fixed salt family, so unlike
    * the ANN codebooks there is nothing to freeze — any two frames
    * signed with the same (k, bands) are join-compatible by
    * construction. */
  private[graft] def minhashBucketsOf(s: SparkSession, toks: DataFrame,
      k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"bands ($bands) must divide k ($k)")
    GraftFunctions.register(s)
    // r11: per-row native signing straight from the token array
    // (functions/MinHashBuckets.scala — shingling happens inside the
    // kernel) — bit-identical buckets to the
    // explode → MinHashAgg → bucket-hash pipeline it replaces
    // (CustomFunctionsSpec pins it; `min` ignores shingle multiplicity),
    // but the signing stage is now a map-only projection with NO
    // exchange: the old shape shuffled a groupBy(doc_id) even though
    // map-side combine kept it k longs per doc. Shingle-less docs
    // (< 3 tokens) are filtered exactly as the groupBy path dropped them
    // (no generator rows → no group) — signing them would give every
    // empty doc the same degenerate signature and a band-bucket flood.
    toks
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"),
        call_function("graft_minhash_buckets", col("toks"), lit(3), lit(k), lit(bands))
          .as("cbuckets"))
  }

  /** Exploded (doc_id, band, bucket) rows of a (doc_id, cbuckets) frame —
    * a pure per-row generate (no shuffle, no aggregate), usable on a
    * parquet scan of the persisted `cbuckets` table as-is. */
  private[graft] def bandRowsOfBuckets(buckets: DataFrame): DataFrame =
    buckets.select(col("doc_id"),
      posexplode(col("cbuckets")).as(Seq("band", "bucket")))

  /** (doc_id, band, bucket) LSH band rows of a (doc_id, toks) frame —
    * the in-query signature stage of minhashPairs and the ingest loop's
    * in-batch collapse. */
  private[graft] def minhashBandsOf(s: SparkSession, toks: DataFrame,
      k: Int, bands: Int): DataFrame =
    bandRowsOfBuckets(minhashBucketsOf(s, toks, k, bands))

  /** The MinHash index's instance of the banded lifecycle: `cbuckets`
    * (one row per doc — its ordered banded signature array, the GROUPED
    * probe form: batch probes posexplode it per-row into candidate join
    * keys, and the streaming gate's static side is a projection-only scan
    * of it) over the `shingles` refine tier, both id-bucketed by
    * `doc_id`; `pbands` holds the exploded (doc_id, band, bucket) rows. */
  private[graft] val MinhashIndex: BandedIndex = new BandedIndex("minhash-text",
    "DedupOps.writeMinhashIndex", primary = "cbuckets", refine = Some("shingles"),
    idCol = "doc_id", bandIdCol = "doc_id", bandCol = "band", bucketCol = "bucket",
    layout = IndexMeta.GroupedLayout, bandRowsOf = bandRowsOfBuckets)

  /** The (doc_id, sh) refine rows of a (doc_id, toks) frame. */
  private def shingleRows(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"), expr(shingleExpr(0)).as("sh"))

  /** Persist a MinHash/LSH near-dup index for a (doc_id, source, text)
    * corpus under `dir` ([[MinhashIndex]]), with a 1-row meta table
    * pinning (k, bands) so appends and probes sign new documents
    * identically. The dedup lifecycle twin of writeIvfIndex/writePqIndex
    * — built once over the corpus, then every new crawl batch probes and
    * appends in O(batch). */
  def writeMinhashIndex(s: SparkSession, docs: DataFrame, dir: String,
      k: Int = 16, bands: Int = 4): Unit = {
    GraftFunctions.register(s)
    val toks = docs.withColumn("toks", split(col("text"), " "))
    import s.implicits._
    MinhashIndex.write(s, dir,
      minhashBucketsOf(s, toks.select(col("doc_id"), col("toks")), k, bands),
      Some(shingleRows(toks)),
      Seq((k, bands, IndexMeta.GroupedLayout)).toDF("k", "bands", "layout"))
  }

  /** (Re-)derive the band-partitioned probe table (`pbands`) from
    * `cbuckets` (BandedIndex.heal): the upgrade path for an index
    * persisted before the probe layout existed and the heal for a
    * diverged one. */
  def rebuildMinhashProbeLayout(s: SparkSession, dir: String): Unit =
    MinhashIndex.heal(s, dir)

  /** Read + validate a MinHash index's meta row (BandedIndex.requireMeta:
    * rebuild fence, then the layout stamp — a pre-r11 flat-layout index
    * must fail with a rebuild message, not a path-not-found or a silently
    * skipped probe). Shared by every reader of the index (append, batch
    * probe, streaming gate, ingest loop). */
  private[graft] def requireMinhashMeta(s: SparkSession,
      dir: String): org.apache.spark.sql.Row =
    MinhashIndex.requireMeta(s, dir)

  /** Append a new batch to a persisted MinHash index — signatures use
    * the stored (k, bands), so appended rows are band-compatible with
    * the base; O(batch) cost, no corpus re-signing. The caller owns
    * doc_id uniqueness: a re-sent batch duplicates signature/shingle
    * rows for its ids (harmless to candidate CORRECTNESS — candidates
    * are distinct-ed — but it doubles their probe cost); gate retried
    * batches through Ledger.missing as the LlmOpsSpec resume test
    * shows. Shingles land first, then the fenced cbuckets + pbands pair
    * (BandedIndex.append). */
  def appendToMinhashIndex(s: SparkSession, batch: DataFrame, dir: String): Unit = {
    GraftFunctions.register(s)
    val toks = batch.withColumn("toks", split(col("text"), " "))
    MinhashIndex.append(s, dir, Some(shingleRows(toks))) { meta =>
      minhashBucketsOf(s, toks.select(col("doc_id"), col("toks")),
        meta.getAs[Int]("k"), meta.getAs[Int]("bands"))
    }
  }

  /** Operator diagnostic over a persisted MinHash index: the `perBand`
    * most-populated band buckets (tombstone-aware) — HashBanding
    * .bucketStats' text twin, so a 100 TB operator sees the candidate
    * skew profile from the stored signatures BEFORE a probe or pair job
    * meets a degenerate bucket mid-flight (the classic cause: boilerplate
    * or template docs whose shingle sets collapse to the same bands;
    * fallbacks as in HashBanding.DefaultMaxBucket's scaladoc). */
  def minhashBucketStats(s: SparkSession, dir: String,
      perBand: Int = 10): DataFrame =
    MinhashIndex.bucketStats(s, dir, perBand)

  /** Delete documents from a persisted MinHash index (takedowns, dedup
    * removals): an O(ids) tombstone append. `dedupAgainstIndex` and the
    * streaming gate exclude the ids immediately; `compactMinhashIndex`
    * later folds them into the stored tables. Re-adding a deleted id
    * requires compaction first (see Tombstones). */
  def deleteFromMinhashIndex(s: SparkSession, ids: DataFrame, dir: String): Unit =
    MinhashIndex.delete(s, ids, dir)

  /** Fold tombstones into the stored MinHash tables and clear them —
    * only the partitions holding tombstoned ids are rewritten
    * (BandedIndex.compact; IndexMaintenanceSpec pins untouched
    * partitions byte-identical). */
  def compactMinhashIndex(s: SparkSession, dir: String): Unit =
    MinhashIndex.compact(s, dir)

  /** INCREMENTAL near-dup dedup: flag the documents of a new batch that
    * near-duplicate anything already in a persisted MinHash index — the
    * shape a production training pipeline actually runs per crawl
    * snapshot (batch-vs-corpus, never corpus-vs-corpus again). The
    * batch is signed with the index's stored (k, bands), candidates
    * come from the band-bucket equi-join (batch bands × stored bands —
    * linear in batch size, never all-pairs), and every candidate is
    * refined with the true shingle Jaccard against the stored shingle
    * sets. Returns (batch_id, corpus_id, jac) pairs at jac >=
    * threshold; anti-join the distinct batch_ids to keep the batch's
    * novel documents. */
  def dedupAgainstIndex(s: SparkSession, batch: DataFrame, dir: String,
      threshold: Double = 0.5): DataFrame = {
    val meta = requireMinhashMeta(s, dir)
    GraftFunctions.register(s)
    val toks = batch.withColumn("toks", split(col("text"), " "))
    val bBands = minhashBandsOf(s, toks.select(col("doc_id"), col("toks")),
      meta.getAs[Int]("k"), meta.getAs[Int]("bands"))
    // deleted corpus docs (tombstones, see deleteFromMinhashIndex) must
    // not veto new batches: both stored tiers are delete-aware.
    //
    // PRUNED probe (when the band-partitioned layout is in sync,
    // BandedIndex.probe): the stored band rows come from a literal-pruned
    // scan of `pbands` — the batch's (pband, bucket) keys prune
    // directories and skip row groups (BandBuckets.prunedRead), so the
    // candidate tier reads O(batch keys) row groups at ANY corpus size
    // instead of scanning every signature. The refine tier then
    // point-reads only the candidate ids' shingle rows
    // (IdBuckets.prunedById) — the bounded candidate-id collect is the
    // price of turning runtime keys into prunable literals (stream-static
    // DPP never fires, measured; see BandBuckets). Construction therefore
    // runs two small bounded jobs; output is IDENTICAL to the full-scan
    // fallback (spec law), whose band rows derive from the grouped
    // cbuckets table per-row (posexplode after the anti-join — the join
    // sees one row per doc).
    val probe = MinhashIndex.probe(s, dir)
    val storedBands = probe.bandRows(bBands.select("band", "bucket"))
    // on the pruned path the candidate frame feeds the bounded id collect
    // AND the refine join — the barrier runs the candidate join once
    val cands = probe.barrier(bBands
      .select(col("doc_id").as("batch_id"), col("band"), col("bucket"))
      .join(storedBands.select(col("doc_id").as("corpus_id"),
          col("band").as("band_c"), col("bucket").as("bucket_c")),
        col("band") === col("band_c") && col("bucket") === col("bucket_c"))
      .select("batch_id", "corpus_id").distinct())
    val storedSh = probe.rowsFor("shingles", cands.select("corpus_id"))
    val bSh = toks.select(col("doc_id").as("batch_id"), expr(shingleExpr(0)).as("shb"))
      .where(size(col("shb")) > 0)
    val cSh = storedSh
      .select(col("doc_id").as("corpus_id"), col("sh").as("shc"))
      .where(size(col("shc")) > 0)
    cands.join(bSh, "batch_id").join(cSh, "corpus_id")
      .select(col("batch_id"), col("corpus_id"), jaccard("shb", "shc").as("jac"))
      .where(col("jac") >= threshold)
      .orderBy("batch_id", "corpus_id")
  }

  /** The exact-dedup key: sha256 of the trimmed, lowercased text. ONE
    * definition for the batch queries, the curation pipeline and the
    * streaming dedup, so their keys stay bit-identical (xxhash64 is the
    * at-scale choice but has no DuckDB twin for the oracles). */
  def exactKey(text: Column): Column = sha2(lower(trim(text)), 256)

  val queries: Map[String, Q] = Map(
    // Exact dedup: normalize → sha256 → group, deterministic min keeper
    // (see MinHash below for xxhash64).
    "q_dedup_exact" -> ((s, d) => {
      val h = exactKey(col("text"))
      val orig = Tables.documents(s, d).select(col("doc_id"), h.as("h"))
      val dup = Tables.documents(s, d).select((col("doc_id") + 1000000).as("doc_id"), h.as("h"))
      orig.unionByName(dup)
        .groupBy("h")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dups"))
        .orderBy("keep_id")
    }),

    // INCREMENTAL exact dedup — the batch-vs-corpus shape every crawl
    // pipeline runs: even doc_ids play the already-kept corpus, odd ones
    // plus planted exact copies of corpus docs (doc_id % 10 = 0, re-id'd
    // +1M) play the new snapshot. A batch doc survives iff its content
    // hash is unseen in the corpus (anti join — Ledger.missing for
    // CONTENT instead of keys) and it is the min-id representative of
    // its within-batch hash group. Both the anti join and the group-by
    // are keyed on the hash — linear at any corpus size.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val h = exactKey(col("text"))
      val corpus = docs.where(col("doc_id") % 2 === 0).select(h.as("h")).distinct()
      val batch = docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), h.as("h"))
        .unionByName(docs.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000).as("doc_id"), h.as("h")))
      batch.join(corpus, Seq("h"), "left_anti")
        .groupBy("h")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("batch_dups"))
        .select("keep_id", "batch_dups")
        .orderBy("keep_id")
    }),

    // Token-set Jaccard for same-source candidate pairs (blocked join).
    "q_jaccard_pairs" -> ((s, d) => {
      val t = Tables.documents(s, d).where(col("doc_id") < 200)
        .select(col("doc_id"), col("source"), array_distinct(split(col("text"), " ")).as("toks"))
      val a = t.select(col("doc_id").as("da"), col("source"), col("toks").as("ta"))
      val b = t.select(col("doc_id").as("db"), col("source").as("source_b"), col("toks").as("tb"))
      a.join(b, col("source") === col("source_b") && col("da") < col("db"))
        .select(col("da"), col("db"), jaccard("ta", "tb").as("jac"))
        .orderBy("da", "db")
    }),

    // n-gram (3-shingle) Jaccard near-dup detection over the derived
    // corpus; only true near-dups survive the 0.5 threshold.
    //
    // Candidates come from EXACT prefix filtering (the classic set-
    // similarity-join bound [PK: Chaudhuri et al. ICDE'06, Bayardo et al.
    // WWW'07]): under any global total order on shingles, two sets with
    // Jaccard >= t MUST share one of their first |sh| - ceil(t*|sh|) + 1
    // shingles (= floor(|sh|/2) + 1 at t = 0.5). Ordering by ascending
    // document frequency puts the RAREST shingles in the prefix, so the
    // candidate equi-join keys on shingles few documents share — linear
    // shuffle, recall exactly 1.0 (the DuckDB all-pairs oracle stays a
    // hash-match), no all-pairs join at any scale. Pairs where either
    // side has an empty shingle set can never reach jac >= 0.5 (0/x = 0,
    // 0/0 = NULL) and are skipped up front.
    "q_dedup_ngram_jaccard" -> ((s, d) => {
      // Materialize the shingled corpus ONCE: it feeds three consumers
      // (the prefix explode plus both sides of the refine join), and
      // without a barrier each recomputes split+shingle+distinct from
      // text — the dominant per-byte cost of this query (measured ~17.5s
      // -> see BASELINE.md round-4 telemetry). localCheckpoint is the
      // local[?] stand-in for what a 100 TB run does anyway: land the
      // shingled corpus as an intermediate table before the multi-pass
      // candidate/refine phases (block-manager storage spills to disk,
      // so this is not a fits-in-memory assumption).
      //
      // LAZY (eager = false): the barrier must not run at DataFrame-
      // CONSTRUCTION time — plan-audit/explain paths call this function
      // without ever executing the query (round-4 advice). The RDD is
      // still checkpointed on first materialization and shared by all
      // three consumers. Known audit blind spot either way: the
      // checkpoint truncates lineage to a LogicalRDD, so the parquet
      // scan under it is invisible to Plans' pushdown audit for this
      // query (the scan-adjacent filter here is on a computed column —
      // the token count — which is non-pushable by shape anyway).
      val u = nearDupCorpus(s, d).localCheckpoint(false)
      val ex = u.select(col("doc_id"), col("source"), size(col("sh")).as("len"),
        explode(col("sh")).as("g"))
      val freq = ex.groupBy("g").agg(count(lit(1)).as("df_g"))
      // (Measured round 4: a further localCheckpoint here — the prefix
      // pipeline does feed both candidate-join sides — costs MORE than
      // the recompute at this scale: the block-manager round trip plus
      // the lost stage overlap outweigh re-running the window. Exchange
      // reuse already shares the shuffle below it. Only the `u` barrier
      // above pays for itself.)
      val prefix = ex.join(freq, "g")
        .withColumn("rk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("df_g").asc, col("g").asc)))
        .where(col("rk") <= floor(col("len") / 2) + 1)
      val a = prefix.select(col("doc_id").as("da"), col("source"), col("g"))
      val b = prefix.select(col("doc_id").as("db"), col("source").as("source_b"),
        col("g").as("g_b"))
      val cands = a.join(b, col("g") === col("g_b") &&
          col("source") === col("source_b") && col("da") < col("db"))
        .select("da", "db").distinct()
      cands
        .join(u.select(col("doc_id").as("da"), col("sh").as("sha")), "da")
        .join(u.select(col("doc_id").as("db"), col("sh").as("shb")), "db")
        .select(col("da"), col("db"), jaccard("sha", "shb").as("jac"))
        .where(col("jac") >= 0.5)
        .orderBy("da", "db")
    }),

    // n-gram CONTAINMENT |A∩B| / |A| — the asymmetric twin of Jaccard
    // that catches SUB-document duplication: a short doc fully embedded
    // in a long one scores near 1.0 here while its Jaccard (divided by
    // the union) can sit far below any near-dup threshold. Direction is
    // pinned small-into-big (|A| <= |B|, da != db), so the truncated
    // variants land as contained in their originals.
    //
    // Candidates via the EXACT asymmetric prefix filter [PK: Chaudhuri
    // et al. ICDE'06]: containment >= t means A misses at most
    // |A| - ceil(t*|A|) of its own shingles in B, so among A's RAREST
    // |A| - ceil(t*|A|) + 1 shingles (global ascending-df order) at
    // least one is in B — join that prefix against B's FULL posting
    // list (no prefix on the container side; that is what makes the
    // filter one-sided). Recall exactly 1.0, linear shuffles, no
    // all-pairs; every candidate refined with the true integer-exact
    // containment. ceil(0.8*n) = (4n+4) div 5 keeps the prefix length
    // in pure BIGINT arithmetic.
    "q_dedup_containment" -> ((s, d) => {
      // same corpus barrier as q_dedup_ngram_jaccard (three consumers
      // with different plan shapes: the A-prefix explode, the B posting
      // explode, and both refine sides)
      val u = nearDupCorpus(s, d).localCheckpoint(false)
      val ex = u.select(col("doc_id"), col("source"), size(col("sh")).as("len"),
        explode(col("sh")).as("g"))
      val freq = ex.groupBy("g").agg(count(lit(1)).as("df_g"))
      val prefixA = ex.join(freq, "g")
        .withColumn("rk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("df_g").asc, col("g").asc)))
        .where(col("rk") <= expr("len - ((len * 4 + 4) div 5) + 1"))
        .select(col("doc_id").as("da"), col("source"), col("len").as("len_a"), col("g"))
      val postingsB = ex.select(col("doc_id").as("db"), col("source").as("source_b"),
        col("len").as("len_b"), col("g").as("g_b"))
      val cands = prefixA.join(postingsB, col("g") === col("g_b") &&
          col("source") === col("source_b") && col("da") =!= col("db") &&
          col("len_a") <= col("len_b"))
        .select("da", "db").distinct()
      cands
        .join(u.select(col("doc_id").as("da"), col("sh").as("sha")), "da")
        .join(u.select(col("doc_id").as("db"), col("sh").as("shb")), "db")
        .select(col("da"), col("db"),
          expr("CAST((CAST(size(array_intersect(sha, shb)) AS BIGINT) * 20000" +
            " + size(sha)) div (2 * CAST(size(sha) AS BIGINT)) AS DOUBLE) / 10000.0")
            .as("cont"))
        .where(col("cont") >= 0.8)
        .orderBy("da", "db")
    }),

    // MinHash + LSH: 16 hashes (salted xxhash64 over shingles), 4 bands
    // of 4 rows; candidates = pairs sharing a band bucket; verified with
    // true shingle Jaccard. No DuckDB oracle (engine-specific hash) —
    // rows-only check + scalatest (known near-dups must be found).
    //
    // Execution path is the native Catalyst surface (SURVEY §7.1 P3),
    // r11 shape: the graft_minhash_buckets expression signs each doc
    // PER ROW straight from its token array (shingling inside the
    // kernel — no generator rows, no aggregation), and one explicit
    // repartition(doc_id) turns the signing into a reused exchange
    // across the candidate self-join's two sides. The kernel salts
    // exactly like xxhash64(concat(cast(i AS STRING), t)); the retired
    // generator+MinHashAgg pipeline remains the equivalence oracle in
    // CustomFunctionsSpec.
    "q_dedup_minhash" -> ((s, d) => minhashPairs(s, d, k = 16, bands = 4)),

    // SimHash: 32-bit signature from token-hash bit votes; near-dups =
    // same-source pairs within Hamming distance 2 (16-bit/dist-3 passed
    // ~27% of all blocked pairs on this shared-vocab corpus — too loose).
    // Oracle-less.
    //
    // Candidates come from pigeonhole chunk banding, which is EXACT (not
    // probabilistic LSH): the 32-bit signature splits into 3 disjoint
    // chunks (11 + 11 + 10 bits); two differing bits cannot touch all
    // three chunks, so Hamming <= 2 forces at least one chunk to be
    // bit-identical. An equi-join on (source, chunk_index, chunk_value)
    // therefore finds EVERY qualifying pair with zero recall loss and a
    // shuffle that carries 3 small rows per document — the all-pairs
    // blocked join this replaces is gone. A pair agreeing on several
    // chunks appears once per agreeing chunk; the distinct() collapses it.
    "q_dedup_simhash" -> ((s, d) => {
      val sigs = simhashSigs(s, d)
      val chunks = sigs.select(col("doc_id"), col("source"), col("sig"),
        explode(expr("transform(sequence(0, 2), c -> named_struct('chunk', c, " +
          "'cv', shiftright(sig, c * 11) & CASE WHEN c = 2 THEN 1023 ELSE 2047 END))")).as("cc"))
        .select(col("doc_id"), col("source"), col("sig"),
          col("cc.chunk").as("chunk"), col("cc.cv").as("cv"))
      val a = chunks.select(col("doc_id").as("da"), col("source"),
        col("sig").as("siga"), col("chunk"), col("cv"))
      val b = chunks.select(col("doc_id").as("db"), col("source").as("source_b"),
        col("sig").as("sigb"), col("chunk").as("chunk_b"), col("cv").as("cv_b"))
      a.join(b, col("source") === col("source_b") && col("chunk") === col("chunk_b") &&
          col("cv") === col("cv_b") && col("da") < col("db"))
        // Mask to the low 32 bits before counting: the signature stores
        // bit 31 as -2^31 (matching the int-shiftleft recipe it replaced),
        // so as a long the high 32 bits are sign-extended — unmasked,
        // bit_count(siga ^ sigb) inflates by +32 whenever the two differ
        // in bit 31 and silently excludes ~1/16 of true distance-<=2
        // pairs (round-3 advice). The pigeonhole chunks already band only
        // the low 32 bits, so the mask only widens recall — exactness of
        // the banding is unchanged (LlmOpsSpec's banded==brute proof).
        .select(col("da"), col("db"),
          expr("bit_count((siga ^ sigb) & 4294967295)").as("hamming"))
        .distinct()
        .where(col("hamming") <= 2)
        .orderBy("da", "db")
    }),

    // Document fingerprint: min rolling shingle hash (MinHash k=1 /
    // winnowing-style). Oracle-less (xxhash64). Identical fingerprints ⇒
    // likely near-dup; used as a cheap pre-cluster key at scale.
    "q_doc_fingerprint" -> ((s, d) => {
      GraftFunctions.register(s)
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .where(hasShingles(0))
        .withColumn("sh", expr(shingleExpr(0)))
        .select(col("doc_id"),
          expr("array_min(transform(sh, t -> xxhash64(t)))").as("fingerprint"),
          size(col("sh")).as("n_shingles"))
        .orderBy("doc_id")
    }),

    // Duplicate CLUSTERS: the step every pairwise dedup stops short of —
    // near-dup pairs are edges of an undirected graph, and the unit of
    // removal is the connected component (keep min doc_id per component,
    // drop the rest). A chain a~b~c must collapse to ONE cluster even
    // though (a,c) was never a candidate pair.
    //
    // Components come from `connectedComponents` above: min-label
    // propagation with pointer doubling, iterated to a true fixpoint —
    // exact for ANY component diameter (the round-5 version's fixed 8
    // rounds silently split chains of diameter > 8; LlmOpsSpec now plants
    // a diameter-12 chain against exactly that). Edges reuse
    // q_jaccard_pairs' bounded candidate set (doc_id < 200, same source)
    // at jac >= 0.5; the DuckDB oracle walks the same edges with a
    // recursive CTE — an exact cross-engine check of the component
    // structure itself.
    "q_dedup_clusters" -> ((s, d) =>
      dedupClusters(Tables.documents(s, d).where(col("doc_id") < 200))),

    // EXACT SUBSTRING dedup [PK: Lee et al. 2022, "Deduplicating Training
    // Data Makes Language Models Better" — the ExactSubstr method]: find
    // MAXIMAL repeated token spans across document pairs, the dedup tier
    // that catches long verbatim quotes/boilerplate which whole-document
    // and near-dup methods both miss. Distributed shape (a suffix array
    // does not distribute; this does): 8-token k-grams with positions →
    // inverted-index equi-join on the gram (df <= 100 stopgram cut wired
    // in, same scale control as q_sim_sparse_full) → matches on the same
    // (pair, diagonal) with CONSECUTIVE positions are one repeated span
    // (gaps-and-islands per diagonal), span length = run + k - 1. Derived
    // corpus plants (doc, truncated copy) pairs whose maximal span is the
    // whole copy by construction. All integer — exact oracle; spans >= 12
    // tokens reported, aggregated per pair.
    "q_dedup_substring" -> ((s, d) => {
      GraftFunctions.register(s)
      val base = Tables.documents(s, d).withColumn("toks", split(col("text"), " "))
      val u = base.select(col("doc_id"), col("toks"))
        .unionByName(base.select((col("doc_id") + 1000000).as("doc_id"),
          expr("slice(toks, 1, greatest(size(toks) - 3, 1))").as("toks")))
      val grams = u.select(col("doc_id"),
          posexplode(expr("graft_ngrams(toks, 8, 0)")).as(Seq("p0", "gram")))
        .select(col("doc_id"), (col("p0") + 1).as("pos"), col("gram"))
      val keptGrams = grams.groupBy("gram").agg(count(lit(1)).as("dfc"))
        .where(col("dfc") <= 100).select("gram")
      val p = grams.join(keptGrams, "gram")
      val m = p.select(col("gram"), col("doc_id").as("da"), col("pos").as("ia"))
        .join(p.select(col("gram").as("gram_b"), col("doc_id").as("db"), col("pos").as("ib")),
          col("gram") === col("gram_b") && col("da") < col("db"))
        .select(col("da"), col("db"), (col("ia") - col("ib")).as("diag"), col("ia"))
        .distinct()
      val w = Window.partitionBy("da", "db", "diag").orderBy(col("ia").asc)
      m.withColumn("isl", col("ia") - row_number().over(w))
        .groupBy("da", "db", "diag", "isl")
        .agg((count(lit(1)) + 7).as("span"))
        .where(col("span") >= 12)
        .groupBy("da", "db")
        .agg(count(lit(1)).as("n_spans"), max("span").as("max_span"),
          sum("span").cast("bigint").as("total_span"))
        .orderBy("da", "db")
    }),

    // Benchmark DECONTAMINATION — the eval-leakage check every
    // pretraining pipeline runs [PK: the n-gram-overlap rule of the
    // GPT-3/PaLM data reports]: flag corpus documents sharing any 5-gram
    // with a benchmark/eval set. The benchmark here is derived — the
    // first 10 tokens of every 20th document, excerpts whose
    // contaminating sources exist by construction. Candidates come from
    // a 5-gram inverted-index equi-join (the tiny benchmark side
    // broadcasts), never an all-pairs document scan; at 100 TB the same
    // df-cap stopword cut as q_sim_sparse_full bounds any hot gram.
    // Output per contaminated doc: distinct leaked 5-grams, implicated
    // benchmark docs, smallest such benchmark id. All integer — exact
    // oracle.
    "q_contamination" -> ((s, d) => {
      val (corpus, bench) = contaminationGrams(Tables.documents(s, d))
      contaminationReport(corpus, bench)
    }),

    // Bloom-prefiltered decontamination — the 100 TB scale path for the
    // gate above. The exact gate broadcasts every benchmark gram STRING;
    // a production eval union (tens of millions of grams) makes that
    // broadcast hash table gigabytes per executor. Here the benchmark
    // grams build a Bloom filter (~1.2 MB per million grams at 1% FPP,
    // treeAggregate build — see functions/BloomGate.scala) and the
    // corpus gram stream passes a MAP-ONLY `graft_bloom_contains`
    // filter first; only bloom-positive survivors (true leaks + ~FPP
    // noise) enter the exact confirm join. Bloom filters have no false
    // negatives and the confirm join removes the false positives, so
    // the result is bit-identical to q_contamination — it shares that
    // query's DuckDB oracle verbatim, making the scale path itself
    // oracle-checked. BloomGateSpec pins equality, the no-false-
    // negative law, the FPP bound, and the filter-below-join plan
    // shape.
    "q_contamination_bloom" -> ((s, d) => {
      GraftFunctions.register(s)
      val (corpus, bench) = contaminationGrams(Tables.documents(s, d))
      val bloom = BloomGate.buildBloom(bench.select("g"), "g", fpp = 0.01)
      contaminationReport(
        corpus.where(BloomGate.mightContain(bloom, col("g"))), bench)
    }),
  )

  /** q_contamination's two faces over any documents frame: the corpus
    * 5-gram stream and the derived benchmark gram set (first 10 tokens
    * of every 20th doc). Shared by the exact and bloom-prefiltered
    * gates so their inputs cannot drift apart. */
  private[graft] def contaminationGrams(docs: DataFrame): (DataFrame, DataFrame) = {
    GraftFunctions.register(docs.sparkSession)
    val sh5 = "array_distinct(graft_ngrams(toks, 5, 0))"
    val corpus = docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(sh5)).as("g"))
    val bench = docs.where(col("doc_id") % 20 === 0)
      .withColumn("toks", expr("slice(split(text, ' '), 1, 10)"))
      .select(col("doc_id").as("bench_id"), explode(expr(sh5)).as("g"))
    (corpus, bench)
  }

  /** The contamination report body: exact confirm join (benchmark side
    * broadcast) + per-doc rollup, total-ordered. */
  private[graft] def contaminationReport(corpus: DataFrame, bench: DataFrame): DataFrame =
    corpus.join(broadcast(bench), "g")
      .groupBy("doc_id")
      .agg(countDistinct("g").as("leaked_grams"),
        countDistinct("bench_id").as("bench_docs"),
        min("bench_id").as("first_bench_id"))
      .orderBy("doc_id")

  /** q_dedup_clusters' body over any (doc_id, source, text) frame —
    * exposed so the spec can run the identical pipeline on a planted
    * long-chain corpus. */
  private[graft] def dedupClusters(docs: DataFrame): DataFrame = {
    val t = docs
      .select(col("doc_id"), col("source"), array_distinct(split(col("text"), " ")).as("toks"))
    val a = t.select(col("doc_id").as("da"), col("source"), col("toks").as("ta"))
    val b = t.select(col("doc_id").as("db"), col("source").as("source_b"), col("toks").as("tb"))
    val edges = a.join(b, col("source") === col("source_b") && col("da") < col("db"))
      .select(col("da"), col("db"), jaccard("ta", "tb").as("jac"))
      .where(col("jac") >= 0.5)
      .select("da", "db")
    val comp = connectedComponents(t.select(col("doc_id").as("node")), edges)
    comp.withColumn("members", count(lit(1)).over(Window.partitionBy("comp")))
      .select(col("node"), col("comp"), col("members"))
      .orderBy("node")
  }

  private val contaminationOracleSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |c AS (SELECT doc_id, unnest(CASE WHEN len(toks) - 4 >= 1 THEN
      |        list_distinct(list_transform(generate_series(1, len(toks) - 4),
      |          i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4])))
      |        ELSE [] END) AS g
      |      FROM t),
      |b AS (SELECT bench_id, unnest(CASE WHEN len(bt) - 4 >= 1 THEN
      |        list_distinct(list_transform(generate_series(1, len(bt) - 4),
      |          i -> concat_ws(' ', bt[i], bt[i+1], bt[i+2], bt[i+3], bt[i+4])))
      |        ELSE [] END) AS g
      |      FROM (SELECT doc_id AS bench_id, list_slice(string_split(text, ' '), 1, 10) AS bt
      |            FROM documents WHERE doc_id % 20 = 0))
      |SELECT c.doc_id, count(DISTINCT c.g) AS leaked_grams,
      |  count(DISTINCT b.bench_id) AS bench_docs, min(b.bench_id) AS first_bench_id
      |FROM c JOIN b ON c.g = b.g
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_dedup_exact" ->
      """WITH u AS (
        |  SELECT doc_id, sha256(lower(trim(text))) AS h FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, sha256(lower(trim(text))) FROM documents)
        |SELECT h, min(doc_id) AS keep_id, count(*) AS dups
        |FROM u GROUP BY h ORDER BY keep_id""".stripMargin,

    "q_dedup_incremental" ->
      """WITH h AS (SELECT doc_id, sha256(lower(trim(text))) AS h FROM documents),
        |corpus AS (SELECT DISTINCT h FROM h WHERE doc_id % 2 = 0),
        |batch AS (SELECT doc_id, h FROM h WHERE doc_id % 2 = 1
        |          UNION ALL
        |          SELECT doc_id + 1000000, h FROM h WHERE doc_id % 10 = 0)
        |SELECT min(b.doc_id) AS keep_id, count(*) AS batch_dups
        |FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)
        |GROUP BY b.h ORDER BY keep_id""".stripMargin,

    // The recursive CTE enumerates every (node, reachable-ancestor) pair;
    // min over it is the component id — exact against Spark's iterative
    // min-label propagation as long as propagation ran >= diameter rounds
    // (pinned by LlmOpsSpec's union-find equality test).
    "q_dedup_clusters" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks
        |  FROM documents WHERE doc_id < 200),
        |pairs AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE CAST((len(list_intersect(a.toks, b.toks)) * 20000
        |        + len(list_distinct(list_concat(a.toks, b.toks)))) //
        |       (2 * len(list_distinct(list_concat(a.toks, b.toks)))) AS DOUBLE)
        |    / 10000.0 >= 0.5),
        |edges AS (SELECT da, db FROM pairs UNION ALL SELECT db, da FROM pairs),
        |walk(node, comp) AS (
        |  SELECT doc_id, doc_id FROM t
        |  UNION
        |  SELECT e.db, w.comp FROM walk w JOIN edges e ON e.da = w.node),
        |comps AS (SELECT node, min(comp) AS comp FROM walk GROUP BY node)
        |SELECT node, comp,
        |  CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS members
        |FROM comps ORDER BY node""".stripMargin,

    // Integer-exact 4dp rounding (see the jaccard helper's note): the
    // whole rounding happens in BIGINT, mirroring the Spark side's
    // arithmetic operation-for-operation.
    "q_jaccard_pairs" ->
      """WITH t AS (SELECT doc_id, source, list_distinct(string_split(text, ' ')) AS toks
        |           FROM documents WHERE doc_id < 200)
        |SELECT a.doc_id AS da, b.doc_id AS db,
        |  CAST((len(list_intersect(a.toks, b.toks)) * 20000
        |        + len(list_distinct(list_concat(a.toks, b.toks)))) //
        |       (2 * len(list_distinct(list_concat(a.toks, b.toks)))) AS DOUBLE)
        |    / 10000.0 AS jac
        |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |ORDER BY da, db""".stripMargin,

    // Parallel unnests zip in DuckDB, so positions and grams stay aligned
    // without a struct list; the window/count arithmetic mirrors the
    // Spark side exactly and total_span's sum(BIGINT) is cast back from
    // HUGEINT (§2 determinism rule 6).
    "q_dedup_substring" ->
      """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |u AS (SELECT doc_id, toks FROM t0
        |      UNION ALL
        |      SELECT doc_id + 1000000, list_slice(toks, 1, greatest(len(toks) - 3, 1)) FROM t0),
        |g AS (SELECT doc_id,
        |        unnest(CASE WHEN len(toks) - 7 >= 1
        |          THEN generate_series(1, len(toks) - 7) ELSE [] END) AS pos,
        |        unnest(CASE WHEN len(toks) - 7 >= 1 THEN
        |          list_transform(generate_series(1, len(toks) - 7),
        |            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3],
        |                           toks[i+4], toks[i+5], toks[i+6], toks[i+7]))
        |          ELSE [] END) AS gram
        |      FROM u),
        |kept AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= 100),
        |p AS (SELECT g.doc_id, g.pos, g.gram FROM g JOIN kept USING (gram)),
        |m AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
        |        a.pos - b.pos AS diag, a.pos AS ia
        |      FROM p a JOIN p b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |i AS (SELECT da, db, diag, ia,
        |        ia - row_number() OVER (PARTITION BY da, db, diag ORDER BY ia ASC) AS isl
        |      FROM m),
        |runs AS (SELECT da, db, count(*) + 7 AS span
        |         FROM i GROUP BY da, db, diag, isl)
        |SELECT da, db, count(*) AS n_spans, max(span) AS max_span,
        |  CAST(sum(span) AS BIGINT) AS total_span
        |FROM runs WHERE span >= 12
        |GROUP BY da, db ORDER BY da, db""".stripMargin,

    "q_contamination" -> contaminationOracleSql,

    // The bloom gate is exact end-to-end (no false negatives; false
    // positives die in the confirm join), so the scale path shares the
    // exact gate's oracle VERBATIM — the strongest possible check that
    // the prefilter is semantics-free.
    "q_contamination_bloom" -> contaminationOracleSql,

    "q_dedup_ngram_jaccard" ->
      """WITH t0 AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
        |o AS (SELECT doc_id, source,
        |        CASE WHEN len(toks) - 2 >= 1 THEN list_distinct(list_transform(
        |          generate_series(1, len(toks) - 2),
        |          i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))) ELSE [] END AS sh
        |      FROM t0),
        |v AS (SELECT doc_id + 1000000 AS doc_id, source,
        |        CASE WHEN len(toks) - 5 >= 1 THEN list_distinct(list_transform(
        |          generate_series(1, len(toks) - 5),
        |          i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))) ELSE [] END AS sh
        |      FROM t0),
        |u AS (SELECT * FROM o UNION ALL SELECT * FROM v),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |        CAST((len(list_intersect(a.sh, b.sh)) * 20000
        |              + len(list_distinct(list_concat(a.sh, b.sh)))) //
        |             (2 * len(list_distinct(list_concat(a.sh, b.sh)))) AS DOUBLE)
        |          / 10000.0 AS jac
        |      FROM u a JOIN u b ON a.source = b.source AND a.doc_id < b.doc_id)
        |SELECT da, db, jac FROM p WHERE jac >= 0.5 ORDER BY da, db""".stripMargin,
    "q_dedup_containment" ->
      """WITH t0 AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
        |o AS (SELECT doc_id, source,
        |        CASE WHEN len(toks) - 2 >= 1 THEN list_distinct(list_transform(
        |          generate_series(1, len(toks) - 2),
        |          i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))) ELSE [] END AS sh
        |      FROM t0),
        |v AS (SELECT doc_id + 1000000 AS doc_id, source,
        |        CASE WHEN len(toks) - 5 >= 1 THEN list_distinct(list_transform(
        |          generate_series(1, len(toks) - 5),
        |          i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))) ELSE [] END AS sh
        |      FROM t0),
        |u AS (SELECT * FROM (SELECT * FROM o UNION ALL SELECT * FROM v)
        |      WHERE len(sh) >= 1),
        |p AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |        CAST((len(list_intersect(a.sh, b.sh)) * 20000 + len(a.sh)) //
        |             (2 * len(a.sh)) AS DOUBLE) / 10000.0 AS cont
        |      FROM u a JOIN u b ON a.source = b.source AND a.doc_id <> b.doc_id
        |                       AND len(a.sh) <= len(b.sh) AND len(a.sh) >= 1)
        |SELECT da, db, cont FROM p WHERE cont >= 0.8 ORDER BY da, db""".stripMargin,
  )
}
