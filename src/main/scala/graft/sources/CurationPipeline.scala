package graft.sources

import graft.Tables
import graft.plans.Scale
import graft.sources.TableWrite.TableWriteOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composition a training-data user runs
  * daily, built from the same shapes as the declared operators:
  *
  *   redact (q_text_redact) → quality gate (q_text_quality's score) →
  *   exact-dedup keepers (q_dedup_exact's normalized sha256, min-id
  *   keeper) → deterministic split (q_sample_split's md5 bucket) →
  *   split-partitioned parquet layout.
  *
  * Every stage is a per-row projection or a keyed shuffle: redact and
  * score are codegen'd row maps; the keeper pick is one shuffle on the
  * content hash with a WindowGroupLimit-pruned rank; the split is a
  * per-row hash. Nothing here collects to the driver or joins all-pairs,
  * so the same program curates 500 docs or 100 TB.
  */
object CurationPipeline {

  /** Curate `documents` at `sfDir`: returns (doc_id, lang, source, text,
    * n_tok, score, split) for the kept docs — redacted text, quality
    * score >= `minScore`, one doc per normalized content hash (smallest
    * doc_id wins), each assigned its deterministic train/val/test split. */
  def curate(spark: SparkSession, sfDir: String, minScore: Double = 0.3): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val redacted = docs.withColumn("text", regexp_replace(col("text"), "[0-9]+", "<NUM>"))
    val scored = redacted
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")))
      .transform(graft.operators.CurationOps.withQualityScore)
      .where(col("score") >= minScore)
    val keepers = scored
      .withColumn("h", graft.operators.DedupOps.exactKey(col("text")))
      .withColumn("rn", row_number().over(Window.partitionBy("h").orderBy("doc_id")))
      .where(col("rn") === 1)
    keepers
      .withColumn("b", substring(md5(col("doc_id").cast("string")), 1, 1))
      .withColumn("split",
        when(col("b") < "c", "train").when(col("b") < "e", "val").otherwise("test"))
      .select("doc_id", "lang", "source", "text", "n_tok", "score", "split")
  }

  /** Land the curated corpus split-partitioned, so downstream training
    * readers prune to their split's directory. */
  def writeSplits(curated: DataFrame, path: String): Unit =
    Scale.writePartitioned(curated, path, Seq("split"))

  /** The last mile from curated corpus to training-ready layout — the
    * composition of the r7 curation operators:
    *
    *   NFC-normalize (graft_nfc) → weighted mixture (per-source rates,
    *   q_sample_weighted's Bernoulli-gate shape, epochs materialize
    *   up-sampling) → deterministic shard + order (q_shuffle_
    *   deterministic's md5 key) → dense per-shard position.
    *
    * Returns (shard, pos, doc_id, source, epoch, text, n_tok): shard
    * `pos` ranks are each training file's row order; reading shards in
    * parallel and rows in pos order IS the reproducible global shuffle.
    * Rates are arbitrary non-negative doubles quantized to 1/256 (the
    * Bernoulli gate reads two md5 nibbles); whole parts are exact.
    * Scale: the rates table is a broadcast of |sources| rows, the gate
    * is per-row arithmetic, and the only shuffle is the shard exchange
    * + in-shard sort — `shards` is the parallelism knob (<= 4096 here
    * to keep two-nibble uniformity; thousands of shards at 100 TB).
    */
  def pretrainingLayout(
      spark: SparkSession,
      sfDir: String,
      rates: Map[String, Double],
      shards: Int = 8,
      minScore: Double = 0.3,
      tokenBudget: Option[Long] = None): DataFrame = {
    require(shards >= 1 && shards <= 4096, s"shards must be in [1, 4096], got $shards")
    require(rates.values.forall(r => r >= 0 && r <= 127),
      "rates must be in [0, 127] (epoch counts explode per copy)")
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val rateDf = rates.toSeq.toDF("source", "rate")
      .select(col("source"),
        floor(col("rate")).cast("bigint").as("base"),
        round((col("rate") - floor(col("rate"))) * 256).cast("bigint").as("frac256"))
    val nib = "'0123456789abcdef'"
    // optional budget stage: keep only the best-scored prefix whose
    // UNIQUE-doc token count fits the budget (mixture epochs then
    // replicate WITHIN that cut — "the best N tokens, mixed", not
    // "mix, then cut mid-epoch")
    val curated = tokenBudget match {
      case Some(b) =>
        graft.operators.CurationOps.budgetCut(curate(spark, sfDir, minScore), b)
          .drop("cum_tok")
      case None => curate(spark, sfDir, minScore)
    }
    val mixed = curated
      .withColumn("text", expr("graft_nfc(text)"))
      .join(broadcast(rateDf), Seq("source"), "inner")
      .withColumn("h", md5(concat(col("doc_id").cast("string"), lit("#"), col("source"))))
      .withColumn("v256", expr(
        s"(locate(substring(h, 1, 1), $nib) - 1) * 16 + locate(substring(h, 2, 1), $nib) - 1"))
      .withColumn("copies", col("base") + when(col("v256") < col("frac256"), 1L).otherwise(0L))
      .where(col("copies") >= 1)
      .select(col("doc_id"), col("source"), col("text"), col("n_tok"),
        explode(expr("sequence(CAST(1 AS BIGINT), copies)")).as("epoch"))
    // shard/order key salts in the epoch so up-sampled copies scatter
    // across shards instead of clumping next to each other
    val keyed = mixed
      .withColumn("k", md5(concat(col("doc_id").cast("string"), lit(":"),
        col("source"), lit(":"), col("epoch").cast("string"))))
      .withColumn("shard", pmod(expr(
        s"((locate(substring(k, 1, 1), $nib) - 1) * 256 + " +
          s"(locate(substring(k, 2, 1), $nib) - 1) * 16 + " +
          s"locate(substring(k, 3, 1), $nib) - 1)"), lit(shards)).cast("bigint"))
    keyed
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy(col("k"), col("doc_id"), col("epoch"))).cast("bigint"))
      .select("shard", "pos", "doc_id", "source", "epoch", "text", "n_tok")
  }

  /** Land the training layout shard-partitioned: one directory per
    * shard, rows in `pos` order within each file, so a data loader
    * streams shard directories in parallel and gets the reproducible
    * global order with zero further shuffling. */
  def writeShards(layout: DataFrame, path: String): Unit =
    layout.repartition(col("shard")).sortWithinPartitions("shard", "pos")
      .tableWrite.mode("overwrite").partitionBy("shard").parquet(path)

  /** MULTIMODAL pair curation — the aligned (text, image) training-pair
    * corpus a vision-language run consumes, composed from the same
    * engines as the declared operators:
    *
    *   text: [[curate]] (redact → quality gate → exact dedup → split) —
    *   image: ONE real decode pass (ImageCodec.annotateWithHash gives
    *   gate fields AND the perceptual hash together) → dimension
    *   envelope → perceptual min-id keeper (banded pairs; never
    *   all-pairs, loud bucket cap on degenerate corpora) —
    *   alignment: inner join on doc id, so a pair survives only when
    *   BOTH sides were kept; the text side's split carries over, which
    *   keeps a document's text and its image in the SAME split (no
    *   train/test leakage through the paired modality).
    *
    * `assets` is the caller's image table (asset_id aligned to doc_id,
    * payload binary) — the seam where a real corpus's asset store plugs
    * in. Scale shape: one codec pass, one banded self-join, one keyed
    * equi-join; no driver collection. Output: (doc_id, split, text,
    * n_tok, score, image, width, height). */
  def curateImagePairs(spark: SparkSession, sfDir: String, assets: DataFrame,
      minScore: Double = 0.3,
      maxHamming: Int = HashBanding.DefaultMaxHamming,
      minSide: Int = 8, maxSide: Int = 4096): DataFrame = {
    require(1 <= minSide && minSide <= maxSide,
      s"need 1 <= minSide <= maxSide, got ($minSide, $maxSide)")
    val text = curate(spark, sfDir, minScore)
    val ann = ImageCodec.annotateWithHash(assets).localCheckpoint(false)
    val valid = ann.where(col("ok") &&
      col("width").between(minSide, maxSide) &&
      col("height").between(minSide, maxSide))
    val losers = HashBanding.pairs(
        valid.select(col("asset_id"), col("ahash")), maxHamming)
      .select(col("b_id").as("asset_id")).distinct()
    val unique = valid.join(losers, Seq("asset_id"), "left_anti")
    text.join(
        unique.select(col("asset_id").as("doc_id"), col("payload").as("image"),
          col("width"), col("height")),
        Seq("doc_id"))
      .select("doc_id", "split", "text", "n_tok", "score", "image", "width", "height")
  }
}
