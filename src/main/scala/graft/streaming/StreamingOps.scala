package graft.streaming

import graft.sources.TableWrite.TableWriteOps
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event row for the typed streaming operators (events table shape,
  * timestamp materialized to TimestampType). */
case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Per-user running state for the arbitrary-stateful operator. */
case class UserAgg(user_id: Long, n: Long, total: Double)

/** Document-ingest event for the streaming content-dedup operator. */
case class DocEv(doc_id: Long, ts: java.sql.Timestamp, text: String)

/** An arriving multimodal document for the hybrid gate: text for the
  * lexical leg, embedding for the dense leg. */
case class HybridDocEv(doc_id: Long, ts: java.sql.Timestamp, text: String,
  embedding: Seq[Float])

/** Query-vector event for the streaming kNN scorer. */
case class QVec(qid: Long, ts: java.sql.Timestamp, qv: Seq[Float])

/** Labeled embedding event for the streaming embed-LSH probe. */
case class LVec(vec_id: Long, ts: java.sql.Timestamp, label: String,
    embedding: Seq[Float])

/** Input row for the streaming mixture gate. */
case class SrcDoc(doc_id: Long, source: String, ts: java.sql.Timestamp)

/** One watched term with its index-derived idf (bm25ScoreStream). */
case class WatchedTerm(term: String, idf: Double)

/** One watched query's term list (bm25ScoreStream static side). */
case class WatchedQuery(qid: Long, terms: Seq[WatchedTerm])

/** One watched HYBRID query: the lexical terms (empty for a dense-only
  * query) plus the dense query vector (empty for a lex-only query) —
  * hybridScoreStream's static side. */
case class WatchedHybrid(qid: Long, terms: Seq[WatchedTerm], qv: Seq[Float])

/** Open-session state for the event-time-timeout sessionizer: epoch-ms
  * bounds plus the running event count. */
case class SessState(startMs: Long, lastMs: Long, n: Long)

/** A closed session emitted by `sessionizeWithTimeout`. */
case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp, ev: Long)

/** Structured-Streaming twins of the batch event operators (SURVEY §2.J).
  *
  * Each transform is an unbound logical plan: apply it to a batch
  * DataFrame and it runs as a normal agg; apply it to `readStream` input
  * and Catalyst plans the incremental stateful version with watermark-
  * driven state eviction. That symmetry is the point — one operator
  * definition, two execution regimes — so these are NEVER declared in t2
  * (no DuckDB oracle for streaming semantics); StreamingSpec drives them
  * with MemoryStream and asserts watermark/late-data behavior.
  *
  * Scale posture: state size is bounded by (windows in watermark horizon ×
  * key cardinality); watermarks are what keep 100 TB/day streams from
  * accreting unbounded state.
  */
object StreamingOps {

  /** 1h tumbling counts per event type; watermark bounds lateness. */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sv"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"), col("sv"))

  /** 6h windows sliding 1h — streaming twin of q_evt_sliding. */
  def slidingCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "6 hours", "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("wstart"), col("n"))

  /** 30-min-gap session windows per user — streaming twin of q_sessionize. */
  def sessionCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("ev"))
      .select(col("user_id"), col("w.start").as("session_start"), col("ev"))

  /** Streaming incremental near-dup probe: flag documents of an incoming
    * stream that near-duplicate anything in a persisted MinHash index
    * (DedupOps.writeMinhashIndex) — the online twin of
    * DedupOps.dedupAgainstIndex, the admission gate a streaming ingest
    * pipeline runs per document before keeping it.
    *
    * STATELESS by construction (Append mode, no watermark needed): the
    * banded signature is computed PER ROW by the same native
    * graft_minhash_buckets kernel the index writer uses (bit-identical
    * buckets by construction — CustomFunctionsSpec pins the kernel
    * against the retired MinHashAgg pipeline), bands explode to
    * (band, bucket) rows, and both the candidate lookup and the shingle
    * refine are stream-STATIC equi-joins against the stored index
    * tables.
    *
    * Exactly ONE row per (stream doc, matched corpus doc) pair — the
    * BAND-PRIORITY PICK: both sides carry their full per-doc bucket
    * array alongside the exploded (band, bucket) join key, and a row
    * survives only if NO earlier band also agrees, i.e. only the
    * smallest agreeing band emits. The dedup is a pure per-row array
    * predicate over the two carried arrays — no stream state, unlike a
    * dropDuplicates, which would buffer unboundedly without a watermark.
    * A doc near-duplicating SEVERAL corpus docs still emits one row per
    * match (that is the answer, not duplication). Deleted corpus docs
    * (tombstones, DedupOps.deleteFromMinhashIndex) are excluded from
    * both stored tiers; the tombstone check resolves when the streaming
    * query is PLANNED, so a delete lands in already-running gates at
    * their next restart. */
  def dedupAgainstIndexStream(docs: DataFrame, indexDir: String,
      threshold: Double = 0.5, cacheStatic: Boolean = false): DataFrame = {
    val s = docs.sparkSession
    val meta = graft.operators.DedupOps.requireMinhashMeta(s, indexDir)
    val k = meta.getAs[Int]("k")
    val bands = meta.getAs[Int]("bands")
    // minhashBandsOf validates this at write time; a hand-edited or
    // corrupt meta row must fail loudly, not silently truncate the last
    // hashes out of the banding (quietly reduced recall)
    require(k % bands == 0, s"index meta: bands ($bands) must divide k ($k)")
    graft.functions.GraftFunctions.register(s)
    // r11: per-row native signing from the token array — the same
    // codegen'd kernel the index writer uses (bit-identical buckets by
    // construction), in place of the k x shingles HOF recipe; the
    // distinct shingle array stays materialized for the Jaccard refine
    val sig = docs.withColumn("toks", split(col("text"), " "))
      .withColumn("shb", expr(graft.operators.DedupOps.shingleExpr(0)))
      .where(size(col("shb")) > 0)
      .withColumn("sbuckets",
        call_function("graft_minhash_buckets", col("toks"), lit(3), lit(k), lit(bands)))
    val bandRows = sig.select(col("doc_id").as("batch_id"), col("ts"), col("shb"),
        col("sbuckets"), posexplode(col("sbuckets")).as(Seq("band", "bucket")))
    // static side: a PROJECTION-ONLY scan of the persisted grouped
    // signature table (`cbuckets` — one ordered bucket array per corpus
    // doc, written at index write/append time), re-exploded per row with
    // the array carried. Structured Streaming re-executes the static
    // side every micro-batch, so it must cost a scan + generate, never a
    // corpus-wide aggregation — the grouped form is persisted in the
    // index layout for exactly this reason (ProbeStreamPlanSpec pins the
    // static subtree Aggregate/ShuffleExchange-free).
    val idx = maybeCache(s, indexDir, "cbuckets", cacheStatic)(
        graft.operators.DedupOps.MinhashIndex.live(s, indexDir))
      .select(col("doc_id").as("corpus_id"), col("cbuckets"),
        posexplode(col("cbuckets")).as(Seq("band_c", "bucket_c")))
    val csh = maybeCache(s, indexDir, "shingles", cacheStatic)(
        graft.operators.DedupOps.MinhashIndex.live(s, indexDir, "shingles")
        .select(col("doc_id").as("corpus_id"), col("sh").as("shc"))
        .where(size(col("shc")) > 0))
    bandRows
      .join(idx, col("band") === col("band_c") && col("bucket") === col("bucket_c"))
      // band-priority pick: drop the row if any EARLIER band also agrees
      .where(expr("size(filter(zip_with(slice(sbuckets, 1, band), " +
        "slice(cbuckets, 1, band), (x, y) -> x = y), v -> v)) = 0"))
      .join(csh, "corpus_id")
      .withColumn("jac", round(size(array_intersect(col("shb"), col("shc"))).cast("double") /
        size(array_union(col("shb"), col("shc"))), 4))
      .where(col("jac") >= threshold)
      .select(col("batch_id"), col("ts"), col("corpus_id"), col("jac"))
  }

  /** Streaming DECONTAMINATION gate: score each incoming document against
    * a static benchmark/eval set's 5-gram inventory — the online twin of
    * q_contamination, run per document at ingest before it can leak eval
    * data into a training corpus. The benchmark grams ride as ONE
    * broadcast row (same pattern as knnScoreStream's corpus); each stream
    * doc computes its leaked-gram count inside a per-row
    * `array_intersect` expression, so the operator is STATELESS (Append,
    * no watermark) and emits EXACTLY one row per document — no join, no
    * per-match duplication. `clean` = true admits the doc.
    *
    * Scale bound, stated honestly: the benchmark gram set must be
    * broadcast-sized (eval sets are — thousands of docs, not the
    * corpus); `maxGrams` fails fast past the declared contract. Past
    * that, fall back to the q_contamination inverted-index equi-join as
    * a stream-static join (per-match emission, dedupe downstream). */
  def contaminationGateStream(docs: DataFrame, benchmark: DataFrame,
      maxGrams: Long = 1000000L): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sh5 = "array_distinct(graft_ngrams(toks, 5, 0))"
    val benchGrams = benchmark
      .withColumn("toks", split(col("text"), " "))
      .select(explode(expr(sh5)).as("g")).distinct()
    val n = benchGrams.count() // static side: one-time setup cost
    require(n <= maxGrams,
      s"contaminationGateStream benchmark has $n grams > maxGrams=$maxGrams; " +
        "use the q_contamination inverted-index join shape instead (see scaladoc)")
    // eager localCheckpoint: Structured Streaming re-executes a
    // stream-static join's static side every micro-batch, so without the
    // barrier this bounded shingle+distinct+collect_list aggregation
    // would re-run per trigger over the benchmark set. Checkpointed, the
    // per-trigger static side is a one-row in-memory scan — setup cost,
    // matching the probe family's persisted-grouped-table discipline
    // (ProbeStreamPlanSpec pins the plan Aggregate-free).
    val bg = benchGrams.agg(collect_list(col("g")).as("bg")).withColumn("one", lit(1))
      .localCheckpoint()
    docs.withColumn("one", lit(1))
      .join(broadcast(bg), "one") // stream-static; static side is 1 row
      .withColumn("toks", split(col("text"), " "))
      .withColumn("leaked", size(array_intersect(expr(sh5), col("bg"))))
      .select(col("doc_id"), col("ts"), col("leaked"), (col("leaked") === 0).as("clean"))
  }

  /** Bloom twin of [[contaminationGateStream]] — the same per-document
    * decontamination decision with the benchmark gram inventory carried
    * as a Bloom SKETCH (functions/BloomGate.scala) instead of a
    * broadcast string array, removing the gate's `maxGrams` ceiling:
    * the array gate caps at ~1M grams of broadcast strings, the sketch
    * holds ~89M grams at fpp=1e-5 inside BloomGate's 2³¹-bit cap, at
    * O(1) per gram regardless of benchmark size.
    *
    * Shape: even simpler than the exact gate — NO join at all (not even
    * the one-row broadcast). The sketch is built once at stream
    * construction (driver-side treeAggregate, setup cost) and rides the
    * plan as a binary literal; per row the doc's distinct 5-grams pass
    * through `graft_bloom_contains` inside an array `filter` HOF.
    * Stateless, Append, exactly one row per document.
    *
    * Semantics, stated honestly: `hits` is an UPPER bound on the true
    * leaked-gram count (each clean gram false-positives with probability
    * ~fpp), so `clean = (hits == 0)` errs only toward quarantine —
    * a doc the gate admits is EXACTLY clean (Bloom filters have no
    * false negatives), a flagged doc is contaminated with probability
    * ≈ 1 − (grams·fpp). Feed flagged survivors to the batch
    * q_contamination join for exact leak accounting when quarantine
    * alone is not enough. */
  def contaminationGateStreamBloom(docs: DataFrame, benchmark: DataFrame,
      fpp: Double = 1e-5): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sh5 = "array_distinct(graft_ngrams(toks, 5, 0))"
    val benchGrams = benchmark
      .withColumn("toks", split(col("text"), " "))
      .select(explode(expr(sh5)).as("g")).distinct()
    // one-time setup: the sketch build is the only job the static side
    // ever runs — there is no static side left in the streaming plan
    val bloom = graft.functions.BloomGate.buildBloom(benchGrams, "g", fpp)
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("hits", size(filter(expr(sh5),
        g => graft.functions.BloomGate.mightContain(bloom, g))))
      .select(col("doc_id"), col("ts"), col("hits"), (col("hits") === 0).as("clean"))
  }

  /** Streaming rate limiter — q_evt_rate_limit's stateful twin: admit at
    * most `perHour` events per (user, event-hour), state = one Long per
    * open (user, hour) group, expired by event-time timeout as soon as
    * the watermark passes the hour's end (bounded state by
    * construction). Within a micro-batch admission is deterministic
    * (earliest (ts, event_id) first); across micro-batches it is
    * arrival-order — the honest streaming semantics, since a limiter
    * that waited to re-order across batches would not be limiting.
    * Watermark-late events are dropped explicitly (flatMapGroupsWith-
    * State does NOT pre-filter them). Emits admitted events unchanged. */
  def rateLimitStream(ds: Dataset[Ev], perHour: Int,
      watermark: String = "10 minutes"): Dataset[Ev] = {
    import ds.sparkSession.implicits._
    require(perHour >= 1, s"perHour must be >= 1, got $perHour")
    val hourMs = 3600L * 1000
    ds.withWatermark("ts", watermark)
      .groupByKey(e => (e.user_id, e.ts.getTime / hourMs))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: (Long, Long), evs: Iterator[Ev], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            val batch = evs.filter(_.ts.getTime >= wm).toArray
              .sortBy(e => (e.ts.getTime, e.event_id))
            val already = state.getOption.getOrElse(0L)
            val admit = batch.take(math.max(0L, perHour - already).toInt)
            state.update(already + admit.length)
            state.setTimeoutTimestamp((key._2 + 1) * hourMs)
            admit.iterator
          }
      }
  }

  /** Streaming mixture gate: apply per-source up/down-sampling rates to
    * a document stream — q_sample_weighted's Bernoulli-gate shape lifted
    * to Structured Streaming. Whole-rate copies come from floor(rate);
    * the fractional part is a deterministic gate on two md5 nibbles
    * (1/256 quantization), and each admitted copy emits with its epoch
    * index. Every row decides its own fate from its own hash, so the
    * operator is STATELESS (Append, no watermark, no state store) and
    * replaying the stream reproduces the identical sample — the property
    * a training-data ingest gate actually needs. The rates table rides
    * as a broadcast stream-static join on source. */
  def mixtureGateStream(docs: DataFrame, rates: DataFrame): DataFrame = {
    val nib = "'0123456789abcdef'"
    // rates is the STATIC side — validate it eagerly and loudly: a
    // negative or null rate would otherwise just silently drop every
    // doc of that source (copies <= 0), which reads as data loss, not
    // misconfiguration
    val bad = rates.where(col("rate").isNull || col("rate") < 0 ||
      col("rate") > 127 || col("source").isNull).count()
    require(bad == 0L,
      s"mixtureGateStream: $bad rate row(s) null, negative, or > 127 — fix the rates table")
    val rateDf = rates
      .select(col("source"),
        floor(col("rate")).cast("bigint").as("base"),
        round((col("rate") - floor(col("rate"))) * 256).cast("bigint").as("frac256"))
    docs
      .join(broadcast(rateDf), Seq("source"), "inner")
      .withColumn("h", md5(concat(col("doc_id").cast("string"), lit("#"), col("source"))))
      .withColumn("v256", expr(
        s"(locate(substring(h, 1, 1), $nib) - 1) * 16 + locate(substring(h, 2, 1), $nib) - 1"))
      .withColumn("copies", col("base") + when(col("v256") < col("frac256"), 1L).otherwise(0L))
      .where(col("copies") >= 1)
      .select(col("doc_id"), col("source"), col("ts"),
        explode(expr("sequence(CAST(1 AS BIGINT), copies)")).as("epoch"))
  }

  /** Streaming kNN enrichment: score a stream of query vectors against a
    * STATIC corpus and emit each query's top-k neighbors — the online-
    * retrieval shape of q_knn_batch (queries arrive as micro-batches
    * instead of one batch). The corpus rides as ONE broadcast row of
    * (vec_id, label, embedding) structs joined stream-static on a
    * constant key; each query row scans it inside a per-row expression
    * and keeps only its local top-k before exploding, so the operator is
    * STATELESS (Append mode, no watermark needed) and emits exactly k
    * rows per query.
    *
    * Scale bound, stated honestly: the corpus must be broadcast-sized
    * (an index/centroid table, a candidate subset — not 100 TB of raw
    * vectors). Past that, stream the queries against the IVF/PQ index
    * tables instead: assign each query a probed cell (the same broadcast
    * codebook argmax) and stream-static equi-join on cell against the
    * posting lists — the batch machinery in VectorOps is the template.
    * Requires `graft_dot` registered on the session. */
  def knnScoreStream(queries: DataFrame, corpus: DataFrame, k: Int = 5,
      maxCorpusRows: Long = 1000000L): DataFrame = {
    // Make the scale bound EXPLICIT rather than planner-dependent
    // (round-4 advice): (a) fail fast with a clear message when the
    // corpus exceeds the declared broadcast-sized contract, instead of
    // letting a too-big corpus surface as a 2 GB single-row overflow or
    // a silent fall-back to a shuffle join mid-stream; (b) pin the
    // broadcast with an explicit hint — the one-row static side holds
    // the whole corpus in a single row, so size ESTIMATION can exceed
    // autoBroadcastJoinThreshold even though broadcasting one row is
    // exactly right. corpus is a static (batch) frame, so the count is
    // a one-time setup cost, not per-micro-batch work.
    val n = corpus.count()
    require(n <= maxCorpusRows,
      s"knnScoreStream corpus has $n rows > maxCorpusRows=$maxCorpusRows; " +
        "stream queries against IVF/PQ index tables instead (see scaladoc)")
    // eager localCheckpoint: without it the bounded collect_list below
    // would re-execute on EVERY micro-batch (Structured Streaming
    // re-plans the static side per trigger); checkpointed, each trigger
    // scans one cached row — the aggregate is setup cost, matching the
    // probe family's discipline (ProbeStreamPlanSpec pins the plan
    // Aggregate-free).
    val corpusArr = corpus
      .agg(collect_list(struct(col("vec_id"), col("label"), col("embedding"))).as("cs"))
      .withColumn("one", lit(1))
      .localCheckpoint()
    queries.withColumn("one", lit(1))
      .join(broadcast(corpusArr), "one") // stream-static equi-join; static side is 1 row
      .select(col("qid"), col("ts"), explode(expr(
        s"slice(array_sort(transform(cs, c -> named_struct(" +
          s"'negs', -graft_dot(qv, c.embedding), 'vec_id', c.vec_id, 'label', c.label))), 1, $k)")).as("c"))
      .select(col("qid"), col("ts"), col("c.vec_id").as("vec_id"),
        col("c.label").as("label"), round(-col("c.negs"), 6).as("sim"))
  }

  /** Streaming BM25 gate — the LEXICAL twin of [[knnScoreStream]] (r19,
    * closing the r18 verdict's #6): score each ARRIVING document against
    * a watched query set using the persisted TextIndex's corpus
    * statistics, the crawl-time "does this doc match what we watch for"
    * gate that previously ran batch-only. Emits one row per (doc,
    * matched query): (doc_id, ts, qid, score, matched).
    *
    * Setup (one-time, at stream construction — never per micro-batch):
    * the watched terms' document frequencies come from the index's
    * PRUNED postings read and (N, avgdl) from its 1-row stats
    * ([[graft.sources.TextIndex.corpusStats]], tombstones applied), and
    * each term's idf is computed driver-side; the whole watched set then
    * rides the plan as ONE literal broadcast row — the streaming plan is
    * Aggregate-free BY CONSTRUCTION (a LocalRelation, nothing to
    * re-execute per trigger; ProbeStreamPlanSpec pins it), the
    * contaminationGate discipline without even the checkpoint.
    *
    * Per arriving doc the scoring is a per-row expression: tf of each
    * watched term from the doc's own tokens, dl its own length, BM25
    * arithmetic in the batch scorer's exact association order and 4dp
    * round — so for a doc whose tf/dl the index also holds, the emitted
    * score equals searchBm25's (StreamingSpec law). A watched term the
    * index has never seen scores with df = 0 (the honest BM25 idf for an
    * unseen term).
    *
    * Statistics are a PLANNING-TIME snapshot (the family convention):
    * appends/deletes land in a running gate at its next restart.
    * `maxWatchedPairs` bounds the broadcast literal — it counts distinct
    * (qid, term) PAIRS, which is what actually sizes the literal row (a
    * term watched by many queries occupies one slot per query); watched
    * sets are alert-rule-sized, not corpora. */
  def bm25ScoreStream(docs: DataFrame, textIndexDir: String,
      watched: DataFrame, maxWatchedPairs: Int = 4096): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val pairs = watched.select(col("qid").cast("long"), col("term"))
      .distinct().limit(maxWatchedPairs + 1).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    require(pairs.nonEmpty, "bm25ScoreStream: watched query set is empty")
    require(pairs.length <= maxWatchedPairs,
      s"bm25ScoreStream watched set exceeds maxWatchedPairs=$maxWatchedPairs " +
        "distinct (qid, term) pairs; score in batch via " +
        "TextIndex.searchBatchBm25 instead")
    val st = graft.sources.TextIndex.corpusStats(s, textIndexDir).head()
    require(st.getLong(0) > 0,
      s"bm25ScoreStream: the TextIndex at $textIndexDir holds no live docs")
    val (n, avgdl) = (st.getLong(0), st.getDouble(1))
    val terms = pairs.map(_._2).distinct
    val dfc = graft.sources.TextIndex.postingsFor(s, textIndexDir, terms)
      .groupBy("term").agg(count(lit(1)).as("dfc")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def idf(t: String): Double = {
      val d = dfc.getOrElse(t, 0L).toDouble
      math.log((n.toDouble - d + 0.5) / (d + 0.5) + 1.0)
    }
    val qs: Seq[WatchedQuery] = pairs.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (qid, ps) =>
        WatchedQuery(qid, ps.map(_._2).sorted.map(t => WatchedTerm(t, idf(t))))
      }
    // one LITERAL row: the watched structure + avgdl — no static-side
    // jobs left in the streaming plan at all
    val staticRow = Seq((qs, avgdl)).toDF("qs", "avgdl")
      .withColumn("one", lit(1))
    docs.withColumn("one", lit(1))
      .join(broadcast(staticRow), "one") // stream-static; static side is 1 row
      .withColumn("toks", split(col("text"), " "))
      .withColumn("dl", size(col("toks")))
      .select(col("doc_id"), col("ts"), col("toks"), col("dl"), col("avgdl"),
        explode(col("qs")).as("q"))
      // per (doc, query): fold the term list once — tf materializes into
      // the fold's input structs so the BM25 term is computed from one
      // filter pass per term; arithmetic association mirrors
      // TextIndex.searchBm25 term-for-term (idf * (tf * 2.2)) / (tf +
      // 1.2 * (0.25 + 0.75 * dl / avgdl))
      .withColumn("sr", expr(
        "aggregate(" +
          "transform(q.terms, t -> named_struct(" +
          "'tf', CAST(size(filter(toks, x -> x = t.term)) AS DOUBLE), 'idf', t.idf)), " +
          "named_struct('w', CAST(0.0 AS DOUBLE), 'm', CAST(0 AS BIGINT)), " +
          "(acc, p) -> named_struct(" +
          "'w', acc.w + (CASE WHEN p.tf > 0 THEN (p.idf * (p.tf * 2.2)) / " +
          "(p.tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) ELSE CAST(0.0 AS DOUBLE) END), " +
          "'m', acc.m + (CASE WHEN p.tf > 0 THEN CAST(1 AS BIGINT) " +
          "ELSE CAST(0 AS BIGINT) END)))"))
      .where(col("sr.m") > 0)
      .select(col("doc_id"), col("ts"), col("q.qid").as("qid"),
        round(col("sr.w"), 4).as("score"), col("sr.m").as("matched"))
  }

  /** Streaming HYBRID gate — the two-leg twin of [[bm25ScoreStream]]
    * (r20, closing the r19 verdict's #6): score each ARRIVING document
    * (text + embedding) against a watched query set on BOTH retrieval
    * legs. `watchedLex` is (qid, term) and `watchedDense` (qid,
    * embedding) — the two representations of the same qid, exactly the
    * hybridSearchBatch convention; a qid may carry either leg or both.
    * Emits one row per (doc, qid) where at least one leg fires:
    * (doc_id, ts, qid, bm25, matched, sim) — bm25/matched null for a
    * doc matching none of the qid's terms (or a dense-only qid), sim
    * null for a lex-only qid.
    *
    * Setup follows the probe-family discipline: the lexical statistics
    * (per-term idf from the index's pruned read, N/avgdl from its 1-row
    * stats) AND the dense query vectors fold into ONE literal broadcast
    * row at stream construction — the streaming plan is Aggregate-free
    * with no per-trigger index scan (ProbeStreamPlanSpec pins it).
    * Scoring is per-row: the bm25 fold is [[bm25ScoreStream]]'s
    * byte-for-byte, sim is `round(graft_dot(embedding, qv), 6)` — the
    * batch dense leg's exact arithmetic.
    *
    * RANK-based fusion (RRF) needs a per-trigger candidate set, and
    * window functions cannot ride a streaming plan — so fusion is the
    * CONSUMER's one-liner: call [[fuseHybridTrigger]] on each
    * micro-batch (foreachBatch), which ranks the trigger's rows per leg
    * and delegates to the shared rrfFuseBatch arithmetic. The
    * StreamingSpec law pins gate + fuse == the batch q_hybrid_rrf
    * arithmetic on the same rows. */
  def hybridScoreStream(docs: DataFrame, textIndexDir: String,
      watchedLex: DataFrame, watchedDense: DataFrame,
      maxWatchedPairs: Int = 4096): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val pairs = watchedLex.select(col("qid").cast("long"), col("term"))
      .distinct().limit(maxWatchedPairs + 1).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    require(pairs.length <= maxWatchedPairs,
      s"hybridScoreStream watched set exceeds maxWatchedPairs=$maxWatchedPairs " +
        "distinct (qid, term) pairs; retrieve in batch via hybridSearchBatch")
    // dropDuplicates BEFORE the limit (r20 advice, the watchedLex
    // .distinct() discipline): with duplicate qid rows present, the
    // limit could drop a distinct qid's ONLY row while the size check
    // still passes — a watched query silently unwatched — and two
    // conflicting embeddings for one qid would collapse
    // nondeterministically in toMap (last row wins).
    val vecs: Map[Long, Seq[Float]] = watchedDense
      .select(col("qid").cast("long"), col("embedding"))
      .dropDuplicates("qid")
      .limit(maxWatchedPairs + 1).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    require(vecs.size <= maxWatchedPairs,
      s"hybridScoreStream watched dense set exceeds $maxWatchedPairs queries")
    require(pairs.nonEmpty || vecs.nonEmpty,
      "hybridScoreStream: watched query set is empty")
    val st = graft.sources.TextIndex.corpusStats(s, textIndexDir).head()
    require(st.getLong(0) > 0,
      s"hybridScoreStream: the TextIndex at $textIndexDir holds no live docs")
    val (n, avgdl) = (st.getLong(0), st.getDouble(1))
    val terms = pairs.map(_._2).distinct
    val dfc = graft.sources.TextIndex.postingsFor(s, textIndexDir, terms)
      .groupBy("term").agg(count(lit(1)).as("dfc")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def idf(t: String): Double = {
      val d = dfc.getOrElse(t, 0L).toDouble
      math.log((n.toDouble - d + 0.5) / (d + 0.5) + 1.0)
    }
    val lexByQid = pairs.groupBy(_._1)
    val qs: Seq[WatchedHybrid] = (lexByQid.keySet ++ vecs.keySet).toSeq.sorted
      .map { qid =>
        WatchedHybrid(qid,
          lexByQid.getOrElse(qid, Nil).map(_._2).sorted
            .map(t => WatchedTerm(t, idf(t))),
          vecs.getOrElse(qid, Nil))
      }
    val staticRow = Seq((qs, avgdl)).toDF("qs", "avgdl")
      .withColumn("one", lit(1))
    docs.withColumn("one", lit(1))
      .join(broadcast(staticRow), "one") // stream-static; static side is 1 row
      .withColumn("toks", split(col("text"), " "))
      .withColumn("dl", size(col("toks")))
      .select(col("doc_id"), col("ts"), col("toks"), col("dl"), col("avgdl"),
        col("embedding"), explode(col("qs")).as("q"))
      .withColumn("sr", expr(
        "aggregate(" +
          "transform(q.terms, t -> named_struct(" +
          "'tf', CAST(size(filter(toks, x -> x = t.term)) AS DOUBLE), 'idf', t.idf)), " +
          "named_struct('w', CAST(0.0 AS DOUBLE), 'm', CAST(0 AS BIGINT)), " +
          "(acc, p) -> named_struct(" +
          "'w', acc.w + (CASE WHEN p.tf > 0 THEN (p.idf * (p.tf * 2.2)) / " +
          "(p.tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) ELSE CAST(0.0 AS DOUBLE) END), " +
          "'m', acc.m + (CASE WHEN p.tf > 0 THEN CAST(1 AS BIGINT) " +
          "ELSE CAST(0 AS BIGINT) END)))"))
      .withColumn("sim", expr(
        "CASE WHEN size(q.qv) > 0 THEN round(graft_dot(embedding, q.qv), 6) END"))
      .where(col("sr.m") > 0 || col("sim").isNotNull)
      .select(col("doc_id"), col("ts"), col("q.qid").as("qid"),
        when(col("sr.m") > 0, round(col("sr.w"), 4)).as("bm25"),
        when(col("sr.m") > 0, col("sr.m")).as("matched"),
        col("sim"))
  }

  /** Rank-fuse ONE micro-batch of [[hybridScoreStream]] output — the
    * foreachBatch consumer's fusion step (batch-land, so the per-qid
    * rank windows are legal). Per qid: the trigger's docs rank by sim
    * (dense leg) and by bm25 (lexical leg), each leg cut at `perLeg`,
    * then the shared rrfFuseBatch arithmetic blends them — so the fused
    * result on a trigger's rows IS the batch q_hybrid_rrf composition
    * restricted to those rows (StreamingSpec law). Returns (qid, id,
    * vrank, lrank, rrf), top-k per qid. */
  def fuseHybridTrigger(trigger: DataFrame, k: Int, perLeg: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the gate emits exactly ONE row per (doc, qid) carrying BOTH leg
    // scores, so fusion needs no self-join at all (which would trip
    // conflicting-reference resolution): each leg's rank is a window
    // over the same rows — nulls sort last, so the non-null leg rows
    // take ranks 1..m and the null rows are masked out; the blend is
    // the ONE shared rrfCol arithmetic (rrfFuseBatch's, by reference)
    val dw = Window.partitionBy("qid")
      .orderBy(col("sim").desc_nulls_last, col("doc_id").asc)
    val lw = Window.partitionBy("qid")
      .orderBy(col("bm25").desc_nulls_last, col("doc_id").asc)
    val fw = Window.partitionBy("qid").orderBy(col("rrf").desc, col("id").asc)
    trigger
      .withColumn("vrank",
        when(col("sim").isNotNull, row_number().over(dw)))
      .withColumn("lrank",
        when(col("bm25").isNotNull, row_number().over(lw)))
      .withColumn("vrank", when(col("vrank") <= perLeg, col("vrank")))
      .withColumn("lrank", when(col("lrank") <= perLeg, col("lrank")))
      .where(col("vrank").isNotNull || col("lrank").isNotNull)
      .withColumn("id", col("doc_id"))
      .withColumn("rrf", graft.operators.VectorOps.rrfCol)
      .withColumn("rn", row_number().over(fw)).where(col("rn") <= k)
      .select(col("qid"), col("id"), col("vrank"), col("lrank"), col("rrf"))
      .orderBy(col("qid").asc, col("rrf").desc, col("id").asc)
  }

  /** Land ONE trigger's fused hybrid hits under its own partition —
    * the landIdempotent discipline applied to gate output: the
    * streaming batch id is the partition value, the write is a dynamic
    * partition OVERWRITE, so a replayed trigger replaces exactly its
    * own rows and at-least-once delivery becomes exactly-once landing.
    * Public so the idempotence law is testable without driving a
    * stream; [[hybridGateSink]] is the streaming composition. */
  def landFusedTrigger(trigger: DataFrame, outDir: String, triggerId: Long,
      k: Int, perLeg: Int = 20): Unit =
    fuseHybridTrigger(trigger, k, perLeg)
      .withColumn("trigger_id", lit(triggerId))
      .tableWrite.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("trigger_id")
      .parquet(outDir)

  /** Continuous hybrid-retrieval alerting sink (r20): the full streaming
    * composition of [[hybridScoreStream]] (both leg scores per arriving
    * doc, one literal static row, Aggregate-free) with per-trigger RRF
    * fusion ([[fuseHybridTrigger]], batch-land inside foreachBatch) and
    * idempotent landing ([[landFusedTrigger]]). Each trigger's fused
    * top-k per watched query lands under `outDir/trigger_id=<id>`;
    * `onTrigger` surfaces the fused frame per trigger for alert routing
    * (driver-side). The caller supplies the checkpointLocation and
    * .start()s the returned writer — the ingest-sink family contract. */
  def hybridGateSink(docs: DataFrame, textIndexDir: String,
      watchedLex: DataFrame, watchedDense: DataFrame, outDir: String,
      checkpointDir: String, k: Int = 10, perLeg: Int = 20,
      maxWatchedPairs: Int = 4096,
      onTrigger: (Long, DataFrame) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    hybridScoreStream(docs, textIndexDir, watchedLex, watchedDense, maxWatchedPairs)
      .writeStream.option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        landFusedTrigger(b.toDF(), outDir, id, k, perLeg)
        // recomputed on the (tiny, deterministic) micro-batch rather
        // than read back, so a zero-hit first trigger needs no
        // landed-table existence dance
        onTrigger(id, fuseHybridTrigger(b.toDF(), k, perLeg))
      }

  /** STREAM-STREAM attribution join — the streaming twin of
    * q_evt_funnel: each purchase matches the same user's clicks at most
    * `horizon` older. Both sides are watermarked and the join condition
    * carries the event-time band, which is what lets Spark DERIVE state
    * eviction bounds: a buffered click can be dropped once the purchase
    * watermark passes click.ts + horizon, a buffered purchase once the
    * click watermark passes purchase.ts — so state holds only the
    * (watermark + horizon) window per side regardless of stream length.
    * Inner join ⇒ matches emit immediately (Append); the watermark only
    * governs cleanup, not emission. Without the time band in the join
    * condition both sides would buffer FOREVER — the classic
    * stream-stream join mistake this operator exists to encode. */
  def attributeStream(clicks: DataFrame, purchases: DataFrame,
      watermark: String = "10 minutes", horizon: String = "1 hour"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("pts"))
    c.join(p,
        col("user_id") === col("p_user") &&
          col("pts") >= col("cts") &&
          col("pts") <= col("cts") + expr(s"INTERVAL $horizon"))
      .select(col("user_id"), col("click_id"), col("purchase_id"), col("cts"), col("pts"))
  }

  /** Left-outer variant of `attributeStream`: every click eventually
    * emits — matched rows immediately, UNMATCHED clicks with null
    * purchase columns once the watermark passes click.ts + horizon and
    * no match can arrive anymore (the "unattributed traffic" report).
    * The outer side is what makes the watermark semantically load-
    * bearing: a null-padded row is only correct when lateness is
    * provably over, so emission waits on it — the inner join above
    * never has to. */
  def attributeStreamOuter(clicks: DataFrame, purchases: DataFrame,
      watermark: String = "10 minutes", horizon: String = "1 hour"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("pts"))
    c.join(p,
        col("user_id") === col("p_user") &&
          col("pts") >= col("cts") &&
          col("pts") <= col("cts") + expr(s"INTERVAL $horizon"),
        "left_outer")
      .select(col("user_id"), col("click_id"), col("purchase_id"), col("cts"), col("pts"))
  }

  /** Stateful LAST-TOUCH attribution — q_evt_attribution's streaming
    * twin over one mixed event stream (the stream-stream join pair
    * above answers a different question: ALL touch→conversion pairs
    * within a horizon; this one answers "which single touch gets the
    * credit", which needs per-user memory, not a join). State is ONE
    * tiny record per live user — the type and instant of their most
    * recent touch — expired by event-time timeout after `idle` of
    * inactivity, so state is bounded by active users, never by event
    * history. Within a micro-batch the timeline is replayed in
    * (ts, event_id) order (bit-identical to the batch window for any
    * batch slicing that respects order); across micro-batches it is
    * arrival order — the honest streaming contract shared with
    * rateLimitStream. Conversions with no prior touch emit null
    * attribution (organic is a category, not a dropped row).
    * Watermark-late events are dropped explicitly. */
  def lastTouchAttributionStream(ds: Dataset[Ev],
      touchTypes: Set[String] = Set("click", "signup"),
      convertType: String = "purchase",
      watermark: String = "10 minutes",
      idleMs: Long = 30L * 86400000L): DataFrame = {
    import ds.sparkSession.implicits._
    require(touchTypes.nonEmpty && !touchTypes.contains(convertType),
      s"touchTypes must be non-empty and exclude the conversion type, got $touchTypes")
    require(idleMs > 0, s"idleMs must be positive, got $idleMs")
    // full-microsecond instant (Timestamp.getTime is ms-truncated; the
    // batch twin emits epoch-µs, so the stream must too)
    def us(t: java.sql.Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000
    ds.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, evs: Iterator[Ev], state: GroupState[(String, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            val batch = evs.filter(_.ts.getTime >= wm).toArray
              .sortBy(e => (us(e.ts), e.event_id))
            var touch = state.getOption
            val out = batch.flatMap { e =>
              val emitted =
                if (e.event_type == convertType)
                  Some((e.event_id, e.user_id, touch.map(_._1).orNull, touch.map(_._2)))
                else None
              if (touchTypes.contains(e.event_type))
                touch = Some((e.event_type, us(e.ts)))
              emitted
            }
            touch.foreach(state.update)
            if (batch.nonEmpty || state.exists)
              state.setTimeoutTimestamp(
                math.max(wm, batch.lastOption.map(_.ts.getTime).getOrElse(wm)) + idleMs)
            out.iterator
          }
      }
      .toDF("event_id", "user_id", "attr_type", "attr_ts_us")
  }

  /** foreachBatch-composable sketch accounting: append one micro-batch's
    * HLL distinct-count and KLL size-quantile rows to the [[SketchLedger]]
    * pair under `dir`, keyed by the STREAMING batch id. foreachBatch's
    * delivery contract is at-least-once — a crashed trigger re-runs the
    * same micro-batch under the SAME batchId — and that is exactly the
    * retry the ledgers' (keys, batch_id) read-path dedup absorbs, so the
    * accounting reads exactly-once without a transactional sink. Call it
    * inside the same foreachBatch body that lands the data (after the
    * landing write, the AssetIngest ordering), e.g.:
    * {{{
    *   stream.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
    *     b.write.mode("append").parquet(outDir)   // the landing
    *     StreamingOps.sketchLedgerBatch(b, id, Seq("source"), "doc_id",
    *       length(col("text")), ledgerDir)
    *   }
    * }}} */
  def sketchLedgerBatch(batch: DataFrame, batchId: Long, keys: Seq[String],
      idCol: String, sizeMetric: Column, dir: String): Unit = {
    val base = batch.withColumn("size_metric", sizeMetric.cast("double"))
      .localCheckpoint(true) // one materialization feeds both ledger appends
    try {
      if (base.limit(1).count() > 0) {
        graft.sources.SketchLedger.append(batch.sparkSession, base, keys, idCol,
          s"$dir/distinct", s"b$batchId")
        graft.sources.SketchLedger.appendQuantile(batch.sparkSession, base, keys,
          "size_metric", s"$dir/size", s"b$batchId")
        // exact sum tier (r17 parity with AssetIngest.recordSketches):
        // the per-key metric totals a ledger-only mixture plan / health
        // report reads instead of scanning the corpus
        graft.sources.SketchLedger.appendSum(batch.sparkSession, base, keys,
          "size_metric", s"$dir/sum", s"b$batchId")
      }
    } finally base.unpersist()
  }

  // --------------------------------------------------------------------
  // Continuous-ingest sinks (r17): one writer per modality composing the
  // full batch ingest loop (AssetIngest.ingest*Batch) with Structured
  // Streaming's foreachBatch. What the composition buys over hand-rolled
  // wiring, spelled out once:
  //  - the STREAMING batch id is threaded as both the landing partition
  //    id (AssetIngest.landIdempotent) and the SketchSink ledger id —
  //    stable across replays, so foreachBatch's at-least-once delivery
  //    becomes exactly-once landing (overwrite-own-partition) and
  //    exactly-once accounting ((keys, batch_id) read-path dedup);
  //  - a replayed fully-ingested batch self-heals to zero admits (every
  //    row matches its own stored copy) — the StreamingSpec restart law;
  //  - the index appends inside the loop ride their own GenStamp fences.
  // The caller supplies the checkpointLocation (stream progress) and
  // .start()s the returned writer; `onReport` surfaces each trigger's
  // IngestReport for operational accounting (driver-side, tiny).
  // --------------------------------------------------------------------

  private def ingestSink(stream: DataFrame, checkpointDir: String,
      onReport: (Long, graft.sources.AssetIngest.IngestReport) => Unit)(
      loop: (DataFrame, Long) => graft.sources.AssetIngest.IngestReport)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        onReport(id, loop(b.toDF(), id))
      }

  /** Continuous text ingest: the composed [[graft.sources.AssetIngest
    * .ingestTextBatch]] loop per micro-batch (quality gate → in-batch
    * near-dup collapse → O(batch) corpus probe → idempotent landing →
    * fenced index append → optional sketch ledgers). */
  def textIngestSink(stream: DataFrame, indexDir: String, dataDir: String,
      checkpointDir: String, minScore: Double = 0.3, threshold: Double = 0.5,
      ledgerDir: Option[String] = None,
      onReport: (Long, graft.sources.AssetIngest.IngestReport) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ingestSink(stream, checkpointDir, onReport) { (b, id) =>
      graft.sources.AssetIngest.ingestTextBatch(b.sparkSession, b, indexDir,
        dataDir, minScore, threshold,
        sketches = ledgerDir.map(graft.sources.AssetIngest.SketchSink(_, s"b$id")),
        batchId = Some(s"b$id"))
    }

  /** Continuous image ingest — [[graft.sources.AssetIngest.ingestImageBatch]]
    * per micro-batch; see [[textIngestSink]] for the delivery contract. */
  def imageIngestSink(stream: DataFrame, indexDir: String, dataDir: String,
      checkpointDir: String,
      maxHamming: Int = graft.sources.HashBanding.DefaultMaxHamming,
      minSide: Int = 8, maxSide: Int = 4096,
      ledgerDir: Option[String] = None,
      onReport: (Long, graft.sources.AssetIngest.IngestReport) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ingestSink(stream, checkpointDir, onReport) { (b, id) =>
      graft.sources.AssetIngest.ingestImageBatch(b.sparkSession, b, indexDir,
        dataDir, maxHamming, minSide, maxSide,
        sketches = ledgerDir.map(graft.sources.AssetIngest.SketchSink(_, s"b$id")),
        batchId = Some(s"b$id"))
    }

  /** Continuous audio ingest — [[graft.sources.AssetIngest.ingestAudioBatch]]
    * per micro-batch; see [[textIngestSink]] for the delivery contract. */
  def audioIngestSink(stream: DataFrame, indexDir: String, dataDir: String,
      checkpointDir: String,
      maxHamming: Int = graft.sources.HashBanding.DefaultMaxHamming,
      minSamples: Int = 1, maxSamples: Int = 16000 * 60 * 10,
      ledgerDir: Option[String] = None,
      onReport: (Long, graft.sources.AssetIngest.IngestReport) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ingestSink(stream, checkpointDir, onReport) { (b, id) =>
      graft.sources.AssetIngest.ingestAudioBatch(b.sparkSession, b, indexDir,
        dataDir, maxHamming, minSamples, maxSamples,
        sketches = ledgerDir.map(graft.sources.AssetIngest.SketchSink(_, s"b$id")),
        batchId = Some(s"b$id"))
    }

  /** Continuous video ingest — [[graft.sources.AssetIngest.ingestVideoBatch]]
    * per micro-batch; see [[textIngestSink]] for the delivery contract. */
  def videoIngestSink(stream: DataFrame, indexDir: String, dataDir: String,
      checkpointDir: String,
      maxHamming: Int = graft.sources.HashBanding.DefaultMaxHamming,
      minFrac: Double = 0.5,
      ledgerDir: Option[String] = None,
      onReport: (Long, graft.sources.AssetIngest.IngestReport) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ingestSink(stream, checkpointDir, onReport) { (b, id) =>
      graft.sources.AssetIngest.ingestVideoBatch(b.sparkSession, b, indexDir,
        dataDir, maxHamming, minFrac,
        sketches = ledgerDir.map(graft.sources.AssetIngest.SketchSink(_, s"b$id")),
        batchId = Some(s"b$id"))
    }

  /** Continuous embedding ingest — [[graft.sources.AssetIngest
    * .ingestEmbedBatch]] per micro-batch; see [[textIngestSink]] for the
    * delivery contract. */
  def embedIngestSink(stream: DataFrame, indexDir: String, dataDir: String,
      checkpointDir: String, threshold: Double = 0.99,
      maxBucket: Int = 1 << 17,
      ledgerDir: Option[String] = None,
      onReport: (Long, graft.sources.AssetIngest.IngestReport) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ingestSink(stream, checkpointDir, onReport) { (b, id) =>
      graft.sources.AssetIngest.ingestEmbedBatch(b.sparkSession, b, indexDir,
        dataDir, threshold, maxBucket,
        sketches = ledgerDir.map(graft.sources.AssetIngest.SketchSink(_, s"b$id")),
        batchId = Some(s"b$id"))
    }

  /** Streaming dedup with bounded state — twin of q_evt_dedup. */
  def dedupEvents(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Streaming exact-content dedup — the q_dedup_exact twin for a
    * document INGEST stream: the dedup key is the batch operator's exact
    * normalization (sha256 of lowercased trimmed text), and
    * `dropDuplicatesWithinWatermark` bounds the seen set to the watermark
    * horizon, so state never grows with the full corpus — the only viable
    * exact-dedup contract on an unbounded stream (global history requires
    * the batch path). Input needs `ts` and `text` columns. */
  def dedupByContent(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs.withColumn("content_key", graft.operators.DedupOps.exactKey(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_key")

  /** Streaming multimodal ingestion gate: decode every image payload with
    * the REAL JDK codec (graft.sources.ImageCodec — javax.imageio) and
    * admit only assets that decode successfully AND land inside the
    * accepted dimension envelope. Stateless (one mapPartitions per
    * micro-batch — no watermark, no state store), so throughput scales
    * with executor count; a corrupt blob becomes a dropped row, never a
    * failed stream. Survivors keep their payload and gain decoded
    * width/height/channels — exactly what the ingest sink wants to land.
    * Input needs `asset_id` and `payload` columns. */
  def imageGateStream(assets: DataFrame, minSide: Int = 8, maxSide: Int = 4096): DataFrame = {
    require(1 <= minSide && minSide <= maxSide,
      s"need 1 <= minSide <= maxSide, got ($minSide, $maxSide)")
    graft.sources.ImageCodec.annotateDecoded(assets)
      .where(col("ok") &&
        col("width").between(minSide, maxSide) &&
        col("height").between(minSide, maxSide))
      .drop("ok")
  }

  /** Streaming perceptual near-dup probe: flag images of an incoming
    * stream that perceptually duplicate anything in a persisted
    * image-hash index (ImageCodec.writeImageHashIndex) — the online twin
    * of ImageCodec.dedupImagesAgainstIndex and the admission check a
    * crawl pipeline runs per image before landing it, with no batch
    * cycle in the loop. Composes with imageGateStream: gate first
    * (decode envelope), then probe survivors; the landing sink drops
    * batch ids that appear here (foreachBatch anti-join — the same
    * discipline dedupAgainstIndexStream documents for text).
    *
    * STATELESS by construction (Append mode, no watermark): the 256-bit
    * aHash is computed per row by the same deterministic codec path as
    * the stored index, bands explode to (band_idx, band_val) rows, and
    * the candidate lookup is a stream-STATIC equi-join against the
    * stored hash table re-banded at plan time. Exactly ONE row per
    * (stream image, matched corpus image): both sides carry their full
    * band array and a row survives only if NO earlier band also agrees
    * (HashBanding.bandRowsCarried — the band-priority pick), then the
    * exact popcount filters to hamming <= maxHamming. Tombstoned corpus
    * images (deleteFromImageHashIndex) are excluded; the tombstone check
    * resolves when the streaming query is PLANNED, so a takedown lands
    * in already-running gates at their next restart. */
  def imageDedupProbeStream(assets: DataFrame, indexDir: String,
      maxHamming: Int = graft.sources.HashBanding.DefaultMaxHamming,
      cacheStatic: Boolean = false): DataFrame =
    hashProbeStream(
      graft.sources.ImageCodec.annotateWithHash(assets)
        .where(col("ok")).select("asset_id", "ahash"),
      indexDir, maxHamming, cacheStatic)

  /** Streaming perceptual audio near-dup probe — imageDedupProbeStream's
    * twin against a persisted audio-hash index
    * (AudioCodec.writeAudioHashIndex): same stateless band join, same
    * band-priority pick, same plan-time tombstone semantics; only the
    * codec differs (real WAV decode → 256-bit envelope hash). */
  def audioDedupProbeStream(assets: DataFrame, indexDir: String,
      maxHamming: Int = graft.sources.HashBanding.DefaultMaxHamming,
      cacheStatic: Boolean = false): DataFrame =
    hashProbeStream(
      graft.sources.AudioCodec.audioHashes(assets)
        .where(col("ok")).select("asset_id", "ahash"),
      indexDir, maxHamming, cacheStatic)

  /** Streaming VIDEO near-dup probe — the frame-granular member of the
    * perceptual probe family, closing the per-modality parity with
    * image/audio: flag stream videos that near-duplicate anything in a
    * persisted video-hash index (VideoCodec.writeVideoHashIndex), with
    * the SAME multiplicity-weighted best-alignment vote as the batch
    * probe (VideoCodec.dedupVideosAgainstIndex) and the same
    * containment/symmetric/minMatchedFrames dials.
    *
    * STATELESS by construction (Append mode, no watermark), which is the
    * hard part the per-asset twins never faced — the vote aggregates
    * ACROSS frames of a video pair, and a streaming groupBy would need
    * state. Three moves make it per-row instead:
    *  1. the stream side carries each video as ONE ROW with its collapsed
    *     (first_idx, cnt, ahash) frame array and frame count
    *     (VideoCodec.annotateWithFrameHashes — all per-video aggregation
    *     happens inside the row);
    *  2. the static side reads the persisted GROUPED table as-is (one
    *     row per corpus video with its collapsed frame array + count —
    *     the index stores this form at write/append time), so each
    *     micro-batch's static cost is a projection scan, never a corpus
    *     aggregation;
    *  3. candidates come from a stream-static equi-join on PACKED frame
    *     band keys (band_idx * 2^16 + band_val, distinct per video —
    *     HashBanding.packedFrameBandKeysExpr), deduplicated to EXACTLY
    *     one row per (stream video, corpus video) by the first-common-key
    *     pick: a row survives only if no smaller packed key is common to
    *     both carried key arrays — a pure per-row `array_intersect` over
    *     longs, no stream state.
    * The surviving row then computes the ENTIRE alignment vote per row
    * with HOFs over the two carried arrays: frame pairs within
    * `maxHamming` (exactly the banded candidate set — maxHamming <= 15
    * sits inside the pigeonhole recall bound, so all-pairs-within-H
    * equals the banded candidates), one weighted vote per (anchor,
    * delta) — at most one corpus frame per (anchor, delta) since
    * first_idx is unique per video — summed per delta, best delta wins.
    * Per-candidate cost is O(|A| x |C|) 4-word popcounts over COLLAPSED
    * frames; static videos are 1 entry each, so the screencast flood
    * case stays O(1) per pair exactly as in the batch engine.
    *
    * Tombstoned corpus videos (deleteFromVideoHashIndex) are excluded
    * from hashes AND counts at PLAN time — a takedown lands in running
    * gates at their next restart, matching the other probe streams. */
  def videoDedupProbeStream(assets: DataFrame, indexDir: String,
      maxHamming: Int = graft.sources.HashBanding.DefaultMaxHamming,
      minFrac: Double = 0.5, symmetric: Boolean = false,
      minMatchedFrames: Long = 0L, cacheStatic: Boolean = false): DataFrame = {
    import graft.sources.{HashBanding, VideoCodec}
    val s = assets.sparkSession
    VideoCodec.requireVideoMeta(s, indexDir)
    require(maxHamming >= 0 && maxHamming <= HashBanding.MaxGuaranteedHamming,
      s"banding only guarantees recall for Hamming <= " +
        s"${HashBanding.MaxGuaranteedHamming}, got $maxHamming")
    require(minFrac > 0.0 && minFrac <= 1.0, s"minFrac must be in (0, 1], got $minFrac")
    require(minMatchedFrames >= 0L, s"minMatchedFrames must be >= 0, got $minMatchedFrames")
    val streamRows = VideoCodec.annotateWithFrameHashes(assets)
      .where(col("ok"))
      .select(col("asset_id").as("batch_id"), col("n_frames").as("n_batch"),
        col("fhashes").as("bhashes"))
      .withColumn("b_keys", expr(HashBanding.packedFrameBandKeysExpr("bhashes")))
      .select(col("batch_id"), col("n_batch"), col("bhashes"), col("b_keys"),
        explode(col("b_keys")).as("band_key"))
    // static side: a PROJECTION-ONLY scan of the persisted grouped table
    // (one row per corpus video with its collapsed frame array + count,
    // written at index write/append time) — the band keys and the
    // explode are per-row compute, so the per-micro-batch static cost is
    // a scan + generate, never a corpus-wide aggregation
    // (ProbeStreamPlanSpec pins the static subtree).
    val corpusRows = maybeCache(s, indexDir, "grouped", cacheStatic)(
        VideoCodec.HashIndex.live(s, indexDir)
        .select(col("asset_id").as("corpus_id"), col("chashes"),
          col("n_frames").as("n_corpus"))
        .withColumn("c_keys", expr(HashBanding.packedFrameBandKeysExpr("chashes"))))
      .select(col("corpus_id"), col("n_corpus"), col("chashes"), col("c_keys"),
        explode(col("c_keys")).as("band_key"))
    val ham = HashBanding.hammingExpr("a.ahash", "c.ahash")
    val denom =
      if (symmetric) greatest(col("n_batch"), col("n_corpus"))
      else least(col("n_batch"), col("n_corpus"))
    streamRows.join(corpusRows, Seq("band_key"))
      // first-common-key pick: exactly one surviving row per pair
      .where(expr("size(array_intersect(filter(b_keys, k -> k < band_key), c_keys)) = 0"))
      .withColumn("matches", expr(
        s"flatten(transform(bhashes, a -> transform(" +
          s"filter(chashes, c -> ($ham) <= $maxHamming), " +
          "c -> named_struct('delta', a.first_idx - c.first_idx, " +
          "'w', least(a.cnt, c.cnt)))))"))
      .withColumn("aligned_frames", expr(
        "array_max(transform(array_distinct(transform(matches, m -> m.delta)), " +
          "d -> aggregate(filter(matches, m -> m.delta = d), CAST(0 AS BIGINT), " +
          "(acc, m) -> acc + m.w)))"))
      .where(col("aligned_frames") >= denom * minFrac &&
        col("aligned_frames") >= minMatchedFrames)
      .select(col("batch_id"), col("corpus_id"), col("aligned_frames"),
        col("n_batch"), col("n_corpus"))
  }

  /** Streaming EMBEDDING near-dup probe — the VECTOR member of the probe
    * family, completing per-modality parity (text
    * dedupAgainstIndexStream, image/audio hashProbeStream twins, video
    * videoDedupProbeStream): flag stream vectors that near-duplicate
    * anything in a persisted embedding-LSH index
    * (VectorOps.writeEmbedLshIndex). STATELESS (Append, no watermark):
    * the stream side computes its banded BIGINT buckets per row with the
    * native graft_lsh_buckets kernel against the meta-pinned plane
    * family (the index writer's own expression — bit-compatible by
    * construction); candidates come from the stream-static (label, band,
    * bucket) equi-join; the band-priority pick (drop the row if any
    * EARLIER band also agrees — both sides carry their ordered bucket
    * arrays) yields exactly one row per (stream vector, corpus vector)
    * before the exact `graft_dot` refine against the stored embeddings.
    * Tombstoned corpus vectors (deleteFromEmbedLshIndex) resolve at PLAN
    * time — a takedown lands in running gates at their next restart,
    * matching every other probe stream. */
  def embedDedupProbeStream(vecs: DataFrame, indexDir: String,
      threshold: Double = 0.99, cacheStatic: Boolean = false): DataFrame = {
    import graft.operators.VectorOps
    val s = vecs.sparkSession
    graft.functions.GraftFunctions.register(s)
    val meta = VectorOps.requireEmbedLshMeta(s, indexDir)
    val nPlanes = meta.getAs[Int]("n_planes")
    val bands = meta.getAs[Int]("bands")
    val dim = meta.getAs[Int]("dim")
    val seed = meta.getAs[Long]("seed")
    // writeEmbedLshIndex validates at write time; corrupt meta must fail
    // loudly, not silently band-truncate (quietly reduced recall)
    require(nPlanes % bands == 0,
      s"index meta: bands ($bands) must divide n_planes ($nPlanes)")
    require(nPlanes / bands <= 62,
      s"index meta: band width ${nPlanes / bands} overflows the BIGINT bucket")
    // per-row native signing with the meta-pinned plane family — the same
    // codegen'd expression the index writer uses, so stream signatures
    // are bit-compatible with the stored cbuckets by construction
    val sig = vecs.withColumn("sbuckets",
      call_function("graft_lsh_buckets", col("embedding"),
        typedlit(VectorOps.lshPlanes(nPlanes, dim, seed)), lit(bands)))
    val bandRows = sig.select(col("vec_id").as("batch_id"), col("label"),
      col("embedding").as("eb"), col("sbuckets"),
      posexplode(col("sbuckets")).as(Seq("band", "bucket")))
    // static side: a PROJECTION-ONLY scan of the persisted grouped
    // signature table (`cbuckets` — one ordered bucket array per corpus
    // vector, written at index write/append time), re-exploded per row —
    // never a per-micro-batch corpus re-aggregation
    // (ProbeStreamPlanSpec pins the static subtree).
    val idx = maybeCache(s, indexDir, "cbuckets", cacheStatic)(
        VectorOps.EmbedLshIndex.live(s, indexDir))
      .select(col("vec_id").as("corpus_id"), col("label").as("label_c"), col("cbuckets"),
        posexplode(col("cbuckets")).as(Seq("band_c", "bucket_c")))
    val cemb = maybeCache(s, indexDir, "embeddings", cacheStatic)(
        VectorOps.EmbedLshIndex.live(s, indexDir, "embeddings")
        .select(col("vec_id").as("corpus_id"), col("embedding").as("ec")))
    bandRows
      .join(idx, col("label") === col("label_c") && col("band") === col("band_c") &&
        col("bucket") === col("bucket_c"))
      // band-priority pick: drop the row if any EARLIER band also agrees
      .where(expr("size(filter(zip_with(slice(sbuckets, 1, band), " +
        "slice(cbuckets, 1, band), (x, y) -> x = y), v -> v)) = 0"))
      .join(cemb, "corpus_id")
      .withColumn("sim", round(expr("graft_dot(eb, ec)"), 6))
      .where(col("sim") >= threshold)
      .select(col("batch_id"), col("label"), col("corpus_id"), col("sim"))
  }

  /** Opt-in static-side cache for the probe gates (`cacheStatic`):
    * persist the post-tombstone index frame MEMORY_AND_DISK so each
    * trigger reads cached blocks instead of re-scanning parquet. The
    * probe smoke measured the parquet re-scan as the only per-trigger
    * corpus-dependent cost (BASELINE.md r12 table); caching flattens it
    * for indexes that fit the cluster's storage memory. Deliberately
    * OFF by default: a 100 TB index cannot be cached, and the uncached
    * scan degrades gracefully — turn it on per deployment when the
    * index is known to fit (past that size, the band-partitioned
    * foreachBatch probe is the flat-latency shape — BASELINE.md r15).
    * Cached frames live in [[StaticCache]]: one entry per
    * (indexDir, slot), reused across stream restarts while the index
    * bytes are unchanged, rebuilt (stale entry unpersisted) when an
    * append/compaction/tombstone changes the directory fingerprint, and
    * freed explicitly with `StaticCache.release(indexDir)`. */
  private def maybeCache(s: SparkSession, indexDir: String, slot: String,
      on: Boolean)(build: => DataFrame): DataFrame =
    if (on) StaticCache.cached(s, indexDir, slot)(build) else build

  /** The modality-agnostic engine under the perceptual probe gates: a
    * hashed stream frame (asset_id, ahash) against a stored hash index. */
  private def hashProbeStream(hashed: DataFrame, indexDir: String,
      maxHamming: Int, cacheStatic: Boolean = false): DataFrame = {
    import graft.sources.HashBanding
    val s = hashed.sparkSession
    HashBanding.requireMeta(s, indexDir)
    require(maxHamming >= 0 && maxHamming <= HashBanding.MaxGuaranteedHamming,
      s"banding only guarantees recall for Hamming <= " +
        s"${HashBanding.MaxGuaranteedHamming}, got $maxHamming")
    val streamBands = HashBanding.bandRowsCarried(hashed, "batch_id", "b_hash", "b_bands")
    val stored = maybeCache(s, indexDir, "hashes", cacheStatic)(
      HashBanding.FlatHashes.live(s, indexDir))
    val corpusBands = HashBanding.bandRowsCarried(stored, "corpus_id", "c_hash", "c_bands")
    streamBands.join(corpusBands, Seq("band_idx", "band_val"))
      // band-priority pick: drop the row if any EARLIER band also agrees
      .where(expr("size(filter(zip_with(slice(b_bands, 1, band_idx), " +
        "slice(c_bands, 1, band_idx), (x, y) -> x = y), v -> v)) = 0"))
      .withColumn("hamming",
        expr(HashBanding.hammingExpr("b_hash", "c_hash")).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("batch_id"), col("corpus_id"), col("hamming"))
  }

  /** Streaming audio ingestion gate — imageGateStream's twin: real WAV
    * decode per micro-batch, admit only PCM16 assets whose sample count
    * lands inside [minSamples, maxSamples] (duration envelope). Stateless;
    * corrupt/unsupported payloads become dropped rows. */
  def audioGateStream(assets: DataFrame, minSamples: Int = 1,
      maxSamples: Int = 16000 * 60 * 10): DataFrame = {
    require(1 <= minSamples && minSamples <= maxSamples,
      s"need 1 <= minSamples <= maxSamples, got ($minSamples, $maxSamples)")
    graft.sources.AudioCodec.annotateDecoded(assets)
      .where(col("ok") && col("n_samples").between(minSamples, maxSamples))
      .drop("ok")
  }

  /** Streaming video ingestion gate — the image/audio gates' twin:
    * container parse + FRAME-0 decode per micro-batch (admission needs
    * one frame, not a full scan), admit only parsable containers whose
    * frame count lands in [minFrames, maxFrames] and whose display
    * dimensions fit the envelope. Stateless; corrupt containers become
    * dropped rows. */
  def videoGateStream(assets: DataFrame, minFrames: Int = 1,
      maxFrames: Int = 1 << 20, minSide: Int = 8, maxSide: Int = 4096): DataFrame = {
    require(1 <= minFrames && minFrames <= maxFrames,
      s"need 1 <= minFrames <= maxFrames, got ($minFrames, $maxFrames)")
    require(1 <= minSide && minSide <= maxSide,
      s"need 1 <= minSide <= maxSide, got ($minSide, $maxSide)")
    graft.sources.VideoCodec.annotateDecoded(assets)
      .where(col("ok") &&
        col("n_frames").between(minFrames, maxFrames) &&
        col("width").between(minSide, maxSide) &&
        col("height").between(minSide, maxSide))
      .drop("ok")
  }

  /** Streaming curation: the CurationPipeline composition on an ingest
    * stream — redact and quality-gate are stateless per-row maps (they
    * run unchanged in a micro-batch), and the dedup stage is the
    * watermark-bounded content dedup above. The batch pipeline's split
    * assignment applies downstream of the sink (it needs no state); what
    * CANNOT stream is global-history dedup — that remains the batch
    * path's job, which is exactly the horizon contract dedupByContent
    * declares. Input needs `ts` and `text`. */
  def curateStream(docs: DataFrame, minScore: Double = 0.3,
      watermark: String = "1 hour"): DataFrame = {
    val redacted = docs.withColumn("text", regexp_replace(col("text"), "[0-9]+", "<NUM>"))
    val scored = redacted
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tok", size(col("toks")))
      .transform(graft.operators.CurationOps.withQualityScore)
      .where(col("score") >= minScore)
      .drop("toks", "stop_ratio")
    dedupByContent(scored, watermark)
  }

  /** Stream-stream interval join: (click, purchase) pairs for the same
    * user with the purchase at most `withinHours` after the click. BOTH
    * sides are watermarked and the join condition bounds event time in
    * both directions, so Spark can compute the state horizon and evict —
    * the required shape for an unbounded 100 TB/day stream-stream join
    * (an unconstrained stream-stream join would keep both sides forever).
    */
  def clickToPurchase(events: DataFrame, withinHours: Int = 1,
      watermark: String = "10 minutes"): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", watermark)
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $withinHours HOUR"))
      .select(col("c_user").as("user_id"), col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Stream-static enrichment join: the static dimension is planned per
    * micro-batch (fresh broadcast each trigger — dimension updates are
    * picked up), the stream side never shuffles. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left_outer")

  /** Idempotent micro-batch append: each batch lands in its own
    * `batch_id=N` partition via DYNAMIC partition overwrite, so the batch
    * a failed query re-runs on recovery OVERWRITES its own partition
    * instead of double-appending — at-least-once replay becomes
    * exactly-once storage without a transaction log. Readers get the
    * usual partition pruning on batch_id. */
  def idempotentBatchAppend(batch: DataFrame, batchId: Long, dataPath: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .tableWrite.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(dataPath)

  /** Exactly-once parquet sink: foreachBatch + idempotentBatchAppend.
    * The checkpoint dir carries stream progress; replays are absorbed by
    * the per-batch partition overwrite. */
  def exactlyOnceParquetSink(stream: DataFrame, dataPath: String,
      checkpointDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        idempotentBatchAppend(b.toDF(), id, dataPath))

  /** Custom sessionization with BOUNDED state — the §2.J arbitrary-state
    * row proper: `flatMapGroupsWithState(Append, EventTimeTimeout)`.
    *
    * Per user, events within `gap` of each other extend the open session
    * kept in GroupState; a larger in-batch gap closes a session and emits
    * it immediately. The open session is closed and emitted by the
    * EVENT-TIME TIMEOUT when the watermark passes lastEvent + gap, and
    * `state.remove()` drops it — state never outlives the watermark
    * horizon, so a 100 TB/day stream holds at most one open session per
    * active user, not an ever-growing map (the NoTimeout runningUserAggs
    * below is the unbounded contrast case, kept for the running-aggregate
    * semantics).
    *
    * Input must already carry a watermark on `ts` (the caller's
    * `withWatermark`) — EventTimeTimeout requires one. */
  def sessionizeWithTimeout(ds: Dataset[Ev], gapMinutes: Int = 30,
      watermark: String = "10 minutes"): Dataset[SessionOut] = {
    import ds.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000
    ds.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastEvent + gap: close, emit, DROP state
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, new java.sql.Timestamp(s.startMs),
              new java.sql.Timestamp(s.lastMs), s.n))
          } else {
            // Spark does NOT pre-filter watermark-late rows for
            // flatMapGroupsWithState — drop them here explicitly, or an
            // ancient replayed event reaches the fold below.
            val wm = state.getCurrentWatermarkMs()
            val sorted = evs.map(_.ts.getTime).filter(_ >= wm).toArray.sorted
            var cur = state.getOption
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            // Events older than the open session's merge window (t <
            // startMs - gap) are ORPHANS: they can never extend the open
            // session, but adjacent orphans within `gap` of EACH OTHER
            // still form one session — emitting each as its own 1-event
            // fragment would over-split (round-3 advice). So gap-fold the
            // orphan group among themselves first. Every orphan session
            // closes immediately: its last event is > gap older than the
            // open session's start, so no later event can extend it.
            // (Append-mode caveat stands: an orphan session is final on
            // emission and may overlap sessions emitted in prior batches
            // — inherent to late data under a watermark wider than the
            // gap, not repairable in Append mode.)
            val (orphans, live) = cur match {
              case Some(s) => sorted.partition(_ < s.startMs - gapMs)
              case None    => (Array.empty[Long], sorted)
            }
            var orph: Option[SessState] = None
            def flushOrphan(): Unit = orph.foreach { o =>
              out += SessionOut(uid, new java.sql.Timestamp(o.startMs),
                new java.sql.Timestamp(o.lastMs), o.n)
            }
            orphans.foreach { t =>
              orph match {
                case Some(o) if t - o.lastMs <= gapMs =>
                  orph = Some(SessState(o.startMs, t, o.n + 1))
                case _ =>
                  flushOrphan()
                  orph = Some(SessState(t, t, 1))
              }
            }
            flushOrphan()
            // fold the in-window events into sessions; in-batch gaps
            // close eagerly
            live.foreach { t =>
              cur match {
                // merge only when t is genuinely within `gap` of the open
                // session's SPAN (t >= startMs - gap holds for all live
                // events by the partition above and stays true as later,
                // larger t only ever raise startMs's floor)
                case Some(s) if t - s.lastMs <= gapMs =>
                  cur = Some(SessState(math.min(s.startMs, t), math.max(s.lastMs, t), s.n + 1))
                case Some(s) =>
                  out += SessionOut(uid, new java.sql.Timestamp(s.startMs),
                    new java.sql.Timestamp(s.lastMs), s.n)
                  cur = Some(SessState(t, t, 1))
                case None =>
                  cur = Some(SessState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // fire when the watermark passes the session-close boundary;
              // guard against a boundary already behind the watermark
              // (then the very next trigger times the group out)
              val wm = state.getCurrentWatermarkMs()
              state.setTimeoutTimestamp(math.max(s.lastMs + gapMs, wm + 1))
            }
            out.iterator
          }
      }
  }

  /** Arbitrary stateful processing: running per-user count/total kept in
    * GroupState, emitted on every update (mapGroupsWithState). */
  def runningUserAggs(ds: Dataset[Ev]): Dataset[UserAgg] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[UserAgg]) =>
          val prev = state.getOption.getOrElse(UserAgg(uid, 0L, 0.0))
          var n = prev.n
          var total = prev.total
          evs.foreach { e => n += 1; total += e.value }
          // state keeps the RAW total — rounding state would compound the
          // rounding error across micro-batches; round only the emission
          state.update(UserAgg(uid, n, total))
          UserAgg(uid, n, math.rint(total * 100) / 100)
      }
  }
}
