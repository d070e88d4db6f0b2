package graft.operators

import graft.{Q, Tables}
import graft.functions.GraftFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` (SURVEY §2.I). Tokenization is
  * a codegen'd `split` — no UDFs in the hot path, so whole-stage codegen
  * keeps the scan→project→agg pipeline fused.
  */
object TextOps {

  val queries: Map[String, Q] = Map(
    // The core BPE-training step over the corpus: count ADJACENT token
    // pairs and emit the top merge candidates — one map-side array
    // transform per doc (pairs derive from the token array in place, no
    // positional self-join or per-doc window), then a keyed count and a
    // TakeOrderedAndProject. At 100 TB this is one scan + one shuffle
    // whose key space is the pair vocabulary, exactly how a distributed
    // tokenizer trainer computes merge frequencies per iteration.
    "q_bpe_pairs" -> ((s, d) => {
      Tables.documents(s, d)
        .select(split(col("text"), " ").as("toks"))
        .where(size(col("toks")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(toks) - 2), i -> " +
            "struct(element_at(toks, i + 1) AS a, element_at(toks, i + 2) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(100)
    }),

    // CCNet-style unigram LM quality score: train token frequencies over
    // the corpus, score each doc by its mean token log-probability
    // (low = gibberish / rare-token floods, the classic perplexity-style
    // quality filter). Two shuffles at any scale: the vocab-keyed count
    // (map-side combined) and the doc-keyed fold; the corpus total rides
    // as ONE broadcast row, and ln(p) = ln(cnt) - ln(total) keeps the
    // per-term arithmetic association-free (the q_evt_entropy rounding
    // discipline).
    "q_unigram_logprob" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val counts = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum("cnt").as("total"))
      // NAMED SKEW (r16 audit): this joins the exploded token stream on
      // the Zipf-distributed `tok` key — the head token carries a
      // constant fraction of all rows. At bench scale the vocab side
      // broadcasts (no skew cost); at 100 TB it outgrows broadcast and
      // the SMJ shuffle keys on the skewed stream, where AQE skew-split
      // is the mitigation. A per-doc partial count (doc_id × tok → n)
      // before the join would shrink the stream by the in-doc
      // repetition factor; it is left out here because the oracle's
      // per-token sum(log(cnt)) arithmetic must match term-for-term.
      toks.join(counts, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum(log(col("cnt"))).as("slp"))
        .crossJoin(broadcast(total))
        .select(col("doc_id"), col("n_tok"),
          round(col("slp") / col("n_tok") - log(col("total")), 4).as("logprob"))
        .orderBy("doc_id")
    }),

    // Per-language corpus stats: doc counts, avg chars, avg tokens.
    "q_text_stats" -> ((s, d) => {
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("docs"),
          round(avg("n_chars"), 4).as("avg_chars"),
          round(avg(size(split(col("text"), " "))), 4).as("avg_tokens"))
        .orderBy("lang")
    }),

    // Tokenize → explode (Catalyst Generator) → top-20 token counts.
    "q_str_split_explode" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)
    }),

    // Array builtins over the token array.
    "q_array_funcs" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("tokens", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("tokens")).as("n_tok"),
          size(array_distinct(col("tokens"))).as("n_uniq"),
          array_contains(col("tokens"), "spark").as("has_spark"),
          // joined to a scalar string: the driver's pandas hasher cannot
          // sort/hash array cells (round-1 CORRECTNESS err)
          array_join(slice(sort_array(array_distinct(col("tokens"))), 1, 5), " ")
            .as("first5"),
          size(flatten(array(col("tokens"), col("tokens")))).as("n2"))
        .orderBy("doc_id")
    }),

    // Higher-order functions: filter → transform → aggregate, all Catalyst
    // lambda expressions (no UDF serialization).
    "q_array_hof" -> ((s, d) => {
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          expr("aggregate(transform(filter(split(text, ' '), t -> length(t) >= 5), " +
            "t -> length(t)), 0, (acc, x) -> acc + x)").as("chars5"))
        .orderBy("doc_id")
    }),

    // Language ID by marker-token votes (n-gram heuristic, deterministic
    // tie-break by fixed priority). Markers drawn from the corpus vocab.
    "q_lang_id" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("s_en", expr("size(filter(toks, t -> array_contains(array('order','table','row'), t)))"))
        .withColumn("s_de", expr("size(filter(toks, t -> array_contains(array('customer','merge'), t)))"))
        .withColumn("s_es", expr("size(filter(toks, t -> array_contains(array('slow','agg'), t)))"))
        .withColumn("s_fr", expr("size(filter(toks, t -> array_contains(array('scan','query'), t)))"))
        .withColumn("s_zh", expr("size(filter(toks, t -> array_contains(array('small','big'), t)))"))
        .withColumn("pred", expr(
          "CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en' " +
            "WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de' " +
            "WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es' " +
            "WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END"))
        .select(col("doc_id"), col("lang"), col("pred"), (col("pred") === col("lang")).as("hit"))
        .orderBy("doc_id")
    }),

    // Quality scoring: token count, avg word length, stopword ratio,
    // composite score + bucket. Per-row fixed-order double arithmetic —
    // emitted raw (bit-identical cross-engine; rounding would not be).
    "q_text_quality" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tok", size(col("toks")))
        .withColumn("avg_wlen",
          (col("n_chars") - (col("n_tok") - 1)).cast("double") / col("n_tok"))
        .transform(CurationOps.withQualityScore)
        .withColumn("bucket",
          when(col("score") >= 0.5, "high").when(col("score") >= 0.3, "mid").otherwise("low"))
        .select("doc_id", "n_tok", "avg_wlen", "stop_ratio", "score", "bucket")
        .orderBy("doc_id")
    }),

    // Token counting three ways: whitespace, BPE-ish regex pieces, and the
    // chars/4 estimate.
    "q_token_count" -> ((s, d) => {
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          size(split(col("text"), " ")).as("ws_tokens"),
          expr("size(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0))").as("bpe_ish"),
          ceil(col("n_chars") / 4.0).cast("bigint").as("est_tokens"))
        .orderBy("doc_id")
    }),

    // PII-style redaction: numeric runs (the stand-in for phone/account
    // numbers in this corpus) are replaced with a placeholder and counted.
    // Pure per-row regex projection — codegen'd, no shuffle, the shape a
    // 100 TB scrub pass needs. Patterns stay in the RE2 ∩ Java-regex
    // common subset so the DuckDB oracle runs them verbatim.
    "q_text_redact" -> ((s, d) => {
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          regexp_replace(col("text"), "[0-9]+", "<NUM>").as("redacted"),
          expr("size(regexp_extract_all(text, '[0-9]+', 0))").as("n_hits"))
        .orderBy("doc_id")
    }),

    // Vocabulary build: top-50 tokens by collection frequency with doc
    // frequency and a running cumulative count — the vocab/coverage-curve
    // artifact of a tokenizer-training pipeline. The top-50 cut is
    // orderBy+limit (TakeOrderedAndProject: per-partition partial top-k,
    // 50 rows per map task reach the driver-side merge) — NOT a global
    // row_number window, which Spark's WindowGroupLimit does not prune
    // when partitionBy is empty, so a billion-token vocabulary would
    // funnel through one reducer. The windows then rank/accumulate over
    // just the 50 survivors.
    "q_vocab_topk" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val vocab = tok.groupBy("token")
        .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
      val top = vocab.orderBy(col("cf").desc, col("token").asc).limit(50)
      val w = Window.orderBy(col("cf").desc, col("token").asc)
      top.withColumn("rank", row_number().over(w))
        .withColumn("cum_cf", sum("cf").over(
          Window.orderBy(col("rank").asc).rowsBetween(Window.unboundedPreceding, 0)))
        .select("rank", "token", "cf", "df", "cum_cf")
        .orderBy("rank")
    }),

    // Deterministic train/val/test split on a PORTABLE content hash: the
    // first hex digit of md5(doc_id) buckets 12/16 train, 2/16 val,
    // 2/16 test — reproducible across engines and runs (md5 agrees
    // between Spark and DuckDB; xxhash64 would not), per-row map with no
    // shuffle, so the assignment scales to any corpus and any engine
    // re-run lands every doc in the same split.
    "q_sample_split" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("h", substring(md5(col("doc_id").cast("string")), 1, 1))
        .withColumn("split",
          when(col("h") < "c", "train").when(col("h") < "e", "val").otherwise("test"))
        .select("doc_id", "split")
        .orderBy("doc_id")
    }),

    // Stratified subsample: exactly 5 docs per language, picked by md5
    // order within the stratum — the "balance the languages" curation
    // step. The md5 ordering is a portable deterministic shuffle (same
    // pick on any engine, any run, any partitioning — Spark's sampleBy
    // is seeded but per-partition, so its picks change with the split);
    // one shuffle on the stratum key, the per-stratum sort is top-k
    // pruned by the rank filter.
    "q_sample_stratified" -> ((s, d) => {
      val w = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")).asc, col("doc_id").asc)
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .select("lang", "doc_id", "rn")
        .orderBy("lang", "rn")
    }),

    // tf-idf: top-3 terms per language by summed tf·idf. Two aggregations
    // + one broadcast-able join on term; the corpus size N is joined in as
    // a 1-row broadcast rather than a driver-side collect.
    "q_tfidf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tok = docs.select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("term"))
      val tf = tok.groupBy("doc_id", "lang", "term").agg(count(lit(1)).as("tf"))
      val df = tok.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val sc = tf.join(df, "term").crossJoin(broadcast(n))
        .withColumn("tfidf", col("tf") * log(col("n").cast("double") / col("df")))
        .groupBy("lang", "term")
        .agg(round(sum("tfidf"), 6).as("score"))
      val w = Window.partitionBy("lang").orderBy(col("score").desc, col("term").asc)
      sc.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select("lang", "term", "score", "rn")
        .orderBy(col("lang").asc, col("rn").asc)
    }),

    // Ranked text SEARCH: score every document against a fixed query by
    // summed tf·idf of matched terms, return the top-10 — the classic
    // inverted-index retrieval shape (the lexical complement of
    // q_knn_cosine's dense retrieval; q_sim_sparse is the doc-to-doc
    // variant). The term filter lands FIRST, so the per-term stats and
    // the scoring join touch only the query terms' postings — at scale
    // that is exactly an inverted-index lookup, never a vocabulary-wide
    // pass; doc frequencies and corpus size N ride as tiny broadcasts.
    // PHRASE search — the retrieval face tokenized search cannot
    // express ("join order" as an adjacent pair, not two independent
    // terms): per-doc exact-occurrence counting via substring-delete
    // arithmetic ((len - len(remove(phrase))) / len(phrase) — pure
    // integer result, identical in both engines on this ASCII corpus),
    // ranked with the doc id as the total tiebreak. Scale shape: one
    // scan, codegen'd string kernel per row, TakeOrdered top-k — no
    // shuffle of the corpus; a positional-postings index is the
    // at-scale twin the same way TextIndex twins the term searches
    // (posture documented, not built: the term-bucket layout carries
    // no positions by design — the honest cost note for phrase
    // workloads).
    "q_text_search_phrase" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("hits",
          ((length(col("text")) -
            length(expr("replace(text, 'join order', '')"))) / lit(10))
            .cast("bigint"))
        .where(col("hits") > 0)
        .select("doc_id", "hits")
        .orderBy(col("hits").desc, col("doc_id").asc)
        .limit(15)
    }),

    // The SAME phrase search answered from the POSITIONAL index tier
    // (r18; the q_text_search_indexed recipe): build the index into the
    // per-run scratch scope, answer "join order" from the pruned
    // positional postings (adjacency fold over per-doc position maps),
    // and hash-gate against the q_text_search_phrase ORACLE's substring
    // scan — a dropped position, a sort bug in the positions array, or
    // an off-by-one in the adjacency fold hash-fails loudly. The
    // substring == token-adjacency equivalence holds on this corpus
    // (closed 31-token vocabulary, no cross-token aliasing, phrase of
    // distinct tokens; TextIndexSpec pins it for several phrases).
    "q_text_search_phrase_indexed" -> ((s, d) => {
      val dir = graft.plans.Scale.scratch(s, "phraseidx", d) + "/idx"
      // exists-check (r18 verdict nit): the batch/slop siblings share
      // this scratch index — whichever of the three runs first builds,
      // the others reuse instead of paying a corpus pass each
      if (!graft.sources.TextIndex.exists(s, dir))
        graft.sources.TextIndex.build(s, dir, Tables.documents(s, d))
      graft.sources.TextIndex.searchPhrase(s, dir, Seq("join", "order"), 15)
    }),

    // PROXIMITY (slop) phrase search from the positional tier (r19,
    // closing the r18 verdict's #4): "join ... order" with at most one
    // intervening token — the NEAR/k face every positional index gets
    // asked for next. The adjacency fold generalizes per step to a
    // [p+1, p+1+slop] window expansion before the intersect, entirely
    // inside the same per-doc projection over the pruned positional
    // postings; slop=0 degenerates to the exact phrase (TextIndexSpec
    // law). `hits` counts distinct MATCH-END positions, which is what
    // the oracle's token-level scan counts too — the planted-structure-
    // free recipe works here because the counting rule is position-
    // exact on both sides (no substring aliasing in play at all).
    "q_text_search_phrase_slop" -> ((s, d) => {
      val dir = graft.plans.Scale.scratch(s, "phraseidx", d) + "/idx"
      if (!graft.sources.TextIndex.exists(s, dir))
        graft.sources.TextIndex.build(s, dir, Tables.documents(s, d))
      graft.sources.TextIndex.searchPhrase(s, dir, Seq("join", "order"), 15,
        slop = 1)
    }),

    // BATCH phrase retrieval from the positional tier — two phrases of
    // DIFFERENT lengths scored in one job (the searchBatchBm25 parity
    // rule applied to phrases); oracle = per-phrase substring counting
    // with a per-qid rank window. One phrase legitimately matches
    // nothing at some scale factors — the absent-leg behavior is part
    // of what the gate pins.
    "q_text_search_phrase_batch" -> ((s, d) => {
      import s.implicits._
      val dir = graft.plans.Scale.scratch(s, "phraseidx", d) + "/idx"
      if (!graft.sources.TextIndex.exists(s, dir))
        graft.sources.TextIndex.build(s, dir, Tables.documents(s, d))
      val qs = Seq((1, 0, "join"), (1, 1, "order"),
        (2, 0, "the"), (2, 1, "fast"), (2, 2, "key")).toDF("qid", "pos", "term")
      graft.sources.TextIndex.searchPhraseBatch(s, dir, qs, 10)
    }),

    "q_text_search" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val qtok = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .where(col("term").isin("data", "vector", "stream"))
      val tf = qtok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dft = qtok.groupBy("term").agg(countDistinct(col("doc_id")).as("dfc"))
      val n = docs.agg(count(lit(1)).as("n"))
      tf.join(broadcast(dft), "term").crossJoin(broadcast(n))
        .withColumn("w", col("tf") * log(col("n").cast("double") / col("dfc")))
        .groupBy("doc_id")
        .agg(round(sum("w"), 6).as("score"), count(lit(1)).as("matched"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(10)
    }),

    // BM25 ranked retrieval — q_text_search's production scoring: Okapi
    // BM25 (k1 = 1.2, b = 0.75) replaces raw tf·idf with a saturating tf
    // and document-length normalization, the default of every lexical
    // retriever (Lucene/Elasticsearch, and the BM25 baseline in every
    // retrieval paper). Plan shape is IDENTICAL to q_text_search — the
    // term filter lands first so stats and scoring touch only the query
    // terms' postings (an inverted-index lookup at scale); the two corpus
    // scalars BM25 adds (N and avgdl) ride together as ONE broadcast row,
    // never a driver collect. idf is the Lucene form
    // ln((N - df + 0.5) / (df + 0.5) + 1), always positive. Every input
    // (tf, dl, df, N) is an exact integer and avgdl an exact integer
    // mean, so the closed form is cross-engine reproducible; the 4dp
    // round keeps an ulp of ln/÷ drift from flipping the oracle.
    "q_text_search_bm25" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val qtok = docs
        .select(col("doc_id"), size(split(col("text"), " ")).as("dl"),
          explode(split(col("text"), " ")).as("term"))
        .where(col("term").isin("data", "vector", "stream"))
      val tf = qtok.groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      val dft = qtok.groupBy("term").agg(countDistinct(col("doc_id")).as("dfc"))
      val stats = docs.agg(count(lit(1)).as("n"),
        avg(size(split(col("text"), " ")).cast("double")).as("avgdl"))
      tf.join(broadcast(dft), "term").crossJoin(broadcast(stats))
        .withColumn("w",
          log((col("n").cast("double") - col("dfc") + 0.5) / (col("dfc") + 0.5) + 1.0) *
            (col("tf") * 2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy("doc_id")
        .agg(round(sum("w"), 4).as("score"), count(lit(1)).as("matched"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(10)
    }),

    // Interpolated BIGRAM LM quality score — the next-order sibling of
    // q_unigram_logprob: P(w2|w1) ≈ 0.75·c(w1,w2)/c(w1·) +
    // 0.25·c(·w2)/total, all counts from the corpus's own bigram
    // stream, per-doc mean log-prob as the fluency signal (a repetitive
    // or shuffled-token doc scores visibly lower than under the unigram
    // model, which only sees token frequency). Plan: one bigram
    // derivation (map-side transform, no shuffle), three count
    // aggregates, then the scoring joins back onto the stream — the
    // same NAMED Zipf skew as q_unigram_logprob applies to the w1/w2
    // keys (AQE skew-split at scale); the corpus total rides as ONE
    // broadcast row. Arithmetic association mirrored term-for-term in
    // the oracle; 4dp round absorbs ulp drift.
    "q_bigram_logprob" -> ((s, d) => {
      val bp = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("l"))
        .where(size(col("l")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(l) - 2), i -> " +
            "struct(element_at(l, i + 1) AS w1, element_at(l, i + 2) AS w2))")).as("p"))
        .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
      val cb = bp.groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
      val cu1 = bp.groupBy("w1").agg(count(lit(1)).as("cu1"))
        .withColumnRenamed("w1", "u1")
      val cu2 = bp.groupBy("w2").agg(count(lit(1)).as("cu2"))
        .withColumnRenamed("w2", "u2")
      val tot = bp.agg(count(lit(1)).as("total"))
      bp.join(cb, Seq("w1", "w2"))
        .join(cu1, col("w1") === col("u1"))
        .join(cu2, col("w2") === col("u2"))
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_big"),
          round(sum(log(lit(0.75) * col("cb") / col("cu1") +
            lit(0.25) * col("cu2") / col("total"))) / count(lit(1)), 4).as("logprob"))
        .orderBy("doc_id")
    }),

    // BATCH BM25 retrieval — many queries scored in ONE job (the
    // RAG-evaluation shape: a query set joins the token stream on the
    // term key instead of filtering by literals, so one corpus pass
    // serves every query; per-term df and the corpus stats are shared
    // across queries by construction). The query table rides as a
    // broadcast (bounded query batches); ranking is one window over the
    // (qid, doc) scores. Scoring math/rounding identical to
    // q_text_search_bm25. The persisted-index twin is
    // TextIndex.searchBatchBm25 (same join, pruned postings input).
    "q_text_search_batch" -> ((s, d) => {
      import s.implicits._
      val queries = Seq((1L, "query"), (1L, "join"), (2L, "data"),
        (2L, "stream"), (3L, "table"), (3L, "spark")).toDF("qid", "term")
      val docs = Tables.documents(s, d)
      val tok = docs.select(col("doc_id"), size(split(col("text"), " ")).as("dl"),
        explode(split(col("text"), " ")).as("term"))
      val m = tok.join(broadcast(queries), "term")
      val tf = m.groupBy("qid", "doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      val dft = m.groupBy("qid", "term").agg(countDistinct(col("doc_id")).as("dfc"))
      val stats = docs.agg(count(lit(1)).as("n"),
        avg(size(split(col("text"), " ")).cast("double")).as("avgdl"))
      val sc = tf.join(dft, Seq("qid", "term")).crossJoin(broadcast(stats))
        .withColumn("w",
          log((col("n").cast("double") - col("dfc") + 0.5) / (col("dfc") + 0.5) + 1.0) *
            (col("tf") * 2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        .groupBy("qid", "doc_id")
        .agg(round(sum("w"), 4).as("score"), count(lit(1)).as("matched"))
      val w = Window.partitionBy("qid")
        .orderBy(col("score").desc, col("doc_id").asc)
      sc.withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
        .select("qid", "rn", "doc_id", "score", "matched")
        .orderBy("qid", "rn")
    }),

    // BM25 retrieval from the PERSISTED inverted index (TextIndex) —
    // the q_prune_zorder recipe applied to lexical search: build the
    // term-bucketed postings + stats tables into the per-run scratch
    // scope, answer the query from the index's pruned bucket read, and
    // hash-gate the result against the oracle's scan over the ORIGINAL
    // corpus. Scoring math/rounding is shared with q_text_search_bm25
    // (different term set), so what the gate pins is the INDEX path:
    // a stale-stats bug, a bucket-routing bug (driver twin vs column
    // hash), or a dropped posting hash-fails instead of hiding behind
    // "the index is only a speed-up". The in-query guard asserts the
    // read actually PRUNED — files touched < the layout's total —
    // because a no-prune read returns the same rows (that regression is
    // invisible to the hash). At 100 TB this is the difference between
    // per-query corpus passes and O(query-terms' postings) reads.
    "q_text_search_indexed" -> ((s, d) => {
      val dir = graft.plans.Scale.scratch(s, "textidx", d) + "/idx"
      graft.sources.TextIndex.build(s, dir, Tables.documents(s, d))
      val terms = Seq("query", "join", "table")
      // prune gate on BUCKET DIRECTORIES, not parquet files: file counts
      // vary with shuffle partitioning, so a tiny corpus whose postings
      // land in as few populated files as the query terms touch would
      // turn a correct result into a hard failure (r17 advice). The
      // term_bucket=N partition directories are the unit pruning
      // actually operates on and their count is layout-stable.
      val pdir = new org.apache.hadoop.fs.Path(
        graft.sources.TextIndex.postingsPath(dir))
      val pfs = pdir.getFileSystem(s.sparkContext.hadoopConfiguration)
      val populated = pfs.listStatus(pdir).map(_.getPath.getName)
        .filter(_.startsWith(s"${graft.sources.TextIndex.Col}="))
        .map(_.stripPrefix(s"${graft.sources.TextIndex.Col}=").toInt).toSet
      val keptBuckets = terms.map(graft.sources.TextIndex.bucketOfTerm).toSet
      val kept = populated.intersect(keptBuckets)
      if (populated.size > keptBuckets.size)
        require(kept.size < populated.size,
          s"q_text_search_indexed: the pruned postings read kept all " +
            s"${populated.size} populated bucket directories of the " +
            s"${graft.sources.TextIndex.NumBuckets}-bucket layout — " +
            "term-bucket directory pruning regressed")
      else
        System.err.println(
          s"[graft] q_text_search_indexed: corpus populates only " +
            s"${populated.size} bucket directories (<= the query's " +
            s"${keptBuckets.size} term buckets) — prune gate skipped at this scale")
      graft.sources.TextIndex.searchBm25(s, dir, terms, 10)
    }),

    // NEGATED (must-not) retrieval from the persisted index (r19): the
    // q_text_search_indexed query with docs containing 'slow' excluded —
    // one more pruned bucket read (the must-not term's postings, doc ids
    // only) anti-joined before scoring, df/N/avgdl untouched (exclusion
    // narrows candidates, not the corpus — the Lucene must_not
    // convention, which the oracle mirrors with a NOT IN subquery).
    "q_text_search_negated" -> ((s, d) => {
      val dir = graft.plans.Scale.scratch(s, "phraseidx", d) + "/idx"
      if (!graft.sources.TextIndex.exists(s, dir))
        graft.sources.TextIndex.build(s, dir, Tables.documents(s, d))
      graft.sources.TextIndex.searchBm25(s, dir, Seq("query", "join", "table"),
        10, mustNot = Seq("slow"))
    }),

    // CONJUNCTIVE (all-terms / AND) retrieval from the persisted index
    // (r19): only docs matching EVERY query term rank — a post-agg
    // filter on the matched count with the scores unchanged, the other
    // boolean face every lexical engine serves beside the default OR.
    "q_text_search_conjunctive" -> ((s, d) => {
      val dir = graft.plans.Scale.scratch(s, "phraseidx", d) + "/idx"
      if (!graft.sources.TextIndex.exists(s, dir))
        graft.sources.TextIndex.build(s, dir, Tables.documents(s, d))
      graft.sources.TextIndex.searchBm25(s, dir, Seq("query", "join", "table"),
        10, matchAll = true)
    }),

    // PREFIX term search from the persisted index (r19; the r18
    // verdict's other "next ask" alongside slop): the prefix expands
    // through the per-segment TERM DICTIONARY (vocab-sized, range-
    // clustered by term so the StartsWith filter prunes row groups),
    // then scores exactly as the multi-term BM25 face over the matched
    // vocabulary — the postings read stays the pruned bucket read of
    // the expanded terms. Oracle = the corpus scan with term LIKE 's%',
    // so a dictionary drift (missed term, stale segment) or an
    // expansion bug hash-fails loudly.
    "q_text_search_prefix" -> ((s, d) => {
      val dir = graft.plans.Scale.scratch(s, "phraseidx", d) + "/idx"
      if (!graft.sources.TextIndex.exists(s, dir))
        graft.sources.TextIndex.build(s, dir, Tables.documents(s, d))
      graft.sources.TextIndex.searchPrefixBm25(s, dir, "s", 10)
    }),

    // FUZZY term search from the persisted index (r20; the r19
    // verdict's #4, the face the term dictionary unlocked next after
    // prefix): the probe term expands to every vocabulary term within
    // maxDist edits (full dictionary scan — vocab-sized, an edit
    // distance has no pushable range), then scores exactly as the
    // multi-term BM25 face, postings read pruned to the matched terms'
    // buckets. Fixture 'part'~2 expands to {fast, part, sort, spark}
    // (4 terms, stable across SFs — the closed 31-token vocabulary);
    // oracle = the corpus scan with a levenshtein predicate, so a
    // dictionary drift or expansion bug hash-fails loudly.
    "q_text_search_fuzzy" -> ((s, d) => {
      val dir = graft.plans.Scale.scratch(s, "phraseidx", d) + "/idx"
      if (!graft.sources.TextIndex.exists(s, dir))
        graft.sources.TextIndex.build(s, dir, Tables.documents(s, d))
      graft.sources.TextIndex.searchFuzzyBm25(s, dir, "part", 10, maxDist = 2)
    }),

    // FILTERED + NEGATED phrase retrieval (r20; the r19 verdict's #5):
    // the q_text_search_phrase_indexed query restricted to a metadata-
    // filtered candidate set (doc_id % 3 = 0 — allowedIds as one
    // broadcast semi-join on the pruned postings) minus docs containing
    // the must-not term 'slow' (one more pruned bucket read, doc ids
    // only, anti-joined pre-fold). Top-k is k post-filter survivors;
    // the oracle mirrors both restrictions on the substring scan.
    "q_text_search_phrase_filtered" -> ((s, d) => {
      val dir = graft.plans.Scale.scratch(s, "phraseidx", d) + "/idx"
      if (!graft.sources.TextIndex.exists(s, dir))
        graft.sources.TextIndex.build(s, dir, Tables.documents(s, d))
      graft.sources.TextIndex.searchPhrase(s, dir, Seq("join", "order"), 15,
        allowedIds = Some(Tables.documents(s, d)
          .where(pmod(col("doc_id"), lit(3)) === 0).select("doc_id")),
        mustNot = Seq("slow"))
    }),

    // The r18 DELTA path under the driver hash gate (r18 verdict,
    // next-round #2): the index is built from HALF the corpus and the
    // other half arrives as a TextIndex.append delta segment — then the
    // SAME search must equal the scan over the whole corpus, which is
    // exactly q_text_search_indexed's oracle. What this pins that the
    // scalatest bit-equality law cannot: the merged-segment read and the
    // exact segment-stat merge (Σn, Σsum_dl) hold under the driver's
    // independent DuckDB replay at every SF, not just the in-JVM
    // fixture.
    "q_text_search_indexed_delta" -> ((s, d) => {
      val dir = graft.plans.Scale.scratch(s, "textidxd", d) + "/idx"
      val docs = Tables.documents(s, d)
      if (!graft.sources.TextIndex.exists(s, dir)) {
        graft.sources.TextIndex.build(s, dir, docs.where(pmod(col("doc_id"), lit(2)) === 0))
        graft.sources.TextIndex.append(s, dir, docs.where(pmod(col("doc_id"), lit(2)) === 1))
      }
      graft.sources.TextIndex.searchBm25(s, dir, Seq("query", "join", "table"), 10)
    }),

    // The r19 DELETION path under the driver hash gate: the index is
    // built over the WHOLE corpus, every doc_id divisible by 7 is
    // tombstoned (TextIndex.deleteFrom), and the search must equal the
    // scan over the corpus WITHOUT the victims — same terms, same BM25
    // arithmetic, the oracle's FROM clause just excludes them. This is
    // the strongest gate on the delete semantics: the anti-join alone
    // would pass rows (victims absent) but the EXACT stats shrink —
    // N, avgdl via the captured victim dl sums, and df via the
    // anti-joined postings — must hold or every surviving score
    // hash-fails. The takedown path (AssetIngest.takedown(textIndexDir))
    // composes this same face.
    "q_text_search_indexed_deleted" -> ((s, d) => {
      val dir = graft.plans.Scale.scratch(s, "textidxdel", d) + "/idx"
      if (!graft.sources.TextIndex.exists(s, dir)) {
        graft.sources.TextIndex.build(s, dir, Tables.documents(s, d))
        graft.sources.TextIndex.deleteFrom(s, dir,
          Tables.documents(s, d).where(col("doc_id") % 7 === 0).select("doc_id"))
      }
      graft.sources.TextIndex.searchBm25(s, dir, Seq("query", "join", "table"), 10)
    }),

    // SPARSE cosine similarity join via an inverted index — the sparse
    // (term-vector) complement of the dense kNN/ANN paths: documents as
    // tf vectors, pairwise cosine computed by joining postings on the
    // TERM key (dot accumulates only over shared terms), never an
    // all-pairs document join. Work is sum over terms of df^2 — at scale
    // the standard controls drop straight into this plan: cut stopword
    // postings (df cap, cf. q_dedup_ngram_jaccard's rarity prefix) and
    // the quadratic term vanishes with them. tf dots are exact integer
    // sums; sqrt/division are IEEE-identical cross-engine; the threshold
    // applies to the 4dp-ROUNDED cosine so an ulp at the boundary cannot
    // flip membership. Bounded here at doc_id < 100 (same declared-cap
    // convention as q_jaccard_pairs).
    "q_sim_sparse" -> ((s, d) => {
      val tf = Tables.documents(s, d).where(col("doc_id") < 100)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val nrm = tf.groupBy("doc_id").agg(sqrt(sum(col("tf") * col("tf"))).as("n"))
      val a = tf.select(col("doc_id").as("da"), col("term"), col("tf").as("tfa"))
      val b = tf.select(col("doc_id").as("db"), col("term").as("term_b"), col("tf").as("tfb"))
      val dots = a.join(b, col("term") === col("term_b") && col("da") < col("db"))
        .groupBy("da", "db").agg(sum(col("tfa") * col("tfb")).as("dot"))
      dots
        .join(nrm.select(col("doc_id").as("da"), col("n").as("na")), "da")
        .join(nrm.select(col("doc_id").as("db"), col("n").as("nb")), "db")
        .withColumn("cos", round(col("dot") / (col("na") * col("nb")), 4))
        .where(col("cos") >= 0.75)
        .select("da", "db", "cos")
        .orderBy("da", "db")
    }),

    // UNBOUNDED sparse similarity — q_sim_sparse with the bound LIFTED,
    // proving the inverted index holds at the full corpus. Two changes
    // make that safe: the vector space is 3-gram shingles (the unigram
    // vocabulary of this corpus is 31 shared terms — every one a
    // stopword, sum(df^2) ~ 4.5e8 at sf0.1; the shingle space is ~27k
    // terms with max df 25), and the df-cap stopword cut (df <= 100) is
    // WIRED IN, not just documented — on a real corpus it drops
    // boilerplate shingles and bounds the quadratic term at cap^2 per
    // term. Shingle sets are distinct per doc, so tf = 1 and the cosine
    // is |A∩B| / sqrt(|A|·|B|) — integer dot, exact cross-engine, 4dp
    // round at the threshold. Full ✓-oracle despite the scale: every
    // step is closed-form SQL.
    "q_sim_sparse_full" -> ((s, d) => {
      GraftFunctions.register(s)
      val sh = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"), explode(expr("array_distinct(graft_ngrams(toks, 3, 0))")).as("g"))
      val kept = sh.join(
        sh.groupBy("g").agg(count(lit(1)).as("dfg")).where(col("dfg") <= 100).select("g"), "g")
      val nrm = kept.groupBy("doc_id").agg(sqrt(count(lit(1)).cast("double")).as("n"))
      val a = kept.select(col("doc_id").as("da"), col("g"))
      val b = kept.select(col("doc_id").as("db"), col("g").as("g_b"))
      val dots = a.join(b, col("g") === col("g_b") && col("da") < col("db"))
        .groupBy("da", "db").agg(count(lit(1)).cast("double").as("dot"))
      dots
        .join(nrm.select(col("doc_id").as("da"), col("n").as("na")), "da")
        .join(nrm.select(col("doc_id").as("db"), col("n").as("nb")), "db")
        .withColumn("cos", round(col("dot") / (col("na") * col("nb")), 4))
        .where(col("cos") >= 0.2)
        .select("da", "db", "cos")
        .orderBy("da", "db")
    }),

    // SEQUENCE PACKING — the LLM-pretraining data step that assigns
    // documents to fixed-token-budget context windows (2048 here):
    // within each source, documents fill packs in doc_id order and a
    // document starting at running offset o lands in pack o div budget
    // at offset o mod budget — the standard contiguous-fill
    // approximation of bin packing every distributed pipeline uses
    // (greedy first-fit is inherently sequential). All-integer
    // arithmetic — but the oracle must CAST its derived columns back to
    // BIGINT because DuckDB's window sum(BIGINT) returns HUGEINT and the
    // driver's hash is type-sensitive (the r6 red row). Implemented via
    // two-level prefix sums (packTwoLevel below): chunks within a source
    // pack in parallel, then shift by a broadcast exclusive prefix sum of
    // per-chunk token totals — no single per-source window task at scale.
    "q_pack_sequences" -> ((s, d) => {
      packTwoLevel(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("bigint").as("n_tok")),
        budget = 2048,
        // scale-adaptive (r21): chunk count is the local-window
        // parallelism knob and the global offsets are chunking-
        // independent (exact prefix arithmetic, oracle-gated)
        chunks = math.max(8, s.sparkContext.defaultParallelism))
        .orderBy("source", "doc_id")
    }),

    // Gopher-style REPETITION filter signals [PK: Rae et al. 2021 quality
    // heuristics]: the within-document duplicate-token and duplicate-
    // 3-gram fractions — the gate that catches boilerplate/looping text
    // which q_text_quality's length/punctuation stats miss. Pure per-row
    // expressions, no shuffle except the output sort. Ratios round with
    // the integer-exact recipe (see DedupOps.jaccard) so no engine
    // round() convention is in play; a sub-3-token doc has no 3-grams
    // and its fraction is NULL in both engines (integer div by zero).
    "q_text_repetition" -> ((s, d) => {
      GraftFunctions.register(s)
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("g3", expr("graft_ngrams(toks, 3, 0)"))
        .withColumn("n_tok", size(col("toks")).cast("bigint"))
        .withColumn("d_tok", size(array_distinct(col("toks"))).cast("bigint"))
        .withColumn("n_g3", size(col("g3")).cast("bigint"))
        .withColumn("d_g3", size(array_distinct(col("g3"))).cast("bigint"))
        .select(col("doc_id"), col("n_tok"),
          expr("CAST(((n_tok - d_tok) * 20000 + n_tok) div (2 * n_tok) AS DOUBLE) / 10000.0")
            .as("dup_tok_frac"),
          expr("CAST(((n_g3 - d_g3) * 20000 + n_g3) div (2 * n_g3) AS DOUBLE) / 10000.0")
            .as("dup_g3_frac"))
        .orderBy("doc_id")
    }),

    // Sketched vocabulary top-10 per language — q_vocab_topk's 100 TB
    // shape: the SpaceSaving `graft_topk` aggregate (TypedImperative,
    // TopKSketch.scala) builds a capacity-64 summary map-side and the
    // shuffle carries <= 64 entries per language instead of every
    // distinct term. No oracle (summary content is partition-order-
    // dependent within its error bounds; rows = one per language, fixed);
    // CustomFunctionsSpec pins the SpaceSaving guarantees — every true
    // heavy hitter present, est >= true >= est - err — against exact
    // counts, single- and multi-partition.
    "q_vocab_sketch" -> ((s, d) => {
      GraftFunctions.register(s)
      Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("term"))
        .groupBy("lang")
        .agg(expr("graft_topk(term, 64)").as("sketch"))
        .select(col("lang"),
          expr("array_join(transform(slice(sketch, 1, 10), x -> x.item), ',')").as("top_terms"),
          size(col("sketch")).as("m"))
        .orderBy("lang")
    }),

    // Character-trigram top-30: the fingerprinting/language-ID primitive
    // at character granularity (q_lang_id's heuristic operates on these).
    // Each document explodes to length-2 trigram rows — linear in corpus
    // bytes, partial-aggregated map-side before the shuffle carries only
    // distinct trigrams. The CASE guard keeps sub-3-char docs from
    // generating a DESCENDING sequence() (Spark) where DuckDB's
    // generate_series would return empty — the one cross-engine trap in
    // this shape (graft_ngrams builds the same empty array for short
    // token arrays).
    "q_str_ngrams" -> ((s, d) => {
      Tables.documents(s, d)
        .select(explode(expr(
          "CASE WHEN length(text) >= 3 THEN transform(sequence(1, length(text) - 2), " +
            "i -> substring(text, i, 3)) ELSE array() END")).as("g"))
        .groupBy("g").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("g").asc)
        .limit(30)
    }),

    // Within-corpus duplicated-ngram profile — the memorization-risk
    // report a training-data audit runs: which token 8-grams appear in
    // MORE THAN ONE document, how many documents, how many occurrences
    // (same output shape as published duplicate-ngram analyses of web
    // corpora). Explode is linear in corpus tokens; the groupBy shuffles
    // on the gram key with map-side partial counts, so the only rows
    // crossing the wire more than once are genuinely repeated grams —
    // no all-pairs doc comparison ever materializes. countDistinct adds
    // the standard two-phase distinct expansion, still keyed. Sub-8-token
    // docs get an empty graft_ngrams array, as the oracle's CASE guard
    // gives them.
    "q_ngram_dup_profile" -> ((s, d) => {
      GraftFunctions.register(s)
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(col("doc_id"), explode(expr("graft_ngrams(toks, 8, 0)")).as("gram"))
        .groupBy("gram")
        .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
        .where(col("n_docs") > 1)
        .orderBy(col("n_docs").desc, col("n_occ").desc, col("gram").asc)
        .limit(100)
    }),

    // CROSS-SOURCE n-gram leakage report — the inter-source twin of
    // q_ngram_dup_profile. Where that query asks "which grams repeat
    // within the corpus", this asks the curation question "how much of
    // each source's gram inventory ALSO appears in another source" —
    // the scraped-mirror / syndicated-content signal a mixture plan
    // weights sources down by. Shape at 100 TB: the gram derivation is
    // linear in corpus tokens and collapses map-side to DISTINCT
    // (source, gram) before any wire traffic; the leak mark is one
    // window count keyed on the gram (the same shuffle a groupBy(gram)
    // would pay, reused in place so the per-source rollup follows
    // without a join back); the final source rollup is a 20-row
    // aggregate. No doc×doc or source×source pair ever materializes.
    "q_xsource_leakage" -> ((s, d) => {
      GraftFunctions.register(s)
      val grams = Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .select(col("source"), explode(expr("graft_ngrams(toks, 8, 0)")).as("g"))
        .distinct()
      grams
        .withColumn("ns", count(lit(1)).over(Window.partitionBy("g")))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_grams"),
          count(when(col("ns") > 1, 1)).as("n_leaked"),
          round(count(when(col("ns") > 1, 1)).cast("double") / count(lit(1)), 6)
            .as("leak_ratio"))
        .orderBy("source")
    }),

    // Zipf-fit corpus health check: regress ln(frequency) on ln(rank)
    // over each source's top-50 token ranks. Natural-language token
    // distributions sit near slope -1; a source whose slope collapses
    // toward 0 (flat = synthetic/templated text) or whose r² craters is
    // the classic automated "this scrape went wrong" detector. Scale
    // shape: the vocab count is one map-side-combined shuffle keyed on
    // (source, token) — the stream leaving the scan is the VOCABULARY,
    // not the corpus; the rank window then shuffles only vocab rows on
    // the 20-key source partition (bounded by vocab size per source,
    // the post-agg quantity, never corpus tokens), and the regression
    // runs over ≤50 rows per source. Rank ties break on the token for
    // cross-engine determinism.
    "q_zipf_fit" -> ((s, d) => {
      val cnt = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("n"))
      cnt
        .withColumn("r", row_number().over(
          Window.partitionBy("source").orderBy(col("n").desc, col("tok").asc)))
        .where(col("r") <= 50)
        .groupBy("source")
        .agg(
          round(expr("regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(r AS DOUBLE)))"), 4)
            .as("zipf_slope"),
          round(expr("regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(r AS DOUBLE)))"), 4)
            .as("zipf_r2"),
          count(lit(1)).as("k"))
        .orderBy("source")
    }),
  )

  /** Two-level prefix-sum sequence packing — the distributed-scan layout of
    * `q_pack_sequences`. Semantics are EXACTLY the single per-source running
    * sum (docs fill packs in doc_id order; a doc at running offset o lands in
    * pack `o div budget` at `o % budget`), but no task ever scans a whole
    * source: docs are range-bucketed into `chunks` contiguous doc_id spans,
    * each (source, chunk) packs locally in parallel, and a broadcast
    * exclusive prefix sum of per-chunk token totals (a `sources x chunks`-row
    * table) shifts each chunk to its global offset — the standard two-level
    * distributed scan. Chunk boundaries depend only on the corpus doc_id
    * min/max (one broadcast row), so the output is deterministic and
    * bit-identical for any `chunks >= 1` (PropertiesSpec pins the law;
    * ScaleSpec pins >1 cumulative task per source in the physical plan).
    *
    * `docs` must have columns (source, doc_id, n_tok:bigint).
    */
  def packTwoLevel(docs: org.apache.spark.sql.DataFrame, budget: Int, chunks: Int): org.apache.spark.sql.DataFrame = {
    require(budget >= 1, s"pack budget must be >= 1, got $budget")
    require(chunks >= 1, s"chunk count must be >= 1, got $chunks")
    // Monotone range bucket over the observed doc_id domain, DIVIDE-FIRST
    // (r21 advice): the old `(doc_id - __lo) * chunks` multiply silently
    // wraps Long once chunks is cluster-sized (defaultParallelism on a
    // 100 TB deployment) and the id domain is snowflake-wide (> 2^53 —
    // span ~2^57 for a year of ms<<22 ids), losing bucket monotonicity
    // and with it the prefix sums' correctness. Dividing by the chunk
    // WIDTH `(__hi - __lo) div chunks + 1` never leaves the span's
    // magnitude: the quotient is provably in [0, chunks-1] for every
    // Long id (q*c+s < c*(q+1) with q = span div c), monotone in doc_id,
    // and near-uniform across chunks. least() stays as a belt-and-braces
    // hi-endpoint guard. The only residual overflow is a span that
    // itself exceeds Long.Max (lo < -2^62 AND hi > 2^62) — not an id
    // domain, a corrupt input. Chunk boundaries move vs the multiply
    // form but the scan is chunking-independent (exact prefix
    // arithmetic; oracle- and PropertiesSpec-gated). The scan itself is
    // the shared TwoLevel.prefix engine (signed = false: token counts
    // are non-negative, so chunk totals harvest from the windowed
    // output and reuse its exchange).
    TwoLevel.prefix(docs.select(col("source"), col("doc_id"), col("n_tok")),
        boundCol = "doc_id",
        chunkExpr =
          s"CAST(least($chunks - 1, (doc_id - __lo) div ((__hi - __lo) div $chunks + 1)) AS INT)",
        groupCols = Seq("source"), orderCols = Seq(col("doc_id").asc),
        valueCol = "n_tok", signed = false)
      .withColumn("pack_id", expr(s"(cum - n_tok) div $budget"))
      .withColumn("pack_offset", expr(s"(cum - n_tok) % $budget"))
      .select("source", "doc_id", "n_tok", "pack_id", "pack_offset")
  }

  val oracle: Map[String, String] = Map(
    "q_ngram_dup_profile" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, array_to_string(toks[i : i + 7], ' ') AS gram
        |      FROM t, UNNEST(generate_series(1, len(toks) - 7)) AS u(i))
        |SELECT gram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
        |FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1
        |ORDER BY n_docs DESC, n_occ DESC, gram ASC LIMIT 100""".stripMargin,

    "q_xsource_leakage" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT DISTINCT source, array_to_string(toks[i : i + 7], ' ') AS g
        |      FROM t, UNNEST(generate_series(1, len(toks) - 7)) AS u(i)),
        |m AS (SELECT source, count(*) OVER (PARTITION BY g) AS ns FROM g)
        |SELECT source, count(*) AS n_grams,
        |  count(*) FILTER (WHERE ns > 1) AS n_leaked,
        |  round(CAST(count(*) FILTER (WHERE ns > 1) AS DOUBLE) / count(*), 6)
        |    AS leak_ratio
        |FROM m GROUP BY source ORDER BY source""".stripMargin,

    "q_zipf_fit" ->
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |cnt AS (SELECT source, tok, count(*) AS n FROM tok GROUP BY 1, 2),
        |rk AS (SELECT source, n,
        |         row_number() OVER (PARTITION BY source ORDER BY n DESC, tok) AS r
        |       FROM cnt)
        |SELECT source,
        |  round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(r AS DOUBLE))), 4)
        |    AS zipf_slope,
        |  round(regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(r AS DOUBLE))), 4)
        |    AS zipf_r2,
        |  count(*) AS k
        |FROM rk WHERE r <= 50 GROUP BY source ORDER BY source""".stripMargin,

    "q_text_stats" ->
      """SELECT lang, count(*) AS docs,
        |  round(avg(n_chars),4) AS avg_chars,
        |  round(avg(len(string_split(text,' '))),4) AS avg_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_unigram_logprob" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |counts AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        |tot AS (SELECT sum(cnt) AS total FROM counts)
        |SELECT t.doc_id, count(*) AS n_tok,
        |  round(sum(ln(c.cnt)) / count(*) - ln((SELECT total FROM tot)), 4) AS logprob
        |FROM toks t JOIN counts c USING (tok)
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,

    // list_zip pads with one trailing NULL pair per doc — filtered, so
    // the pair multiset matches Spark's sequence-transform exactly
    "q_bpe_pairs" ->
      """WITH t AS (SELECT string_split(text, ' ') AS l FROM documents),
        |z AS (SELECT unnest(list_zip(l, l[2:])) AS p FROM t)
        |SELECT p[1] AS a, p[2] AS b, count(*) AS n FROM z
        |WHERE p[2] IS NOT NULL
        |GROUP BY a, b ORDER BY n DESC, a, b LIMIT 100""".stripMargin,

    "q_str_split_explode" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
        |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,

    // same oracle as q_text_search_phrase (the indexed path must
    // reproduce the scan answer exactly — the q_hybrid_rrf_indexed
    // discipline)
    "q_text_search_phrase_indexed" ->
      """SELECT doc_id,
        |  CAST((len(text) - len(replace(text, 'join order', ''))) / len('join order') AS BIGINT) AS hits
        |FROM documents
        |WHERE len(replace(text, 'join order', '')) < len(text)
        |ORDER BY hits DESC, doc_id ASC LIMIT 15""".stripMargin,

    "q_text_search_phrase_batch" ->
      """WITH p AS (SELECT * FROM (VALUES (1, 'join order'), (2, 'the fast key')) AS t(qid, ph)),
        |h AS (SELECT p.qid, d.doc_id,
        |        CAST((len(d.text) - len(replace(d.text, p.ph, ''))) / len(p.ph) AS BIGINT) AS hits
        |      FROM documents d CROSS JOIN p
        |      WHERE len(replace(d.text, p.ph, '')) < len(d.text)),
        |r AS (SELECT qid, doc_id, hits, CAST(row_number() OVER (
        |        PARTITION BY qid ORDER BY hits DESC, doc_id ASC) AS INTEGER) AS rn FROM h)
        |SELECT qid, rn, doc_id, hits FROM r WHERE rn <= 10 ORDER BY qid, rn""".stripMargin,

    "q_text_search_phrase" ->
      """SELECT doc_id,
        |  CAST((len(text) - len(replace(text, 'join order', ''))) / len('join order') AS BIGINT) AS hits
        |FROM documents
        |WHERE len(replace(text, 'join order', '')) < len(text)
        |ORDER BY hits DESC, doc_id ASC LIMIT 15""".stripMargin,

    "q_text_search" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |q AS (SELECT doc_id, term FROM tok WHERE term IN ('data', 'vector', 'stream')),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM q GROUP BY doc_id, term),
        |dft AS (SELECT term, count(DISTINCT doc_id) AS dfc FROM q GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT tf.doc_id,
        |  round(sum(tf.tf * ln(CAST(n.n AS DOUBLE) / dft.dfc)), 6) AS score,
        |  count(*) AS matched
        |FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN n
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, tf.doc_id ASC LIMIT 10""".stripMargin,

    // Arithmetic written in the SAME association order as the Spark
    // column expression so both engines evaluate bit-identical doubles
    // before the 4dp round.
    "q_text_search_bm25" ->
      """WITH tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |  unnest(string_split(text, ' ')) AS term FROM documents),
        |q AS (SELECT doc_id, dl, term FROM tok
        |      WHERE term IN ('data', 'vector', 'stream')),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM q
        |       GROUP BY doc_id, dl, term),
        |dft AS (SELECT term, count(DISTINCT doc_id) AS dfc FROM q GROUP BY term),
        |stats AS (SELECT count(*) AS n,
        |  avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl FROM documents)
        |SELECT tf.doc_id,
        |  round(sum(ln((CAST(stats.n AS DOUBLE) - dfc + 0.5) / (dfc + 0.5) + 1.0)
        |    * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))), 4) AS score,
        |  count(*) AS matched
        |FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN stats
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, tf.doc_id ASC LIMIT 10""".stripMargin,

    // Arithmetic mirrored term-for-term with the Spark column program
    // (left-associated interpolation, sum/count then round).
    "q_bigram_logprob" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |             WHERE len(string_split(text, ' ')) >= 2),
        |big AS (SELECT doc_id, unnest(list_zip(l, l[2:])) AS p FROM tok),
        |bp AS (SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM big WHERE p[2] IS NOT NULL),
        |cb AS (SELECT w1, w2, count(*) AS cb FROM bp GROUP BY w1, w2),
        |cu1 AS (SELECT w1 AS u1, count(*) AS cu1 FROM bp GROUP BY w1),
        |cu2 AS (SELECT w2 AS u2, count(*) AS cu2 FROM bp GROUP BY w2),
        |tot AS (SELECT count(*) AS total FROM bp)
        |SELECT bp.doc_id, count(*) AS n_big,
        |  round(sum(ln(0.75 * cb.cb / cu1.cu1 + 0.25 * cu2.cu2 / tot.total))
        |        / count(*), 4) AS logprob
        |FROM bp JOIN cb ON bp.w1 = cb.w1 AND bp.w2 = cb.w2
        |        JOIN cu1 ON bp.w1 = cu1.u1
        |        JOIN cu2 ON bp.w2 = cu2.u2
        |        CROSS JOIN tot
        |GROUP BY bp.doc_id ORDER BY bp.doc_id""".stripMargin,

    // Batch-retrieval oracle: the same per-query BM25 arithmetic over a
    // VALUES query table (qid cast BIGINT to match Spark's LongType;
    // rn cast INTEGER per the q_tfidf precedent).
    "q_text_search_batch" ->
      """WITH q AS (SELECT CAST(qid AS BIGINT) AS qid, term FROM (VALUES
        |    (1, 'query'), (1, 'join'), (2, 'data'),
        |    (2, 'stream'), (3, 'table'), (3, 'spark')) v(qid, term)),
        |tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |  unnest(string_split(text, ' ')) AS term FROM documents),
        |m AS (SELECT q.qid, tok.doc_id, tok.dl, tok.term
        |      FROM tok JOIN q ON tok.term = q.term),
        |tf AS (SELECT qid, doc_id, dl, term, count(*) AS tf FROM m
        |       GROUP BY qid, doc_id, dl, term),
        |dft AS (SELECT qid, term, count(DISTINCT doc_id) AS dfc FROM m
        |        GROUP BY qid, term),
        |stats AS (SELECT count(*) AS n,
        |  avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl FROM documents),
        |sc AS (SELECT tf.qid, tf.doc_id,
        |  round(sum(ln((CAST(stats.n AS DOUBLE) - dfc + 0.5) / (dfc + 0.5) + 1.0)
        |    * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))), 4) AS score,
        |  count(*) AS matched
        |  FROM tf JOIN dft ON tf.qid = dft.qid AND tf.term = dft.term
        |       CROSS JOIN stats
        |  GROUP BY tf.qid, tf.doc_id)
        |SELECT qid, rn, doc_id, score, matched FROM (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rn
        |  FROM sc) t
        |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    // Proximity phrase oracle (r19): token-level position counting over
    // the SAME split the index tokenizes with — count 'order' positions
    // with a 'join' at distance 1..1+slop before them (MATCH-END
    // counting, mirroring the index fold's reachable-set semantics
    // exactly, including the two-joins-one-order collapse). slop = 1.
    "q_text_search_phrase_slop" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |h AS (SELECT doc_id,
        |  CAST(len(list_filter(generate_series(2, len(l)), j ->
        |    l[j] = 'order' AND len(list_filter(generate_series(greatest(1, j - 2), j - 1),
        |      i -> l[i] = 'join')) > 0)) AS BIGINT) AS hits
        |  FROM t)
        |SELECT doc_id, hits FROM h WHERE hits > 0
        |ORDER BY hits DESC, doc_id ASC LIMIT 15""".stripMargin,

    // Negated-retrieval oracle: the q_text_search_indexed arithmetic
    // with a NOT IN exclusion subquery — stats and df stay corpus-wide.
    "q_text_search_negated" ->
      """WITH tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |  unnest(string_split(text, ' ')) AS term FROM documents),
        |q AS (SELECT doc_id, dl, term FROM tok
        |      WHERE term IN ('query', 'join', 'table')),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM q
        |       GROUP BY doc_id, dl, term),
        |dft AS (SELECT term, count(DISTINCT doc_id) AS dfc FROM q GROUP BY term),
        |stats AS (SELECT count(*) AS n,
        |  avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl FROM documents)
        |SELECT tf.doc_id,
        |  round(sum(ln((CAST(stats.n AS DOUBLE) - dfc + 0.5) / (dfc + 0.5) + 1.0)
        |    * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))), 4) AS score,
        |  count(*) AS matched
        |FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN stats
        |WHERE tf.doc_id NOT IN (SELECT DISTINCT doc_id FROM tok WHERE term = 'slow')
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, tf.doc_id ASC LIMIT 10""".stripMargin,

    // Conjunctive-retrieval oracle: the same arithmetic with HAVING
    // matched = |terms|.
    "q_text_search_conjunctive" ->
      """WITH tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |  unnest(string_split(text, ' ')) AS term FROM documents),
        |q AS (SELECT doc_id, dl, term FROM tok
        |      WHERE term IN ('query', 'join', 'table')),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM q
        |       GROUP BY doc_id, dl, term),
        |dft AS (SELECT term, count(DISTINCT doc_id) AS dfc FROM q GROUP BY term),
        |stats AS (SELECT count(*) AS n,
        |  avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl FROM documents)
        |SELECT tf.doc_id,
        |  round(sum(ln((CAST(stats.n AS DOUBLE) - dfc + 0.5) / (dfc + 0.5) + 1.0)
        |    * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))), 4) AS score,
        |  count(*) AS matched
        |FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN stats
        |GROUP BY tf.doc_id
        |HAVING count(*) = 3
        |ORDER BY score DESC, tf.doc_id ASC LIMIT 10""".stripMargin,

    // Prefix-search oracle: the q_text_search_indexed arithmetic with
    // the term set replaced by a LIKE prefix predicate — what the
    // dictionary expansion must reproduce exactly.
    "q_text_search_prefix" ->
      """WITH tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |  unnest(string_split(text, ' ')) AS term FROM documents),
        |q AS (SELECT doc_id, dl, term FROM tok WHERE term LIKE 's%'),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM q
        |       GROUP BY doc_id, dl, term),
        |dft AS (SELECT term, count(DISTINCT doc_id) AS dfc FROM q GROUP BY term),
        |stats AS (SELECT count(*) AS n,
        |  avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl FROM documents)
        |SELECT tf.doc_id,
        |  round(sum(ln((CAST(stats.n AS DOUBLE) - dfc + 0.5) / (dfc + 0.5) + 1.0)
        |    * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))), 4) AS score,
        |  count(*) AS matched
        |FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN stats
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, tf.doc_id ASC LIMIT 10""".stripMargin,

    // Fuzzy-search oracle: the q_text_search_indexed arithmetic with
    // the term set replaced by a levenshtein predicate — what the
    // dictionary expansion must reproduce exactly (expansion over the
    // dictionary == expansion over the corpus' distinct tokens, since
    // the dictionary IS that set per segment).
    "q_text_search_fuzzy" ->
      """WITH tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |  unnest(string_split(text, ' ')) AS term FROM documents),
        |q AS (SELECT doc_id, dl, term FROM tok WHERE levenshtein(term, 'part') <= 2),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM q
        |       GROUP BY doc_id, dl, term),
        |dft AS (SELECT term, count(DISTINCT doc_id) AS dfc FROM q GROUP BY term),
        |stats AS (SELECT count(*) AS n,
        |  avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl FROM documents)
        |SELECT tf.doc_id,
        |  round(sum(ln((CAST(stats.n AS DOUBLE) - dfc + 0.5) / (dfc + 0.5) + 1.0)
        |    * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))), 4) AS score,
        |  count(*) AS matched
        |FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN stats
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, tf.doc_id ASC LIMIT 10""".stripMargin,

    // Filtered/negated phrase oracle: the substring-count scan with the
    // allowed-set modulus and the must-not exclusion mirrored in SQL.
    "q_text_search_phrase_filtered" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT doc_id,
        |  CAST((len(text) - len(replace(text, 'join order', ''))) / len('join order') AS BIGINT) AS hits
        |FROM documents
        |WHERE len(replace(text, 'join order', '')) < len(text)
        |  AND doc_id % 3 = 0
        |  AND doc_id NOT IN (SELECT DISTINCT doc_id FROM tok WHERE term = 'slow')
        |ORDER BY hits DESC, doc_id ASC LIMIT 15""".stripMargin,

    // The DELTA path shares the one-shot indexed oracle verbatim: base +
    // appended segment must answer exactly as the scan over the whole
    // corpus (the merged-read + exact-stat-merge equivalence).
    "q_text_search_indexed_delta" ->
      """WITH tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |  unnest(string_split(text, ' ')) AS term FROM documents),
        |q AS (SELECT doc_id, dl, term FROM tok
        |      WHERE term IN ('query', 'join', 'table')),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM q
        |       GROUP BY doc_id, dl, term),
        |dft AS (SELECT term, count(DISTINCT doc_id) AS dfc FROM q GROUP BY term),
        |stats AS (SELECT count(*) AS n,
        |  avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl FROM documents)
        |SELECT tf.doc_id,
        |  round(sum(ln((CAST(stats.n AS DOUBLE) - dfc + 0.5) / (dfc + 0.5) + 1.0)
        |    * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))), 4) AS score,
        |  count(*) AS matched
        |FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN stats
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, tf.doc_id ASC LIMIT 10""".stripMargin,

    // The DELETION path's oracle is the scan over the corpus WITHOUT the
    // victims — the `live` CTE is the whole difference, so N, avgdl and
    // df must all shrink EXACTLY on the index side or the hash fails.
    "q_text_search_indexed_deleted" ->
      """WITH live AS (SELECT * FROM documents WHERE doc_id % 7 <> 0),
        |tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |  unnest(string_split(text, ' ')) AS term FROM live),
        |q AS (SELECT doc_id, dl, term FROM tok
        |      WHERE term IN ('query', 'join', 'table')),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM q
        |       GROUP BY doc_id, dl, term),
        |dft AS (SELECT term, count(DISTINCT doc_id) AS dfc FROM q GROUP BY term),
        |stats AS (SELECT count(*) AS n,
        |  avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl FROM live)
        |SELECT tf.doc_id,
        |  round(sum(ln((CAST(stats.n AS DOUBLE) - dfc + 0.5) / (dfc + 0.5) + 1.0)
        |    * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))), 4) AS score,
        |  count(*) AS matched
        |FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN stats
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, tf.doc_id ASC LIMIT 10""".stripMargin,

    // The indexed path's oracle is the SCAN over the original corpus —
    // exactly the equivalence the index must preserve. Same association
    // order as q_text_search_bm25's oracle; only the term set differs.
    "q_text_search_indexed" ->
      """WITH tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
        |  unnest(string_split(text, ' ')) AS term FROM documents),
        |q AS (SELECT doc_id, dl, term FROM tok
        |      WHERE term IN ('query', 'join', 'table')),
        |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM q
        |       GROUP BY doc_id, dl, term),
        |dft AS (SELECT term, count(DISTINCT doc_id) AS dfc FROM q GROUP BY term),
        |stats AS (SELECT count(*) AS n,
        |  avg(CAST(len(string_split(text, ' ')) AS DOUBLE)) AS avgdl FROM documents)
        |SELECT tf.doc_id,
        |  round(sum(ln((CAST(stats.n AS DOUBLE) - dfc + 0.5) / (dfc + 0.5) + 1.0)
        |    * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl))), 4) AS score,
        |  count(*) AS matched
        |FROM tf JOIN dft ON tf.term = dft.term CROSS JOIN stats
        |GROUP BY tf.doc_id
        |ORDER BY score DESC, tf.doc_id ASC LIMIT 10""".stripMargin,

    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id, source,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |           FROM documents),
        |c AS (SELECT doc_id, source, n_tok,
        |        sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |                         ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM t)
        |SELECT source, doc_id, n_tok,
        |  CAST((cum - n_tok) // 2048 AS BIGINT) AS pack_id,
        |  CAST((cum - n_tok) % 2048 AS BIGINT) AS pack_offset
        |FROM c ORDER BY source, doc_id""".stripMargin,

    "q_text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, toks,
        |        CASE WHEN len(toks) - 2 >= 1 THEN list_transform(
        |          generate_series(1, len(toks) - 2),
        |          i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])) ELSE [] END AS g3
        |      FROM t),
        |m AS (SELECT doc_id,
        |        CAST(len(toks) AS BIGINT) AS n_tok,
        |        CAST(len(list_distinct(toks)) AS BIGINT) AS d_tok,
        |        CAST(len(g3) AS BIGINT) AS n_g3,
        |        CAST(len(list_distinct(g3)) AS BIGINT) AS d_g3
        |      FROM g)
        |SELECT doc_id, n_tok,
        |  CAST(((n_tok - d_tok) * 20000 + n_tok) // (2 * n_tok) AS DOUBLE) / 10000.0 AS dup_tok_frac,
        |  CAST(((n_g3 - d_g3) * 20000 + n_g3) // (2 * n_g3) AS DOUBLE) / 10000.0 AS dup_g3_frac
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_sim_sparse_full" ->
      """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, unnest(CASE WHEN len(toks) - 2 >= 1 THEN
        |         list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |           i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))) ELSE [] END) AS g
        |       FROM t0),
        |kept AS (SELECT sh.doc_id, sh.g FROM sh
        |         JOIN (SELECT g FROM sh GROUP BY g HAVING count(*) <= 100) d USING (g)),
        |nrm AS (SELECT doc_id, sqrt(CAST(count(*) AS DOUBLE)) AS n FROM kept GROUP BY doc_id),
        |dots AS (SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS DOUBLE) AS dot
        |         FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2),
        |cs AS (SELECT da, db, round(dot / (na.n * nb.n), 4) AS cos FROM dots
        |       JOIN nrm na ON na.doc_id = dots.da
        |       JOIN nrm nb ON nb.doc_id = dots.db)
        |SELECT da, db, cos FROM cs WHERE cos >= 0.2 ORDER BY da, db""".stripMargin,

    "q_sim_sparse" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE doc_id < 100),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
        |nrm AS (SELECT doc_id, sqrt(sum(tf * tf)) AS n FROM tf GROUP BY doc_id),
        |dots AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, sum(a.tf * b.tf) AS dot
        |  FROM tf a JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT d.da, d.db, round(d.dot / (na.n * nb.n), 4) AS cos
        |FROM dots d
        |JOIN nrm na ON d.da = na.doc_id
        |JOIN nrm nb ON d.db = nb.doc_id
        |WHERE round(d.dot / (na.n * nb.n), 4) >= 0.75
        |ORDER BY d.da, d.db""".stripMargin,

    "q_str_ngrams" ->
      """SELECT g, count(*) AS cnt FROM (
        |  SELECT unnest(list_transform(generate_series(1, length(text) - 2),
        |    i -> substr(text, i, 3))) AS g
        |  FROM documents) t
        |GROUP BY g ORDER BY cnt DESC, g ASC LIMIT 30""".stripMargin,

    "q_array_funcs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents)
        |SELECT doc_id,
        |  CAST(len(tokens) AS INTEGER) AS n_tok,
        |  CAST(len(list_distinct(tokens)) AS INTEGER) AS n_uniq,
        |  list_contains(tokens, 'spark') AS has_spark,
        |  array_to_string(list_sort(list_distinct(tokens))[1:5], ' ') AS first5,
        |  CAST(len(flatten([tokens, tokens])) AS INTEGER) AS n2
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_array_hof" ->
      """SELECT doc_id,
        |  CAST(coalesce(list_sum(list_transform(
        |    list_filter(string_split(text, ' '), t -> len(t) >= 5),
        |    t -> len(t))), 0) AS INTEGER) AS chars5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_lang_id" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(toks, t -> list_contains(['order','table','row'], t))) AS INTEGER) AS s_en,
        |  CAST(len(list_filter(toks, t -> list_contains(['customer','merge'], t))) AS INTEGER) AS s_de,
        |  CAST(len(list_filter(toks, t -> list_contains(['slow','agg'], t))) AS INTEGER) AS s_es,
        |  CAST(len(list_filter(toks, t -> list_contains(['scan','query'], t))) AS INTEGER) AS s_fr,
        |  CAST(len(list_filter(toks, t -> list_contains(['small','big'], t))) AS INTEGER) AS s_zh
        |FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS pred,
        |  (CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END = lang) AS hit
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      """WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
        |q AS (SELECT doc_id,
        |  CAST(len(toks) AS INTEGER) AS n_tok,
        |  CAST(n_chars - (len(toks) - 1) AS DOUBLE) / len(toks) AS avg_wlen,
        |  CAST(len(list_filter(toks, t -> list_contains(['a','the','of'], t))) AS DOUBLE)
        |    / len(toks) AS stop_ratio,
        |  CAST(len(toks) AS INTEGER) AS nt
        |FROM t)
        |SELECT doc_id, n_tok, avg_wlen, stop_ratio,
        |  stop_ratio * 0.3 + CAST(least(nt, 100) AS DOUBLE) / 100.0 * 0.7 AS score,
        |  CASE WHEN stop_ratio * 0.3 + CAST(least(nt, 100) AS DOUBLE) / 100.0 * 0.7 >= 0.5 THEN 'high'
        |       WHEN stop_ratio * 0.3 + CAST(least(nt, 100) AS DOUBLE) / 100.0 * 0.7 >= 0.3 THEN 'mid'
        |       ELSE 'low' END AS bucket
        |FROM q ORDER BY doc_id""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS INTEGER) AS bpe_ish,
        |  CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_redact" ->
      """SELECT doc_id,
        |  regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_hits
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_vocab_topk" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |vocab AS (SELECT token, count(*) AS cf, count(DISTINCT doc_id) AS df
        |          FROM tok GROUP BY token),
        |ranked AS (SELECT *, CAST(row_number() OVER (ORDER BY cf DESC, token ASC) AS INTEGER) AS rank
        |           FROM vocab)
        |SELECT rank, token, cf, df,
        |  CAST(sum(cf) OVER (ORDER BY rank ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cf
        |FROM ranked WHERE rank <= 50 ORDER BY rank""".stripMargin,

    "q_sample_split" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_sample_stratified" ->
      """SELECT lang, doc_id, rn FROM (
        |  SELECT lang, doc_id, CAST(row_number() OVER (
        |    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS INTEGER) AS rn
        |  FROM documents) t
        |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,

    "q_tfidf" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, lang, term, count(*) AS tf FROM tok GROUP BY doc_id, lang, term),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (SELECT lang, tf.term AS term, round(sum(tf * ln(CAST(n.n AS DOUBLE) / df.df)), 6) AS score
        |       FROM tf CROSS JOIN n JOIN df ON tf.term = df.term
        |       GROUP BY lang, tf.term)
        |SELECT lang, term, score, rn FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY score DESC, term ASC) AS INTEGER) AS rn
        |  FROM sc) t
        |WHERE rn <= 3 ORDER BY lang ASC, rn ASC""".stripMargin,
  )
}
