package perfbench

import graft.operators.{DedupOps, VectorOps}
import graft.sources.{AssetIngest, TextIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Searches served while the collection keeps changing. Set-up builds the
  * MinHash, text and IVF indexes from a seeded half of a document pool,
  * the text index with 3 live delta segments. Each cycle runs four
  * searches (BM25, phrase, IVF, hybrid) at 3 deltas, ingests one window of
  * the other half through the production write path (quality gate,
  * in-batch dedup, index probe, landing, MinHash and text index append,
  * auto-compaction at 4 deltas, so the first window compacts), then runs
  * BM25 again on the compacted index. The seed picks the pool
  * half, the window order and every search term (one of `Variants` pinned
  * op sequences). */
object RetrievalRw {
  val Variants = 4
  val PoolDocs = 1000L
  val Window = 50
  /** Windows also re-send a few already-indexed texts under new ids. */
  val Resent = 4
  /** Cycles pinned per variant; a run never goes past them. */
  val PinnedCycles = 6
  val IvfCells = 16
  /** Live text-index deltas after set-up, and documents in each. */
  val SetupDeltas = 3
  val DeltaDocs = 20

  final case class State(docsDir: String, mh: String, ti: String, ivf: String, land: String)

  private def idsOf(rows: Array[Row]): String = {
    val f = rows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil)
    val idCol = Seq("doc_id", "vec_id", "id").find(f.contains).getOrElse("doc_id")
    rows.map(_.getAs[Any](idCol)).mkString(s"${rows.length}:", ",", "")
  }

  def run(c: Ctx): Unit = {
    val s = c.spark
    import s.implicits._
    val v = java.lang.Math.floorMod(c.seed, Variants.toLong).toInt
    val rnd = new scala.util.Random(v)
    val from = v * 100000L
    val inBoot = pmod(xxhash64(col("doc_id"), lit(900 + v)), lit(2L)) === 0
    // one set-up per run: building the indexes takes 20-30 s, so repeating
    // it would not fit the run budget
    val base = c.dir("retrieval")
    val st = c.setupRep {
      val docsDir = s"$base/pool"
      c.sub("setup.inputs") {
        Data.write(Data.documents(s, from, PoolDocs), s"$docsDir/documents.parquet", Some("doc_id"))
        Data.write(Data.embeddings(s, from, PoolDocs), s"$docsDir/embeddings.parquet", Some("vec_id"))
      }
      val boot = s.read.parquet(s"$docsDir/documents.parquet").where(inBoot)
      val stt = State(docsDir, s"$base/minhash", s"$base/textindex", s"$base/ivf", s"$base/landing")
      // SetupDeltas * DeltaDocs bootstrap docs, picked by a seeded hash,
      // go in as delta segments after the base build
      val rank = pmod(xxhash64(col("doc_id"), lit(970 + v)), lit(1000000007L))
      val cut = boot.select(rank.as("r")).orderBy(col("r").desc)
        .limit(SetupDeltas * DeltaDocs).collect().map(_.getLong(0))
      c.sub("setup.index_build") {
        c.sub("setup.index_build.minhash")(
          DedupOps.writeMinhashIndex(s, boot.select("doc_id", "source", "text"), stt.mh))
        c.sub("setup.index_build.text") {
          TextIndex.build(s, stt.ti, boot.where(!rank.isin(cut: _*)).select("doc_id", "text"))
          cut.grouped(DeltaDocs).foreach(part =>
            TextIndex.append(s, stt.ti, boot.where(rank.isin(part: _*)).select("doc_id", "text")))
        }
        c.sub("setup.index_build.ivf")(VectorOps.writeIvfIndex(
          s.read.parquet(s"$docsDir/embeddings.parquet")
            .join(boot.select(col("doc_id").as("vec_id")), "vec_id"),
          IvfCells, stt.ivf))
      }
      stt
    }

    val docs = s.read.parquet(s"${st.docsDir}/documents.parquet")
    val bootRows = docs.where(inBoot).select("doc_id", "source", "text").orderBy("doc_id").collect()
    val restRows = docs.where(!inBoot).select("doc_id", "source", "text")
      .orderBy(xxhash64(col("doc_id"), lit(950 + v)), col("doc_id")).collect()
    val emb = s.read.parquet(s"${st.docsDir}/embeddings.parquet").orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def utf8(t: String) = t.getBytes("UTF-8").length.toLong
    val bootBytes = bootRows.map(r => utf8(r.getString(2))).sum
    var offeredBytes = 0L
    c.report("variant") = v
    c.report("bootstrap_docs") = bootRows.length
    c.report("window_docs") = Window + Resent

    val textMs = Seq.fill(SetupDeltas + 1)(ArrayBuffer[Double]())
    val ingestStats = ArrayBuffer[(Long, Long, Long, Boolean)]() // offered, bytes, admitted, compacted
    val cycles = if (c.short) 1 else PinnedCycles
    val windows = restRows.grouped(Window).toSeq
    c.startClock()
    var k = 0
    var lastCycleS = 0.0
    // whole cycles only: the next one starts if it should end in time
    while (k < cycles && k < windows.size &&
        (k == 0 || c.pins.pinning || c.measuredS + lastCycleS <= c.seconds)) {
      val t0 = System.nanoTime()
      // draws happen in a fixed order, so each variant's op sequence is fixed
      val common = Data.vocab(rnd.nextInt(Data.vocab.size))
      val rare = s"w${rnd.nextInt(40)}"
      val phraseDoc = bootRows(rnd.nextInt(bootRows.length)).getString(2).split(" ")
      val at = rnd.nextInt(phraseDoc.length - 1)
      val phrase = phraseDoc.slice(at, at + 2).toSeq
      val ivfQ = bootRows(rnd.nextInt(bootRows.length)).getLong(0)
      val denseQ = emb(from + rnd.nextInt(PoolDocs.toInt))
      val lexQ = Data.vocab(rnd.nextInt(Data.vocab.size))
      val resent = Seq.fill(Resent)(bootRows(rnd.nextInt(bootRows.length)))
      def liveDeltas = if (c.tracer.isDefined) TextIndex.status(s, st.ti).deltaSegments else -1
      def key(op: String) = s"v$v.c$k.$op"
      def textSearches(when: String): Int = {
        val deltas = liveDeltas
        def one(op: String)(f: => DataFrame): Unit =
          c.op("sources.textindex", "search", op)(f.collect())(r => c.pins.check(key(when + op), idsOf(r)))
            .foreach { case (_, ms) => if (deltas >= 0 && deltas <= SetupDeltas) textMs(deltas) += ms }
        one("bm25")(TextIndex.searchBm25(s, st.ti, Seq(common, rare), 10))
        if (when.isEmpty) one("phrase")(TextIndex.searchPhrase(s, st.ti, phrase, 10))
        deltas
      }
      val deltas = textSearches("")
      c.op("operators.vector", "search", "ivf") {
        val (cb, postings) = VectorOps.readIvfIndex(s, st.ivf)
        VectorOps.ivfSearch(cb, postings, queryId = ivfQ, nprobe = 2, k = 10).collect()
      }(r => c.pins.check(key("ivf"), idsOf(r)))
      c.op("operators.vector", "search", "hybrid")(
        VectorOps.hybridSearchBatch(s, st.ti, st.ivf,
          Seq((1L, denseQ)).toDF("qid", "embedding"), Seq((1L, lexQ)).toDF("qid", "term"),
          k = 10).collect())(r => c.pins.check(key("hybrid"), idsOf(r)))

      val win = windows(k).map(r => (r.getLong(0), r.getString(1), r.getString(2))) ++
        resent.zipWithIndex.map { case (r, i) => (900000L + k * 100 + i, r.getString(1), r.getString(2)) }
      val winBytes = win.map(w => utf8(w._3)).sum
      offeredBytes += winBytes
      val batch = win.toSeq.toDF("doc_id", "source", "text")
      c.op("sources.ingest", "ingest", s"window$k")(
        AssetIngest.ingestTextBatch(s, batch, st.mh, st.land, batchId = Some(s"w$k"),
          textIndexDir = Some(st.ti)))(rep => c.pins.check(key("ingest"), rep.toString))
        .foreach { case (rep, _) => ingestStats += ((win.size.toLong, winBytes, rep.admitted, false)) }
      val after = textSearches("post_")
      if (after >= 0 && after < deltas && ingestStats.nonEmpty)
        ingestStats(ingestStats.size - 1) = ingestStats.last.copy(_4 = true)
      lastCycleS = (System.nanoTime() - t0) / 1e9
      k += 1
    }
    val onDisk = Seq(st.mh, st.ti, st.ivf, st.land).map(Files2.du).sum
    c.report("cycles") = k
    c.report("index_and_landing_bytes") = onDisk
    c.report("space_amp") = onDisk.toDouble / (bootBytes + offeredBytes)
    c.report("text_search_ms_by_deltas") = textMs.map(_.toSeq)
    c.report("ingest_windows") = ingestStats.map { case (o, b, a, cp) =>
      Map("offered" -> o, "text_bytes" -> b, "admitted" -> a, "compacted" -> cp) }.toSeq
    c.report("text_index_bytes") = Files2.du(st.ti)
  }
}
