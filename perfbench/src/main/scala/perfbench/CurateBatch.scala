package perfbench

import graft.operators.DedupOps
import graft.sources.CurationPipeline

/** Repeated passes of the daily curation job over one seeded corpus:
  * curate + split landing, the DedupOps near-duplicate family, then the
  * pretraining layout + shard landing. The seed picks the corpus (one of
  * `Variants` disjoint id ranges, each with its own pinned results). */
object CurateBatch {
  val Variants = 4
  val CorpusDocs = 1200L
  val dedup = Seq("q_dedup_minhash", "q_dedup_simhash", "q_dedup_ngram_jaccard",
    "q_dedup_containment")
  /** Mixture rates per source: a few up-sampled, a few down-sampled. */
  val rates: Map[String, Double] = (0 until 20).map { i =>
    s"src$i" -> (if (i < 4) 2.0 else if (i < 8) 0.5 else 1.0)
  }.toMap

  def variant(seed: Long): Int = java.lang.Math.floorMod(seed, Variants.toLong).toInt

  def run(c: Ctx): Unit = {
    val v = variant(c.seed)
    val reps = if (c.short) 1 else 3
    val corpus = (1 to reps).map { r =>
      val d = c.dir(s"curate/corpus$r")
      c.setupRep(c.sub("setup.inputs")(
        Data.write(Data.documents(c.spark, v * CorpusDocs, CorpusDocs), s"$d/documents.parquet")))
      d
    }.last
    val textBytes = c.spark.read.parquet(s"$corpus/documents.parquet")
      .selectExpr("sum(octet_length(text))").head().getLong(0)
    c.report("variant") = v
    c.report("corpus_docs") = CorpusDocs
    c.report("corpus_text_bytes") = textBytes
    c.startClock()
    val passWall = scala.collection.mutable.ArrayBuffer[Double]()
    var pass = 0
    // whole passes only: the next one starts if it should end in time
    while (pass == 0 || (!c.short && !c.pins.pinning && c.measuredS + passWall.last <= c.seconds)) {
      val t0 = System.nanoTime()
      onePass(c, v, corpus, c.dir(s"curate/out$pass"))
      passWall += (System.nanoTime() - t0) / 1e9
      Files2.deleteTree(java.nio.file.Paths.get(c.dir(s"curate/out$pass")))
      pass += 1
    }
    c.report("passes") = pass
    c.report("pass_s") = passWall.toSeq
    c.report("docs_per_s") = CorpusDocs * pass / passWall.sum
  }

  private def onePass(c: Ctx, v: Int, corpus: String, out: String): Unit = {
    val s = c.spark
    def readBack(path: String) = Digest.of(s.read.parquet(path).collect())
    c.op("sources.curation", "curate", "curate")(
      CurationPipeline.writeSplits(CurationPipeline.curate(s, corpus), s"$out/splits"))(
      _ => c.pins.check(s"v$v.curate", readBack(s"$out/splits")))
    dedup.foreach { name =>
      c.op("operators.dedup", "dedup", name)(
        DedupOps.queries(name)(s, corpus).collect())(
        rows => c.pins.check(s"v$v.$name", Digest.of(rows)))
    }
    c.op("sources.curation", "layout", "layout")(
      CurationPipeline.writeShards(
        CurationPipeline.pretrainingLayout(s, corpus, rates), s"$out/shards"))(
      _ => c.pins.check(s"v$v.layout", readBack(s"$out/shards")))
  }
}
