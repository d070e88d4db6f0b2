package graft

import graft.functions.TokenNgrams
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, LambdaFunction}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression guards: PLANS.md documents the audited plans,
  * but these asserts make the load-bearing shapes FAIL the build if a
  * refactor regresses them — top-k fusion, broadcast choice, the absence
  * of nested-loop joins on the linear dedup paths, and map-side window
  * group limits on rank-filtered tops.
  */
class PlanShapeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  /** AQE-final physical plan text, after executing this plan instance. */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.execute().count()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("top-k queries fuse to TakeOrderedAndProject (no global sort)") {
    assert(finalPlan("q_topk").contains("TakeOrderedAndProject"))
    assert(finalPlan("q_vocab_topk").contains("TakeOrderedAndProject"))
  }

  test("flagship join broadcasts the dimension and never nested-loops") {
    val p = finalPlan("q_join_bhj")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("linear dedup paths carry no nested-loop or cartesian join") {
    for (q <- Seq("q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash",
        "q_dedup_ngram_jaccard", "q_dedup_embed")) {
      val p = finalPlan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q grew a nested-loop/cartesian join")
    }
  }

  test("rank-filtered per-group tops get map-side WindowGroupLimit") {
    // q_sample_stratified (rn <= 5 per lang) and q_win_topn rely on the
    // partial group limit so only k rows per map task reach the shuffle
    assert(finalPlan("q_sample_stratified").contains("WindowGroupLimit"))
    assert(finalPlan("q_win_topn").contains("WindowGroupLimit"))
  }

  test("runtime bloom filter prunes the fact side of a selective dim join at scale settings") {
    // At 100 TB the biggest shuffle saver Spark offers for a selective
    // dim-fact SHUFFLE join is the runtime bloom filter: the selective
    // (dimension) side builds a bloom filter that is pushed into the
    // fact scan, dropping non-joining rows BEFORE the exchange. The
    // injection rule is size-gated (fact side must look >= 10 GB by
    // default), so the sf0.001 fixture needs the application-side
    // threshold dropped and auto-broadcast disabled (a broadcast join
    // would not need the filter) to demonstrate the plan shape a real
    // fact table gets for free.
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      import org.apache.spark.sql.functions._
      val dim = Tables.orders(spark, sf)
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val fact = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("bloomfilter"),
        "no runtime bloom filter injected on the fact side:\n" + plan.take(2000))
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("flagship join RELEASES the fact-side broadcast past the byte threshold") {
    // The other half of the broadcastIfSmall contract (round-3 advice
    // item 7): with the orders byte-bound forced to 100 GB — what a real
    // fact table reports — and AQE's own broadcast disabled, the
    // fact-side join must degrade to a shuffle join instead of pinning a
    // broadcast the driver could never ship. Only the filtered customer
    // DIMENSION keeps its (unconditional, scale-safe) broadcast pin.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.operators.Joins.joinBhjWith(spark, sf, ordersBytes = 100L << 30)
      df.queryExecution.executedPlan.execute().count()
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(p.contains("SortMergeJoin"),
        s"fact-side join did not degrade to SMJ past the threshold:\n$p")
      val bhj = "BroadcastHashJoin".r.findAllIn(p).length
      assert(bhj === 1, s"expected only the pinned dimension broadcast, got $bhj:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** Higher-order pieces of a logical plan. A transform(sequence(..),
    * i -> concat_ws(' ', element_at(toks, i), ..)) shingle recipe lets
    * Catalyst inline split(text, ' ') into the lambda, re-splitting the
    * document once per element_at. */
  private def higherOrder(p: LogicalPlan): Seq[String] = {
    val found = scala.collection.mutable.ArrayBuffer[String]()
    p.foreach(_.expressions.foreach(_.foreach { e =>
      if (e.isInstanceOf[ArrayTransform] || e.isInstanceOf[LambdaFunction]) found += e.prettyName
    }))
    found.toSeq
  }

  /** The most `graft_ngrams` evaluations any input row meets: the
    * largest count of kernel calls along one leaf-to-root path. A filter
    * on `size(sh)` is pushed below the shingle projection and makes it 2. */
  private def ngramsPerRow(p: LogicalPlan): Int =
    p.expressions.map(_.collect { case t: TokenNgrams => t }.size).sum +
      (if (p.children.isEmpty) 0 else p.children.map(ngramsPerRow).max)

  /** Optimized plans of every query `body` runs. */
  private def plansOf(body: => Unit): List[LogicalPlan] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = scala.collection.mutable.ArrayBuffer[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.optimizedPlan }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toList)
  }

  test("token n-gram paths carry no per-element lambda (the tokenizer cannot inline)") {
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    val refine = graft.operators.DedupOps.nearDupCorpus(spark, sf)
    assert(higherOrder(refine.queryExecution.optimizedPlan).isEmpty,
      refine.queryExecution.optimizedPlan.toString.take(3000))
    val profile = SparkEntry.queries("q_ngram_dup_profile")(spark, sf)
    assert(higherOrder(profile.queryExecution.optimizedPlan).isEmpty,
      profile.queryExecution.optimizedPlan.toString.take(3000))
    // the MinHash index write: every write command it runs, captured
    val dir = java.nio.file.Files.createTempDirectory("plan-shape-minhash").toString + "/idx"
    val writes = plansOf(
      graft.operators.DedupOps.writeMinhashIndex(spark, Tables.documents(spark, sf), dir))
    val shingleWrite = writes.filter(_.exists {
      case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString.endsWith("/shingles")
      case _ => false
    })
    assert(shingleWrite.nonEmpty, "the shingles table write was not observed")
    shingleWrite.foreach(p => assert(higherOrder(p).isEmpty, p.toString.take(3000)))
  }

  test("every shingle consumer runs the n-gram kernel once per row") {
    val corpus = graft.operators.DedupOps.nearDupCorpus(spark, sf).queryExecution.optimizedPlan
    assert(ngramsPerRow(corpus) === 1, corpus.toString.take(3000))
    val fingerprint = SparkEntry.queries("q_doc_fingerprint")(spark, sf).queryExecution.optimizedPlan
    assert(ngramsPerRow(fingerprint) === 1, fingerprint.toString.take(3000))
    // the ingest's in-batch refine, and every other plan the ingest runs
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("plan-shape-ingest").toString
    val batch = (1L to 12L).map(i => (i, "s", (1 to 30).map(t => s"w${i % 4}_$t").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val plans = plansOf(graft.sources.AssetIngest.ingestTextBatch(
      spark, batch, s"$base/idx", s"$base/data", batchId = Some("b0")))
    assert(plans.exists(ngramsPerRow(_) == 1), "no ingest plan shingled its batch")
    plans.foreach(p => assert(ngramsPerRow(p) <= 1, p.toString.take(3000)))
  }

  test("sessionize keeps a single exchange keyed on user_id") {
    val p = finalPlan("q_sessionize")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges === 1, s"expected exactly 1 hash exchange, got $exchanges:\n$p")
  }
}
