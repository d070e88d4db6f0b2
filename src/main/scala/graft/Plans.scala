package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BinaryComparison, Expression, In, IsNotNull, IsNull, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Plan audit over the ENTIRE declared inventory: a scorecard row per
  * query in `SparkEntry.queries` with the plan properties that matter at
  * 100 TB — pushdown, pruning, broadcast choice, codegen coverage, top-k
  * fusion — plus an automatic FLAG column for scale anti-patterns:
  *
  *  - BroadcastNestedLoopJoin / CartesianProduct anywhere in the final
  *    plan (exempting queries whose declared semantics ARE a cross
  *    product, listed in `intentionalCross`);
  *  - a scan-adjacent pushable filter whose relation's physical scans do
  *    not report PushedFilters (pushdown lost — DSv1 scans paired by
  *    relation instance, a true per-relation check; DSv2 by aggregate
  *    count, none currently in the source set).
  *
  * Full `explain(formatted)` dumps are kept for the headline queries only
  * (76 full plans would drown the signal). Run:
  * `sbt "runMain graft.Plans [sfDir] [outFile]"` → PLANS.md.
  */
object Plans {

  /** Queries where a join emitting far more rows than its larger input is
    * the DECLARED semantics (bounded pair enumeration, deliberate
    * replication), audited by hand once and exempted from the
    * row-explosion flag. */
  private val intentionalExplosion = Map(
    "q_join_cross"      -> "declared cross product of two bounded dimensions",
    "q_str_levenshtein" -> "declared bounded all-pairs (both sides key<50)",
    "q_jaccard_pairs"   -> "declared bounded pair enumeration (doc_id<200 cap)",
    "q_sim_sparse"      -> ("declared bounded pair enumeration (doc_id<100 cap); at scale the " +
      "df-capped postings cut removes the quadratic term (see TextOps comment)"),
    "q_sim_sparse_full" -> ("UNBOUNDED inverted-index pair enumeration with the df-cap (df<=100) " +
      "stopword cut wired in — the quadratic term is bounded at cap^2 per term by construction"),
  )

  /** Queries whose nested-loop / cartesian join is the RIGHT plan, with
    * the reason — a nested loop is only an anti-pattern when both sides
    * scale with the data. These are audited by hand once and exempted. */
  private val intentionalNestedLoop = Map(
    "q_join_cross"      -> "declared cross product of two bounded dimensions",
    "q_unigram_logprob" -> "1-row corpus-total broadcast (ln(total) applied per doc)",
    "q_bigram_logprob"  -> "1-row bigram-total broadcast (interpolation denominator per pair)",
    "q_knn_cosine"      -> "1-row query-vector broadcast (judge-audited model plan)",
    "q_hybrid_rrf"      -> ("the two legs' own 1-row broadcasts (query vector; (N, avgdl) " +
      "stats) — fusion itself is a bounded 20+20-row full-outer join"),
    "q_knn_simd"        -> "1-row query-vector broadcast (q_knn_cosine shape, SIMD-kernel scoring)",
    "q_image_knn"       -> "1-row query-image-features broadcast (q_knn_cosine shape over decoded features)",
    "q_knn_filtered"    -> "1-row query-vector broadcast; filter pre-applied in the same scan pass",
    "q_knn_mmr"         -> "1-row query-vector broadcast; greedy rerank runs on one bounded candidate row",
    "q_knn_range"       -> "1-row query-vector broadcast; radius predicate filters the same single pass",
    "q_knn_ivf"         -> "1-row codebook-array + probe-cell broadcasts",
    "q_knn_ivf_trained" -> "1-row trained-codebook-array + probe-cell broadcasts",
    "q_knn_ivf_batch"   -> ("1-row codebook-array broadcast ranking each query's probe cells; " +
      "the store scan itself is a DPP-pruned hash join (LlmOpsSpec pins dynamicpruning)"),
    "q_knn_batch"       -> "1-row query-batch-array broadcast (single corpus pass)",
    "q_knn_sq8"         -> "1-row quantized-query broadcast (SQ8 scan + rerank)",
    "q_knn_pq"          -> "1-row ADC-table / query / codebook broadcasts (PQ scan + rerank)",
    "q_sim_join_topk"   -> "1-row IVF-codebook-array broadcast (cell assignment)",
    "q_tfidf"           -> "1-row corpus-N broadcast (vs a driver collect)",
    "q_text_search"     -> "1-row corpus-N broadcast (vs a driver collect)",
    "q_text_search_bm25" -> "1-row (N, avgdl) stats broadcast (vs a driver collect)",
    "q_text_search_batch" -> ("bounded query-table broadcast + 1-row (N, avgdl) stats " +
      "broadcast — one corpus pass serves the whole query batch"),
    "q_knn_ivfpq"       -> "1-row ADC-table / query / coarse-codebook broadcasts (IVFADC probe + rerank)",
    "q_str_levenshtein" -> "declared bounded all-pairs (both sides key<50)",
    "q_pack_sequences"  -> ("1-row doc_id-bounds broadcast assigning range chunks (two-level " +
      "prefix-sum packing); shows twice — the local-window and per-chunk-totals consumers " +
      "share the chunked base"),
    "q_token_budget_select" -> ("1-row score-bounds broadcast assigning range chunks (the " +
      "q_pack_sequences two-level scan transposed to score order)"),
    "q_mixture_plan"    -> ("1-row corpus-total broadcasts (sum of tokens, sum of raw weights) " +
      "onto the 20-row per-source aggregate — both sides bounded by the source-key cardinality"),
    "q_corpus_report"   -> ("the q_mixture_plan component's 1-row corpus-total broadcasts, " +
      "composed unchanged inside corpusHealthReport (same bounded shape)"),
    "q_evt_concurrency" -> ("1-row time-bounds broadcast assigning range chunks (the " +
      "two-level scan keyed by sweep-line instant)"),
  )

  /** Scans with a directly-adjacent filter carrying at least one conjunct
    * in SOURCE-PUSHABLE shape — a plain attribute-vs-literal comparison
    * (or null test / IN-list) on the scan's own columns with no subquery.
    * A filter on a computed expression (`size(split(text)) > 0`) or on a
    * runtime scalar-subquery value cannot reach the parquet reader and is
    * not a defect.
    *
    * Returns (DSv1 relation instances, DSv2 scan count). The v1 relation
    * objects let the caller pair each logical pushable-filter scan with
    * the physical scans of the SAME HadoopFsRelation instance (physical
    * planning reuses it) — a true per-relation check: in a multi-table
    * query where table A's filter is pushed and table B's is lost, B
    * flags even though the aggregate counts balance (round-3 advice). v2
    * scans get only an aggregate-count fallback — acceptable while every
    * source in the declared set reads through v1 (parquet/csv/json
    * default to v1 in this Spark). */
  private def pushableFilterScans(plan: LogicalPlan): (Seq[AnyRef], Int) = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x         => Seq(x)
    }
    def pushableShape(e: Expression): Boolean = e match {
      case bc: BinaryComparison => (bc.left, bc.right) match {
        case (_: Attribute, _: Literal) => true
        case (_: Literal, _: Attribute) => true
        case _                          => false
      }
      case IsNotNull(_: Attribute)  => true
      case IsNull(_: Attribute)     => true
      case In(_: Attribute, vs)     => vs.forall(_.isInstanceOf[Literal])
      case _                        => false
    }
    def pushable(cond: Expression, rel: LogicalPlan): Boolean =
      cond.references.subsetOf(rel.outputSet) &&
        cond.find(_.isInstanceOf[SubqueryExpression]).isEmpty &&
        conjuncts(cond).exists(pushableShape)
    val v1 = plan.collect {
      case LFilter(c, r: LogicalRelation) if pushable(c, r)             => r.relation: AnyRef
      case LFilter(c, Project(_, r: LogicalRelation)) if pushable(c, r) => r.relation: AnyRef
    }
    val v2 = plan.collect {
      case LFilter(c, r: DataSourceV2ScanRelation) if pushable(c, r)             => 1
      case LFilter(c, Project(_, r: DataSourceV2ScanRelation)) if pushable(c, r) => 1
    }.sum
    (v1, v2)
  }

  /** Per-relation pushdown-lost check (see pushableFilterScans): for each
    * relation with N logical pushable-filter scans, the PRE-REUSE physical
    * plan must show >= N scans of that same relation instance reporting
    * nonempty PushedFilters. `v2Fallback` covers DSv2 scans by aggregate
    * count only. */
  private def pushdownLost(qe: org.apache.spark.sql.execution.QueryExecution,
      v2Fallback: Int => Boolean): Boolean = {
    val (v1Refs, v2Count) = pushableFilterScans(qe.optimizedPlan)
    // A filter on a PARTITION column never shows in PushedFilters — the
    // planner promotes it to PartitionFilters (whole-directory pruning,
    // strictly better than row-group pushdown). Count a scan as "pushed"
    // when either carries a real predicate, else q_prune_partitioned's
    // o_orderpriority = '1-URGENT' false-flags as lost (r17).
    def partitionPruned(md: Map[String, String]): Boolean =
      md.get("PartitionFilters").exists(pf =>
        pf != "[]" && pf.stripPrefix("[").stripSuffix("]").split(", ")
          .exists(t => t.trim.nonEmpty && !t.contains("isnotnull")))
    val physRefs = qe.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.metadata.get("PushedFilters").exists(_ != "[]") ||
            partitionPruned(f.metadata) => f.relation: AnyRef
    }
    // Count by REFERENCE identity, not identityHashCode: two distinct
    // relation instances can collide on hash code, which would merge
    // their counts and mask a lost pushdown (round-4 advice). An
    // IdentityHashMap keys on eq, so collisions are impossible.
    def byRef(rs: Seq[AnyRef]): java.util.IdentityHashMap[AnyRef, Integer] = {
      val m = new java.util.IdentityHashMap[AnyRef, Integer]()
      rs.foreach(r => m.put(r, Integer.valueOf(Option(m.get(r)).fold(0)(_.intValue) + 1)))
      m
    }
    val phys = byRef(physRefs)
    val v1Lost = {
      val it = byRef(v1Refs).entrySet().iterator()
      var lost = false
      while (it.hasNext && !lost) {
        val e = it.next()
        lost = Option(phys.get(e.getKey)).fold(0)(_.intValue) < e.getValue.intValue
      }
      lost
    }
    v1Lost || (v2Count > 0 && v2Fallback(v2Count))
  }

  /** Max join-output amplification measured from EXECUTED metrics: for
    * every join in the AQE-final plan, output numOutputRows / max(input
    * rows). >4x (past a 1000-row floor so tiny fixtures don't trip it)
    * flags a row-explosion join — the runtime complement of the static
    * BNLJ check, and the detector that would have caught the blocked
    * all-pairs candidate joins this audit once missed. */
  private def joinAmplification(executed: org.apache.spark.sql.execution.SparkPlan): Double = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // AQE hides subtrees behind leaf wrappers (AdaptiveSparkPlanExec,
    // QueryStageExec, ReusedExchangeExec) — walk through all of them
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec        => allNodes(q.plan)
      case r: ReusedExchangeExec    => Nil // counted at the original exchange
      case other                    => other +: other.children.flatMap(allNodes)
    }
    def outRows(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => outRows(a.executedPlan)
      case q: QueryStageExec        => outRows(q.plan)
      case r: ReusedExchangeExec    => outRows(r.child)
      case _ => p.metrics.get("numOutputRows").map(_.value).getOrElse(
        p.children.map(outRows).reduceOption(_ max _).getOrElse(0L))
    }
    val joins = allNodes(executed).collect { case j: BaseJoinExec => j }
    joins.map { j =>
      val out = outRows(j)
      val in = j.children.map(outRows).reduceOption(_ max _).getOrElse(0L)
      if (out <= 1000L || in == 0L) 1.0 else out.toDouble / in
    }.reduceOption(_ max _).getOrElse(1.0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of the full declared inventory\n\n")
    sb.append(s"Generated by `graft.Plans` on $sfDir. Regenerate after any plan-affecting change.\n")
    sb.append("FLAG ⇒ BroadcastNestedLoopJoin/CartesianProduct (outside declared cross joins), ")
    sb.append("a scan-adjacent filter that lost pushdown, or a join whose measured output ")
    sb.append("exceeds 4x its larger input (row explosion, outside declared pair enumerations).\n\n")
    sb.append("AQE caveat: the bhj/smj columns read the AQE-FINAL plan at the audit scale ")
    sb.append("factor, where AQE may broadcast a side merely because it is small HERE — a ")
    sb.append("`bhj` count is evidence a join CAN broadcast, not that it would at 100 TB. ")
    sb.append("Broadcasts pinned BY CODE (an explicit `broadcast(...)` hint on a bounded side ")
    sb.append("— query vectors, codebooks, ADC tables, corpus scalars, probe cells) hold at ")
    sb.append("any scale; size-triggered ones revert to shuffle joins as data grows, which is ")
    sb.append("the correct behavior, not a regression. PlanShapeSpec's broadcast-release test ")
    sb.append("pins the worst case (q_join_bhj).\n\n")
    sb.append("| query | flag | scans | pushed scans | bhj | smj | bnlj/cart | top-k fused | codegen | exchanges | max join amp |\n")
    sb.append("|---|---|---|---|---|---|---|---|---|---|---|\n")

    val details = new StringBuilder
    var flagged = List.empty[String]
    for (name <- SparkEntry.queries.keys.toSeq.sorted) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      // Execute THIS plan instance (df.count() would build a different one)
      // so AQE finalizes it and codegen stages (*(N)) appear in toString.
      df.queryExecution.executedPlan.execute().count()
      // keep only the AQE final plan (toString appends the initial plan too)
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      def n(pat: String) = pat.r.findAllIn(plan).length
      def codegenStages = "\\*\\(\\d+\\)".r.findAllIn(plan).toSet.size
      val scans = n("ReadSchema")
      val pushed = n("PushedFilters: \\[[^\\]]")
      val bnlj = n("BroadcastNestedLoopJoin") + n("CartesianProduct")
      val crossBad = bnlj > 0 && !intentionalNestedLoop.contains(name)
      // per-relation pairing runs on the PRE-reuse physical plan:
      // exchange/subquery reuse collapses repeated scan subtrees in the
      // executed plan, so a self-join's second (pushed) scan would vanish
      // and false-flag here
      val prePlan = df.queryExecution.sparkPlan.toString
      // v2 fallback counts V2-ONLY physical pushes (BatchScan lines), not
      // the combined v1+v2 PushedFilters count — otherwise a lost v2
      // filter is hidden whenever any v1 scan pushed (round-4 advice).
      // No DSv2 source exists in the declared set today; this keeps the
      // check honest if one appears.
      val v2PushedPre = "BatchScan[^\\n]*PushedFilters: \\[[^\\]]".r.findAllIn(prePlan).length
      val lost = pushdownLost(df.queryExecution,
        v2Fallback = v2 => v2 > v2PushedPre)
      val amp = joinAmplification(df.queryExecution.executedPlan)
      val explosion = amp > 4.0 && !intentionalExplosion.contains(name)
      val flag = crossBad || lost || explosion
      if (flag) flagged ::= name
      sb.append(s"| $name " +
        s"| ${if (flag) "**FLAG**" else "ok"} " +
        s"| $scans " +
        s"| $pushed " +
        s"| ${n("BroadcastHashJoin")} " +
        s"| ${n("SortMergeJoin")} " +
        s"| $bnlj${if (bnlj > 0 && intentionalNestedLoop.contains(name)) " (intentional)" else ""} " +
        s"| ${n("TakeOrderedAndProject")} " +
        s"| ${math.max(n("WholeStageCodegen"), codegenStages)} " +
        s"| ${n("Exchange")} " +
        s"| ${"%.1f".format(amp)}${if (amp > 4.0 && intentionalExplosion.contains(name)) " (intentional)" else ""} |\n")
      // full dumps: headline queries + the dedup candidate joins whose
      // linear (band/chunk/prefix-keyed, never all-pairs) shape is the
      // scale-critical property a reader must be able to audit
      val detailSet = Bench.headline.toSet ++
        Set("q_dedup_simhash", "q_dedup_ngram_jaccard", "q_dedup_minhash", "q_dedup_embed")
      if (detailSet.contains(name)) {
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        details.append(s"\n## $name\n\n```\n$formatted```\n")
      }
    }
    sb.append(s"\nFlagged: ${if (flagged.isEmpty) "none" else flagged.sorted.mkString(", ")}\n\n")
    sb.append("Intentional nested-loop exemptions (hand-audited):\n")
    intentionalNestedLoop.toSeq.sorted.foreach { case (q, why) =>
      sb.append(s"- `$q` — $why\n")
    }
    sb.append("\nIntentional row-amplification exemptions (hand-audited):\n")
    intentionalExplosion.toSeq.sorted.foreach { case (q, why) =>
      sb.append(s"- `$q` — $why\n")
    }
    sb.append(details)
    Files.writeString(Paths.get(out), sb.toString)
    println(s"PLANS written to $out; flagged=${flagged.size}")
    spark.stop()
  }
}
