package perfbench

import graft.operators._

/** Seed-shuffled passes over declared queries of the relational modules,
  * on sf0.01-sized tables: query cost here is planning and scheduling,
  * which barely depends on size. Each query is planned (DataFrame built and
  * `executedPlan` forced), then fully materialized with `collect()`, so
  * every output column is computed; its row count and digest are checked
  * against the pinned values. */
object OlapMix {
  val modules: Seq[Map[String, graft.Q]] = Seq(Relational.queries, Aggregates.queries,
    Joins.queries, Sets.queries, Windows.queries, Events.queries, Reshape.queries)

  def queries: Seq[(String, graft.Q)] =
    modules.flatMap(_.toSeq).sortBy(_._1)

  /** The measured set: 24 of the 70 queries, spread over the 7 modules and
    * holding the relational headline queries. A run only has time for one
    * pass, and a fixed set keeps a run's work the same for every seed. The
    * pin run (`--pin`) covers all 70. */
  val measured = Seq("q_filter_compound", "q_topk", "q_case_when", "q_limit_offset",
    "q_agg_pricing", "q_agg_rollup", "q_agg_distinct", "q_agg_percentile",
    "q_agg_having", "q_agg_cube", "q_join_bhj", "q_join_anti", "q_join_smj",
    "q_join_semi", "q_join_outer", "q_set_union", "q_set_intersect",
    "q_win_topn", "q_win_running", "q_win_lag", "q_sessionize", "q_evt_tumbling",
    "q_evt_dedup", "q_unpivot")

  /** Queries run untimed before the clock, none of them in `measured`. */
  val warmup = Seq("q_agg_stats", "q_join_full", "q_win_rank", "q_evt_sliding",
    "q_set_except", "q_pivot")

  def run(c: Ctx): Unit = {
    val reps = if (c.short) 1 else 3
    val data = (1 to reps).map { r =>
      val d = c.dir(s"olap/tables$r")
      c.setupRep(c.sub("setup.inputs")(Data.writeStarSchema(c.spark, d)))
      d
    }.last
    val all = queries
    c.report("queries_declared") = all.size
    // untimed warm-up: a fresh JVM's first queries run 2-4x slower while the
    // planner's code is compiled, which would swamp the seed's query mix
    c.sub("warmup")(warmup.foreach(n => all.find(_._1 == n).foreach(_._2(c.spark, data).collect())))
    val set =
      if (c.pins.pinning) all
      else all.filter(q => measured.contains(q._1)).take(if (c.short) 3 else measured.size)
    c.startClock()
    var pass = 0
    var lastPassS = 0.0
    // whole passes only: the next one starts if it should end in time
    while (pass == 0 || (!c.short && !c.pins.pinning && c.measuredS + lastPassS <= c.seconds)) {
      val t0 = System.nanoTime()
      new scala.util.Random(c.seed * 1000003L + pass).shuffle(set).foreach { case (name, q) =>
        c.op("operators.relational", "query", name) {
          val df = c.sub("operators.relational.plan", name) {
            val df = q(c.spark, data)
            df.queryExecution.executedPlan
            df
          }
          c.sub("operators.relational.exec", name)(df.collect())
        }(rows => c.pins.check(name, Digest.of(rows)))
      }
      lastPassS = (System.nanoTime() - t0) / 1e9
      pass += 1
    }
    c.report("passes") = pass
    c.report("queries_per_pass") = set.size
  }
}
