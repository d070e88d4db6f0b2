package graft.operators

import graft.sources.TableWrite.TableWriteOps
import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pivot/unpivot and subquery operators — beyond SURVEY §2's rows but
  * squarely in the "every query a reference user runs" surface.
  * Subqueries go through spark.sql on per-query temp views so Catalyst's
  * scalar-subquery and decorrelation machinery (not a hand-built join) is
  * what executes.
  */
object Reshape {

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  val queries: Map[String, Q] = Map(
    // Wide pivot: per-user event-type counts. Explicit pivot values keep
    // the output schema static (no extra distinct-scan, deterministic
    // columns at any scale).
    "q_pivot" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", EventTypes)
        .count()
        .na.fill(0L, EventTypes)
        .orderBy("user_id")
    }),

    // Unpivot (melt): wide per-flag aggregates back to long (measure, value)
    // rows via Dataset.unpivot.
    "q_unpivot" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .unpivot(Array(col("l_returnflag")), Array(col("sum_qty"), col("sum_price")),
          "measure", "value")
        .orderBy("l_returnflag", "measure")
    }),

    // Uncorrelated scalar subquery: orders more than 1.5× the average
    // price (prices are uniform on [0, 2·avg], so 2× would select nothing).
    "q_subquery_scalar" -> ((s, d) => {
      // per-invocation view name: a fixed name would mutate shared session
      // state and collide if queries run concurrently in one session.
      // spark.sql RESOLVES the view at analysis time (the returned frame's
      // plan embeds the relation), so the view is dropped immediately —
      // the catalog doesn't accrete one entry per invocation in a
      // long-lived session — while execution stays lazy and correct.
      val v = freshView("orders_sq")
      Tables.orders(s, d).createOrReplaceTempView(v)
      try s.sql(
        s"""SELECT o_orderkey, o_totalprice FROM $v
           |WHERE o_totalprice > (SELECT 1.5 * avg(o_totalprice) FROM $v)
           |ORDER BY o_orderkey""".stripMargin)
      finally s.catalog.dropTempView(v)
    }),

    // SCD2 (type-2 slowly-changing dimension) build: per-customer order
    // status history compressed to CHANGE rows with half-open effective
    // ranges [eff_from, eff_to) — eff_to is the next change's eff_from
    // (exclusive), NULL marks the current row. Half-open ranges avoid
    // interval arithmetic entirely (the classic eff_to = next - 1 day
    // form bakes a grain assumption into the dimension); consecutive
    // same-status events collapse via lag() so the dimension records
    // transitions, not events. Change order within a customer is pinned
    // by (o_orderdate, o_orderkey) — a total order, so ties on the
    // timestamp are deterministic. Scale: both windows partition by
    // o_custkey (parallelism = #customers, no global window), and the
    // second window reuses the first's partitioning — one shuffle total.
    "q_scd2" -> ((s, d) => {
      scd2Build(Tables.orders(s, d)
          .select("o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate"))
        .orderBy("o_custkey", "eff_from", "o_orderkey")
    }),

    // Incremental SCD2 MERGE under the hash gate: the dimension is built
    // from pre-1997 events only, the rest arrive as the "day's batch"
    // through scd2Apply (open-row-seeded rebuild of affected customers,
    // O(batch) — never a full-history rebuild), and the oracle is the
    // FULL-history window build. Equality with the from-scratch answer
    // is the merge's entire contract; the date split guarantees the
    // strictly-later precondition by construction (open rows' eff_from
    // < split <= every batch date).
    "q_scd2_merge" -> ((s, d) => {
      val ev = Tables.orders(s, d)
        .select("o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate")
      val split = lit("1997-01-01").cast("timestamp")
      val dim = scd2Build(ev.where(col("o_orderdate") < split))
      scd2Apply(dim, ev.where(col("o_orderdate") >= split))
        .orderBy("o_custkey", "eff_from", "o_orderkey")
    }),

    // Incremental AGGREGATE maintenance under the driver's hash gate —
    // the q_scd2_merge discipline applied to grouped aggregates (the
    // building block of every materialized rollup / streaming-update
    // pipeline): batch A's partial aggregate lands as a persisted STATE
    // table (count + sum are the classic mergeable pair), batch B
    // merges into it by re-aggregation of state ∪ delta-partials, and
    // the oracle is the full recompute over the WHOLE table — so a
    // merge-arithmetic bug (double-counted state, a dropped new key, an
    // overwrite instead of an add) hash-fails instead of drifting
    // silently. All values are exact BIGINTs; at 100 TB the merge costs
    // O(state + batch), never a re-scan — exactly why the state table
    // exists. Batches split by order-key parity so both contain every
    // supplier at every SF.
    "q_incremental_agg" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_suppkey"), col("l_orderkey"),
          col("l_quantity").cast("bigint").as("qty"))
      val store = graft.plans.Scale.scratch(s, "incragg", d) + "/state"
      li.where(col("l_orderkey") % 2 === 0)
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_rows"), sum("qty").as("total_qty"))
        .tableWrite.mode("overwrite").parquet(store)
      val state = s.read.parquet(store)
      val delta = li.where(col("l_orderkey") % 2 === 1)
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("n_rows"), sum("qty").as("total_qty"))
      state.unionByName(delta)
        .groupBy("l_suppkey")
        .agg(sum("n_rows").as("n_rows"), sum("total_qty").as("total_qty"))
        .orderBy("l_suppkey")
    }),

    // Correlated scalar subquery: customers above their nation's average
    // balance — Catalyst decorrelates to an aggregate + join.
    "q_subquery_correlated" -> ((s, d) => {
      val v = freshView("customer_sq")
      Tables.customer(s, d).createOrReplaceTempView(v)
      try s.sql(
        s"""SELECT c_custkey, c_nationkey, c_acctbal FROM $v c
           |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM $v c2
           |                   WHERE c2.c_nationkey = c.c_nationkey)
           |ORDER BY c_custkey""".stripMargin)
      finally s.catalog.dropTempView(v)
    }),
  )

  private val viewSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private def freshView(prefix: String): String =
    s"${prefix}_${viewSeq.incrementAndGet()}"

  val oracle: Map[String, String] = Map(
    "q_pivot" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_unpivot" ->
      """SELECT l_returnflag, measure, value FROM (
        |  SELECT l_returnflag, 'sum_qty' AS measure, round(sum(l_quantity),2) AS value
        |  FROM lineitem GROUP BY l_returnflag
        |  UNION ALL
        |  SELECT l_returnflag, 'sum_price', round(sum(l_extendedprice),2)
        |  FROM lineitem GROUP BY l_returnflag) u
        |ORDER BY l_returnflag, measure""".stripMargin,

    "q_scd2" ->
      """WITH ev AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
        |         lag(o_orderstatus) OVER w AS prev
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |chg AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate FROM ev
        |  WHERE prev IS NULL OR prev <> o_orderstatus)
        |SELECT o_custkey, o_orderkey, o_orderstatus AS status,
        |       o_orderdate AS eff_from,
        |       lead(o_orderdate) OVER w AS eff_to,
        |       lead(o_orderdate) OVER w IS NULL AS is_current
        |FROM chg
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, eff_from, o_orderkey""".stripMargin,

    // the merge must equal the from-scratch build — same oracle as q_scd2
    // The incremental path's oracle is the FULL recompute — the
    // equivalence a materialized-aggregate merge must preserve.
    "q_incremental_agg" ->
      """SELECT l_suppkey, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    "q_scd2_merge" ->
      """WITH ev AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate,
        |         lag(o_orderstatus) OVER w AS prev
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |chg AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus, o_orderdate FROM ev
        |  WHERE prev IS NULL OR prev <> o_orderstatus)
        |SELECT o_custkey, o_orderkey, o_orderstatus AS status,
        |       o_orderdate AS eff_from,
        |       lead(o_orderdate) OVER w AS eff_to,
        |       lead(o_orderdate) OVER w IS NULL AS is_current
        |FROM chg
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, eff_from, o_orderkey""".stripMargin,

    "q_subquery_scalar" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT 1.5 * avg(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q_subquery_correlated" ->
      """SELECT c_custkey, c_nationkey, c_acctbal FROM customer c
        |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,
  )

  /** The SCD2 transition core shared by q_scd2 and scd2Apply: collapse
    * consecutive same-status events per customer, chain half-open
    * effective ranges. Input: (o_custkey, o_orderkey, o_orderstatus,
    * o_orderdate). Output: (o_custkey, o_orderkey, status, eff_from,
    * eff_to, is_current). Unordered — callers sort for presentation. */
  def scd2Build(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    events
      .withColumn("prev", lag("o_orderstatus", 1).over(w))
      .where(col("prev").isNull || col("prev") =!= col("o_orderstatus"))
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderstatus").as("status"),
        col("o_orderdate").as("eff_from"),
        lead("o_orderdate", 1).over(w).as("eff_to"),
        lead("o_orderdate", 1).over(w).isNull.as("is_current"))
  }

  /** Incremental SCD2 merge — the production shape: a day's new events
    * must NOT trigger a full-history rebuild. Cost is O(batch + the
    * affected customers' OPEN rows): untouched customers' rows stream
    * through unchanged, affected customers' CLOSED history passes
    * through untouched, and only the open row + the new events re-run
    * the transition build (the open row seeds it, so a batch whose
    * first status equals the current one collapses into it — exactly
    * the from-scratch answer). New customers appearing only in the
    * batch build their history from the batch alone.
    *
    * Precondition (validated, loud failure): every batch event is
    * STRICTLY LATER than its customer's open-row eff_from. An event
    * landing at-or-before the current row could create or destroy
    * transitions inside already-closed history that the compressed
    * dimension no longer has the events to recompute — those customers
    * need a rebuild from raw history, not a merge. Validation is one
    * O(batch) aggregate against the |affected|-row open set.
    *
    * Mirrors the persisted-index append discipline (VectorOps
    * appendTo*: O(batch) against a frozen base, guarded, loud). */
  def scd2Apply(dim: DataFrame, batch: DataFrame): DataFrame = {
    val affected = batch.select("o_custkey").distinct()
    val open = dim.where(col("is_current"))
      .join(affected, Seq("o_custkey"), "left_semi")
      .select(col("o_custkey"), col("o_orderkey"),
        col("status").as("o_orderstatus"), col("eff_from").as("o_orderdate"))
    val late = batch.join(
        open.select(col("o_custkey"), col("o_orderdate").as("open_from")), Seq("o_custkey"))
      .where(col("o_orderdate") <= col("open_from")).count()
    require(late == 0L,
      s"scd2Apply: $late batch event(s) at or before their customer's current row — " +
        "merge cannot recompute closed history; rebuild those customers from raw events")
    val rebuilt = scd2Build(open.unionByName(
      batch.select("o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate")))
    dim.join(affected, Seq("o_custkey"), "left_anti")
      .unionByName(dim.where(!col("is_current"))
        .join(affected, Seq("o_custkey"), "left_semi"))
      .unionByName(rebuilt)
  }
}
