package graft.sources

import graft.sources.TableWrite.TableWriteOps
import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Scan/source operators (SURVEY §2.A). The projection+filter scan is the
  * pushdown showcase: `.explain` shows PushedFilters and a 3-column
  * ReadSchema — the parquet reader never materializes the other columns.
  */
object Scans {

  val queries: Map[String, Q] = Map(
    // Column pruning + predicate pushdown into the parquet scan.
    // (l_orderkey, l_linenumber) is not unique — l_extendedprice completes
    // the total order (G6).
    "scan_parquet_project" -> ((s, d) => {
      s.read.parquet(s"$d/lineitem.parquet")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .where(col("l_extendedprice") > 90000)
        .orderBy(col("l_orderkey").asc, col("l_linenumber").asc, col("l_extendedprice").asc)
    }),

    // Multi-file scan: one read over several paths (same file twice here —
    // the testdata has one file per table), rows concatenated.
    "scan_union_files" -> ((s, d) => {
      val p = s"$d/region.parquet"
      s.read.parquet(p, p)
        .groupBy("r_regionkey", "r_name")
        .agg(count(lit(1)).as("n"))
        .orderBy("r_regionkey")
    }),

    // JSON parsing + MapType surface (driver-gated): events.props is a
    // JSON object; from_json lifts it to map<string,string>, then the map
    // functions (element_at, map_concat, map construction, map_keys,
    // size) produce scalar columns the DuckDB oracle re-derives with
    // json_extract. event_id is unique (checked in testdata), so the
    // ORDER BY is total.
    "q_map_funcs" -> ((s, d) => {
      import org.apache.spark.sql.types.{MapType, StringType}
      s.read.parquet(s"$d/events.parquet")
        .withColumn("m", from_json(col("props"), MapType(StringType, StringType)))
        .withColumn("m2", map_concat(col("m"), map(lit("t"), col("event_type"))))
        .select(
          col("event_id"),
          col("event_type"),
          element_at(col("m"), "k").cast("int").as("k"),
          array_join(array_sort(map_keys(col("m2"))), ",").as("keys_csv"),
          element_at(col("m2"), "t").as("t_val"),
          size(col("m")).as("n_keys"))
        .orderBy("event_id")
    }),

    // CSV reader surface (driver-gated): documents round-trips through a
    // real Spark csv write + schema'd csv read inside the query's scratch
    // scope; the oracle aggregates the ORIGINAL parquet — so quoting,
    // header handling, and type coercion in the csv path are all under
    // the hash gate (a lossy round-trip changes the sums).
    "q_csv_roundtrip" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val store = graft.plans.Scale.scratch(s, "csv", d) + "/docs"
      s.read.parquet(s"$d/documents.parquet")
        .select("doc_id", "lang", "source", "n_chars", "text")
        .tableWrite.mode("overwrite").option("header", "true").csv(store)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("source", StringType), StructField("n_chars", LongType),
        StructField("text", StringType)))
      s.read.schema(schema).option("header", "true").csv(store)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n"),
          sum("n_chars").as("sum_chars"),
          sum(length(col("text"))).as("sum_text_len"))
        .orderBy("lang", "source")
    }),
  )

  val oracle: Map[String, String] = Map(
    "scan_parquet_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_extendedprice > 90000
        |ORDER BY l_orderkey ASC, l_linenumber ASC, l_extendedprice ASC""".stripMargin,

    "scan_union_files" ->
      """SELECT r_regionkey, r_name, count(*) AS n FROM (
        |  SELECT * FROM region UNION ALL SELECT * FROM region) u
        |GROUP BY r_regionkey, r_name ORDER BY r_regionkey""".stripMargin,

    // every props value is exactly {"k": N} (verified in testdata), so
    // the constructed-map columns are constants the oracle states directly
    "q_map_funcs" ->
      """SELECT event_id, event_type,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |  'k,t' AS keys_csv, event_type AS t_val, CAST(1 AS INT) AS n_keys
        |FROM events ORDER BY event_id""".stripMargin,

    "q_csv_roundtrip" ->
      """SELECT lang, source, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_text_len
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
  )
}
