package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic input generator. Every table is a pure function of its
  * row ids (salted xxhash64 draws), so the same sizes always give the same
  * bytes and the checks pinned in `perfbench/pins` stay valid. Schemas and
  * value domains follow the library's table layout (one parquet file per
  * table under a scale directory, as `graft.Tables` reads them): a
  * TPC-H-like star schema, an `events` stream, a word-salad `documents`
  * corpus and label-clustered 64-d unit `embeddings`.
  */
object Data {

  /** 31 shared tokens, as in the library's own test corpus. */
  val vocab: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "index", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  /** Tokens outside `vocab` are `w<k>`, k < `rareTerms`: the long tail a
    * search for a rare term lands in. */
  val rareTerms = 4000

  /** Uniform draw in [0, 1) keyed by the given columns and a salt. */
  private def u(salt: Int, keys: Column*): Column =
    pmod(xxhash64((keys :+ lit(salt)): _*), lit(1000003L)).cast("double") / 1000003.0

  private def uniformInt(salt: Int, lo: Int, hi: Int, keys: Column*): Column =
    (floor(u(salt, keys: _*) * (hi - lo + 1)) + lo).cast("int")

  private def uniformLong(salt: Int, n: Long, keys: Column*): Column =
    floor(u(salt, keys: _*) * n).cast("long")

  private def money(salt: Int, lo: Double, hi: Double, keys: Column*): Column =
    round(u(salt, keys: _*) * (hi - lo) + lo, 2)

  private def pick(salt: Int, values: Seq[String], keys: Column*): Column =
    element_at(array(values.map(lit): _*), uniformInt(salt, 1, values.size, keys: _*))

  /** Midnight timestamps (no time zone) uniform over [from, from + days]. */
  private def day(salt: Int, from: String, days: Int, keys: Column*): Column =
    date_add(lit(from).cast("date"), uniformInt(salt, 0, days, keys: _*))
      .cast("timestamp_ntz")

  /** Rows of the star schema and the event stream: the library's sf0.01
    * sizes (`lineitem` has 60 000 rows). */
  final case class Sizes(customers: Long = 1500, suppliers: Long = 100, orders: Long = 15000,
      lineitems: Long = 60000, events: Long = 10000, users: Long = 150)

  def region(s: SparkSession): DataFrame =
    s.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name"))

  def nation(s: SparkSession): DataFrame =
    s.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  def customer(s: SparkSession, z: Sizes): DataFrame = {
    val id = col("id")
    s.range(z.customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      uniformInt(11, 0, 24, id).as("c_nationkey"),
      money(12, -999.99, 9999.99, id).as("c_acctbal"),
      pick(13, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id)
        .as("c_mktsegment"))
  }

  def supplier(s: SparkSession, z: Sizes): DataFrame = {
    val id = col("id")
    s.range(z.suppliers).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      uniformInt(21, 0, 24, id).as("s_nationkey"),
      money(22, -999.99, 9999.99, id).as("s_acctbal"))
  }

  def orders(s: SparkSession, z: Sizes): DataFrame = {
    val id = col("id")
    s.range(z.orders).select(id.as("o_orderkey"),
      uniformLong(31, z.customers, id).as("o_custkey"),
      pick(32, Seq("F", "O", "P"), id).as("o_orderstatus"),
      money(33, 1000.0, 500000.0, id).as("o_totalprice"),
      day(34, "1995-01-01", 2404, id).as("o_orderdate"),
      pick(35, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
        .as("o_orderpriority"))
  }

  def lineitem(s: SparkSession, z: Sizes): DataFrame = {
    val id = col("id")
    s.range(z.lineitems).select(
      uniformLong(41, z.orders, id).as("l_orderkey"),
      uniformLong(42, z.suppliers * 20, id).as("l_partkey"),
      uniformLong(43, z.suppliers, id).as("l_suppkey"),
      uniformInt(44, 1, 7, id).as("l_linenumber"),
      uniformInt(45, 1, 50, id).cast("double").as("l_quantity"),
      money(46, 900.0, 105000.0, id).as("l_extendedprice"),
      (uniformInt(47, 0, 10, id) / 100.0).as("l_discount"),
      (uniformInt(48, 0, 8, id) / 100.0).as("l_tax"),
      pick(49, Seq("A", "N", "R"), id).as("l_returnflag"),
      pick(50, Seq("F", "O"), id).as("l_linestatus"),
      day(51, "1995-01-02", 2498, id).as("l_shipdate"))
  }

  /** Strictly increasing timestamps over 30 days from 2024-01-01, so
    * (user_id, ts) is unique. */
  def events(s: SparkSession, z: Sizes): DataFrame = {
    val id = col("id")
    val gapUs = 30L * 86400L * 1000000L / z.events
    val baseUs = 1704067200L * 1000000L
    s.range(z.events).select(id.as("event_id"),
      timestamp_micros(lit(baseUs) + id * gapUs + uniformLong(61, gapUs, id))
        .cast("timestamp_ntz").as("ts"),
      uniformLong(62, z.users, id).as("user_id"),
      pick(63, Seq("click", "error", "purchase", "signup", "view"), id).as("event_type"),
      money(64, 0.01, 490.0, id).as("value"),
      format_string("{\"k\": %d}", uniformInt(65, 0, 99, id)).as("props"))
  }

  /** Word-salad documents of 10-99 tokens. About 1 in 100 repeats the
    * previous document's text (exact duplicates for the dedup stages);
    * 10% of tokens come from the rare `w<k>` tail. Ids are
    * `[from, from + n)`. */
  def documents(s: SparkSession, from: Long, n: Long): DataFrame = {
    val id = col("id")
    val src = when(u(71, id) < 0.01 && id > 0, id - 1).otherwise(id)
    val vocabArr = array(vocab.map(lit): _*)
    val tokens = transform(sequence(lit(1), uniformInt(72, 10, 99, src)), i =>
      when(u(73, src, i) < 0.9,
        element_at(vocabArr, uniformInt(74, 1, vocab.size, src, i)))
        .otherwise(concat(lit("w"),
          floor(pow(u(75, src, i), 3) * rareTerms).cast("long").cast("string"))))
    s.range(from, from + n).select(id.as("doc_id"), array_join(tokens, " ").as("text"),
        pick(76, Seq("en", "en", "en", "de", "es", "fr", "zh"), id).as("lang"),
        concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-d unit vectors clustered around one centre per `label` (0-9);
    * `vec_id` = `doc_id` of the document it embeds. */
  def embeddings(s: SparkSession, from: Long, n: Long): DataFrame = {
    val id = col("id")
    val label = pmod(xxhash64(id, lit(81)), lit(10L)).cast("int")
    val raw = transform(sequence(lit(0), lit(63)), i =>
      (u(82, label, i) - 0.5) + (u(83, id, i) - 0.5) * 0.6)
    val norm = sqrt(aggregate(raw, lit(0.0), (a, x) => a + x * x))
    s.range(from, from + n).select(id.as("vec_id"),
        transform(raw, x => (x / norm).cast("float")).as("embedding"), label.as("label"))
  }

  /** Write the relational tables (the ones the olap queries read). */
  def writeStarSchema(s: SparkSession, dir: String): Unit = {
    val z = Sizes()
    Seq("region" -> region(s), "nation" -> nation(s), "customer" -> customer(s, z),
      "supplier" -> supplier(s, z), "orders" -> orders(s, z),
      "lineitem" -> lineitem(s, z), "events" -> events(s, z))
      .foreach { case (name, df) => write(df, s"$dir/$name.parquet") }
  }

  /** One parquet file. With `sortBy` (a unique key) the rows are computed
    * in parallel and sorted into it; otherwise in one task, in id order. */
  def write(df: DataFrame, path: String, sortBy: Option[String] = None): Unit =
    sortBy.fold(df.coalesce(1))(k => df.repartition(1).sortWithinPartitions(k))
      .write.mode("overwrite").parquet(path)
}
