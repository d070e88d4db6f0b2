package graft.sources

import graft.sources.TableWrite.TableWriteOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Completeness ledger — the reference's core build-pipeline pattern [PK,
  * SURVEY §1.1/§3.1]: a table of already-computed keys, diffed against the
  * target key space to find remaining work, updated as batches finish.
  *
  * Idiomatic-Spark shape: the ledger is just a keyed DataFrame (parquet-
  * backed); "what's missing" is a left-anti join (never a collect), so the
  * diff distributes over any key-space size; appends are atomic parquet
  * writes. At 100 TB the anti join broadcasts the (small) ledger or
  * shuffles on the key — Catalyst picks per stats.
  */
object Ledger {

  /** Keys in `target` not yet present in `computed` (left-anti on all of
    * `keys`). Null-safe equality so null key components behave like
    * values, not match-nothing. Sides are aliased so the join stays
    * correct even when target and computed share a plan lineage (a
    * same-lineage `target(k) <=> computed(k)` silently degenerates to a
    * trivially-true predicate). */
  def missing(target: DataFrame, computed: DataFrame, keys: Seq[String]): DataFrame = {
    val cond = keys.map(k => col(s"__t.$k") <=> col(s"__c.$k")).reduce(_ && _)
    target.alias("__t").join(computed.alias("__c"), cond, "left_anti")
  }

  /** Append newly-computed keys (with a batch tag) to the ledger path. */
  def record(done: DataFrame, path: String, batchId: String): Unit =
    done.withColumn("batch_id", lit(batchId))
      .tableWrite.mode(SaveMode.Append).parquet(path)

  /** Load the ledger, empty-safe: a missing path is an empty, lineage-free
    * ledger with the key schema projected from `like`. Existence goes
    * through Hadoop's FileSystem so s3a://, hdfs:// etc. resolve — a
    * java.io.File check would silently report any remote ledger as absent
    * and destroy resume safety. */
  def load(spark: SparkSession, path: String, like: DataFrame, keys: Seq[String]): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(path).select(keys.map(col): _*)
    else {
      val schema = org.apache.spark.sql.types.StructType(
        keys.map(k => like.schema(k)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  /** One driver-loop build step: find missing work, compute it with `f`,
    * record it. Returns the number of keys completed this step.
    *
    * The computed result is materialized ONCE (localCheckpoint) before
    * both the count and the ledger append — otherwise the two would
    * re-execute the plan independently and a nondeterministic `f` could
    * record keys the returned count never saw (same hazard
    * BuildPipeline.run guards against). */
  def step(spark: SparkSession, target: DataFrame, keys: Seq[String],
      ledgerPath: String, batchId: String)(f: DataFrame => DataFrame): Long = {
    val ledger = load(spark, ledgerPath, target, keys)
    val todo = missing(target, ledger, keys)
    val done = f(todo).select(keys.map(col): _*).localCheckpoint()
    val n = done.count()
    if (n > 0) record(done, ledgerPath, batchId)
    done.unpersist()
    n
  }
}
