package graft.sources

import graft.sources.TableWrite.TableWriteOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's batch build workflow [PK, SURVEY §1.1/§3.1] in
  * idiomatic Spark: enumerate a keyed target space, diff it against the
  * completeness ledger, compute the missing records with a pluggable
  * transform, and land them in a key-partitioned parquet layout (the
  * analogue of the reference's N/k/i directory tree), updating the
  * ledger per batch.
  *
  * Everything is DataFrame-shaped: the "compute" step is a transform
  * over the missing-keys DataFrame (at 100 TB: per-row or per-group
  * compute distributed over executors), never a driver loop; restart
  * safety comes from the ledger diff, exactly the reference's
  * resume-where-you-left-off behavior.
  */
object BuildPipeline {

  /** One resumable build pass.
    *
    * @param target    full key space to cover (keyed DataFrame)
    * @param keys      key column names (also the partition layout)
    * @param dataPath  partitioned parquet store for computed records
    * @param ledgerPath completeness-ledger store
    * @param batchSize max keys to compute this pass (0 = all)
    * @param compute   missing-keys DataFrame → computed records (must
    *                  retain the key columns)
    * @return number of keys computed this pass (0 ⇒ build complete)
    */
  def run(spark: SparkSession, target: DataFrame, keys: Seq[String],
      dataPath: String, ledgerPath: String, batchId: String,
      batchSize: Long = 0)(compute: DataFrame => DataFrame): Long = {
    val ledger = Ledger.load(spark, ledgerPath, target, keys)
    val missingAll = Ledger.missing(target, ledger, keys)
    val missing = if (batchSize > 0) missingAll.limit(batchSize.toInt) else missingAll
    // Materialize ONCE before both sinks: without this, the data write and
    // the ledger record would each re-execute the plan — and an order-less
    // limit() or a nondeterministic compute could hand the ledger a
    // different key set than was written (silent holes on resume).
    val computed = compute(missing).localCheckpoint()
    val n = computed.count()
    if (n > 0) {
      computed.tableWrite.mode(SaveMode.Append)
        .partitionBy(keys: _*)
        .parquet(dataPath)
      Ledger.record(computed.select(keys.map(col): _*).distinct(), ledgerPath, batchId)
    }
    computed.unpersist()
    n
  }

  /** Read the computed store back; partition pruning applies on key
    * predicates (the "lookup by (N,k,i)" access path). */
  def store(spark: SparkSession, dataPath: String): DataFrame =
    spark.read.parquet(dataPath)
}
