package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Writes the benchmark's generated inputs and the Spark result of every
  * pinned query that declares an `oracleSql`, one case directory each
  * (`OUT/<case>/data/<table>.parquet`, `OUT/<case>/results/<query>` and
  * `results/oracle_sql.json`), for `perfbench/crosscheck.py` to replay in
  * DuckDB, after checking that each written result is the one its pin
  * was taken from. Run both once whenever the pins are regenerated:
  *
  *   perfbench.Crosscheck OUT [PINS_DIR (default perfbench/pins)]
  */
object Crosscheck {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val oracle = graft.SparkEntry.oracleSql

    var mismatches = 0
    def dump(dir: String, queries: Seq[(String, graft.Q)], data: String,
        pins: Pins, key: String => String): Unit = {
      val withOracle = queries.filter(q => oracle.contains(q._1))
      withOracle.foreach { case (name, q) =>
        val df = q(spark, data)
        // the written result must be the one the pin was taken from
        pins.check(key(name), Digest.of(df.collect())).foreach { why =>
          mismatches += 1
          println(s"PIN MISMATCH $why")
        }
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/results/$name")
      }
      Files.writeString(Paths.get(s"$dir/results/oracle_sql.json"),
        Json.obj(withOracle.map { case (n, _) => n -> oracle(n) }))
      println(s"$dir: ${withOracle.size} oracle-backed of ${queries.size}")
    }

    Data.writeStarSchema(spark, s"$out/olap/data")
    val pinsDir = args.lift(1).getOrElse("perfbench/pins")
    dump(s"$out/olap", OlapMix.queries, s"$out/olap/data",
      new Pins(s"$pinsDir/olap_mix.tsv", pinning = false), identity)
    for (v <- 0 until CurateBatch.Variants) {
      val data = s"$out/curate_v$v/data"
      Data.write(Data.documents(spark, v * CurateBatch.CorpusDocs, CurateBatch.CorpusDocs),
        s"$data/documents.parquet")
      dump(s"$out/curate_v$v",
        CurateBatch.dedup.map(n => n -> graft.operators.DedupOps.queries(n)), data,
        new Pins(s"$pinsDir/curate_batch.tsv", pinning = false), n => s"v$v.$n")
    }
    spark.stop()
    println(s"pin mismatches: $mismatches")
    if (mismatches > 0) sys.exit(1)
  }
}
