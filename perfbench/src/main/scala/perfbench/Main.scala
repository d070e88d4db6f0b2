package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** One benchmark run of one workload in a fresh JVM.
  *
  *   perfbench.Main --workload <olap_mix|curate_batch|retrieval_rw> --seed N
  *     --seconds S --trace 0|1 --root DIR --pins DIR [--trace-out FILE]
  *     [--short] [--pin] [--commit SHA]
  *
  * Prints a `{"report": ...}` line (provenance, sample counts, workload
  * figures), then the result line `{"correct", "attempted", "failed",
  * "metrics"}`: end-to-end metrics untraced, per-layer metrics traced.
  * `--pin` records the observed results as the pinned expectations
  * instead of checking them.
  */
object Main {
  val workloads: Map[String, Ctx => Unit] = Map(
    "olap_mix" -> OlapMix.run, "curate_batch" -> CurateBatch.run,
    "retrieval_rw" -> RetrievalRw.run)

  private def arg(args: Seq[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Seq(`name`, v) => v }

  def main(argv: Array[String]): Unit = {
    val args = argv.toSeq
    def need(n: String) = arg(args, n).getOrElse(sys.error(s"missing $n"))
    val workload = need("--workload")
    val run = workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val traced = need("--trace") == "1"
    val pinning = args.contains("--pin")
    val pinsDir = need("--pins")
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${need("--root")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${need("--root")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val simd = graft.simd.SimdBridge.simdActive()
    val provenance = Seq("simd_active" -> simd, "cores" -> cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "git_commit" -> arg(args, "--commit").getOrElse("unknown"),
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version)
    val simdPin = Paths.get(pinsDir, "simd_active")
    val simdWant = if (Files.exists(simdPin)) Some(Files.readString(simdPin).trim.toBoolean) else None
    if (!pinning && !simdWant.contains(simd)) {
      System.err.println(s"[perfbench] SIMD state $simd differs from the pinned " +
        s"${simdWant.getOrElse("(none)")}; refusing to measure a different program")
      spark.stop()
      sys.exit(3)
    }

    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    val pins = new Pins(s"$pinsDir/$workload.tsv", pinning)
    val ctx = new Ctx(spark, need("--seed").toLong, need("--seconds").toDouble, tracer,
      need("--root"), pins, args.contains("--short"))
    run(ctx)
    val measured = ctx.measuredS
    val spans = tracer.map(_.finish()).getOrElse(Nil)
    arg(args, "--trace-out").filter(_ => traced).foreach { p =>
      Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
      Files.writeString(Paths.get(p), Trace.toJson(spans))
    }
    if (pinning) {
      pins.save(s"pinned results for $workload, written by perfbench.Main --pin")
      Files.writeString(simdPin, s"$simd\n")
    }
    spark.stop()

    val all = ctx.samples.values.flatten.toSeq
    val report = Seq("workload" -> workload, "seed" -> ctx.seed, "traced" -> traced,
      "provenance" -> Json.Raw(Json.obj(provenance)),
      "measured_s" -> measured, "session_s" -> sessionS, "setup_reps_s" -> ctx.setupS.toSeq,
      "fail_frac" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
      "latency_ms" -> Json.Raw(Json.obj(ctx.samples.toSeq.map { case (k, xs) =>
        k -> Json.Raw(Json.obj(latency(xs.toSeq))) } :+ ("all" -> Json.Raw(Json.obj(latency(all))))))) ++
      ctx.report.toSeq
    println(Json.obj(Seq("report" -> Json.Raw(Json.obj(report)))))

    val metrics =
      if (traced) Layers.metrics(ctx, spans, sessionS)
      else Seq(
        ("setup_s", Stats.median(ctx.setupS.toSeq), "s"),
        ("queries_per_s", ctx.attempted / measured, "1/s"),
        ("query_p50_ms", Stats.median(all), "ms"),
        ("peak_rss_mb", peakRssMb, "MB"),
        ("ok_frac", 1.0 - ctx.failed.toDouble / ctx.attempted, "ratio"))
    val result = Seq("correct" -> (ctx.failed == 0), "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) })))
    println(Json.obj(result))
    System.out.flush()
    sys.exit(0)
  }

  /** Median, tail (with the percentile it is) and sample count. */
  def latency(xs: Seq[Double]): Seq[(String, Any)] =
    if (xs.isEmpty) Seq("n" -> 0)
    else Seq("n" -> xs.size, "p50" -> Stats.median(xs), "max" -> xs.max) ++
      Stats.tail(xs).toSeq.flatMap { case (p, v) => Seq("tail_pct" -> p, "tail" -> v) }

  /** Peak resident set of this JVM (VmHWM). */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status"), StandardCharsets.UTF_8).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(Double.NaN)
}
