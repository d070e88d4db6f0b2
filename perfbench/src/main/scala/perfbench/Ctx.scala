package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Expected results pinned from this tree, one `key<TAB>value` per line.
  * In pin mode the observed values are collected instead and merged into
  * the file (other variants' keys are kept). */
final class Pins(path: String, val pinning: Boolean) {
  private val onFile: Map[String, String] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1) }.toMap
  private val expected = if (pinning) Map.empty[String, String] else onFile
  private val observed = mutable.LinkedHashMap[String, String]()

  /** None when `got` matches the pinned value, else the reason. */
  def check(key: String, got: String): Option[String] =
    if (pinning) { observed(key) = got; None }
    else expected.get(key) match {
      case Some(want) if want == got => None
      case Some(want) => Some(s"$key: got $got, pinned $want")
      case None => Some(s"$key: nothing pinned")
    }

  def save(header: String): Unit = if (pinning) {
    val merged = onFile ++ observed
    val lines = s"# $header" +: merged.toSeq.sortBy(_._1).map { case (k, v) => s"$k\t$v" }
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), lines.asJava, StandardCharsets.UTF_8)
  }
}

/** State shared by a workload run: the session, the seed, the clock, the
  * optional tracer, latency samples and the op/failure counts. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val tracer: Option[Tracer], val root: String, val pins: Pins, val short: Boolean) {
  val cores: Int = spark.sparkContext.defaultParallelism
  /** Latency samples in ms, by op kind. */
  val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  /** Workload-specific figures for the report line. */
  val report = mutable.LinkedHashMap[String, Any]()
  /** Set-up repetitions, seconds each. */
  val setupS = ArrayBuffer[Double]()
  var attempted = 0L
  var failed = 0L
  private var opSeq = 0
  private var measureStart = 0L
  private var deadline = Long.MaxValue

  def startClock(): Unit = {
    measureStart = System.nanoTime()
    deadline = measureStart + (seconds * 1e9).toLong
  }

  def expired: Boolean = System.nanoTime() >= deadline

  def measuredS: Double = (System.nanoTime() - measureStart) / 1e9

  /** A span around `body` when tracing, else just `body`. */
  def sub[A](name: String, label: String = "")(body: => A): A =
    tracer.fold(body)(_.span(name, opSeq, label)(body))

  /** One benchmark op: a timed call into `layer`, then (untimed) `verify`
    * of its result, which returns the reason for a wrong result. A thrown
    * exception or a wrong result counts the op as failed. Returns the
    * result and its latency in ms, or None when the op failed. */
  def op[A](layer: String, kind: String, label: String)(body: => A)(
      verify: A => Option[String]): Option[(A, Double)] = {
    opSeq += 1
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Right(sub(layer, label)(body)) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    samples.getOrElseUpdate(kind, ArrayBuffer()) += ms
    val bad = res match {
      case Left(e) => Some(s"$label threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(a) =>
        try verify(a) catch { case NonFatal(e) => Some(s"$label check threw $e") }
    }
    bad match {
      case Some(why) =>
        failed += 1
        System.err.println(s"[perfbench] FAILED $why")
        None
      case None => res.toOption.map(_ -> ms)
    }
  }

  /** One timed set-up repetition. */
  def setupRep[A](body: => A): A = {
    val t0 = System.nanoTime()
    val a = sub("setup")(body)
    setupS += (System.nanoTime() - t0) / 1e9
    a
  }

  def dir(name: String): String = s"$root/$name"
}
