package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Spark work done inside one span (or a subtree of spans). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskNs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskNs += o.taskNs
    inputBytes += o.inputBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; outputBytes += o.outputBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs
  }

  def taskS: Double = taskNs / 1e9
}

/** One call into a layer, timed from the benchmark's side. `op` is the
  * benchmark op it serves (all spans of one op share it). */
final case class Span(id: Int, parent: Int, name: String, op: Int, label: String,
    startMs: Long, endMs: Long, durNs: Long) {
  val own = new Counters
  val total = new Counters
  def ms: Double = durNs / 1e6
}

/** Records job starts and task ends. Jobs are tied to spans later by the
  * time window they started in, never by thread-local properties: the
  * client runs one op at a time, while pool threads inside the program
  * may carry stale local properties. */
final class CounterListener extends SparkListener {
  private[perfbench] val jobStart = mutable.Map[Int, Long]()
  private[perfbench] val stageJob = mutable.Map[Int, Int]()
  private[perfbench] val taskByJob = mutable.Map[Int, Counters]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(st => if (!stageJob.contains(st)) stageJob(st) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { job =>
      val c = taskByJob.getOrElseUpdate(job, new Counters)
      c.tasks += 1
      c.taskNs += m.executorRunTime * 1000000L
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.outputBytes += m.outputMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
    }
  }
}

/** In-memory span recorder for the traced run. */
final class Tracer(sc: SparkContext) {
  private val listener = new CounterListener
  sc.addSparkListener(listener)
  private val spans = ArrayBuffer[Span]()
  private var open = List(-1)

  def span[A](name: String, op: Int, label: String)(body: => A): A = {
    val id = spans.size
    val parent = open.head
    spans += null
    open = id :: open
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val dur = System.nanoTime() - t0
      spans(id) = Span(id, parent, name, op, label, startMs, System.currentTimeMillis(), dur)
      open = open.tail
    }
  }

  /** Wait for the listener bus, then hand every job to the innermost span
    * whose window holds its start, and sum counters up the span tree. */
  def finish(): Seq[Span] = {
    org.apache.spark.ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
    val done = spans.filter(_ != null).toIndexedSeq
    listener.synchronized {
      listener.jobStart.foreach { case (job, t) =>
        val inner = done.filter(s => s.startMs <= t && t <= s.endMs)
        if (inner.nonEmpty) {
          val s = inner.maxBy(_.id)
          s.own.jobs += 1
          listener.taskByJob.get(job).foreach(s.own += _)
        }
      }
    }
    val byId = done.map(s => s.id -> s).toMap
    done.sortBy(-_.id).foreach { s =>
      s.total += s.own
      byId.get(s.parent).foreach(_.total += s.total)
    }
    done
  }
}

object Trace {
  def toJson(spans: Seq[Span]): String = spans.map { s =>
    val c = s.total
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
      "label" -> s.label, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "dur_ms" -> s.ms, "jobs" -> c.jobs, "tasks" -> c.tasks, "task_s" -> c.taskS,
      "input_b" -> c.inputBytes, "shuffle_read_b" -> c.shuffleReadBytes,
      "shuffle_write_b" -> c.shuffleWriteBytes, "output_b" -> c.outputBytes,
      "spill_b" -> c.spillBytes, "gc_ms" -> c.gcMs))
  }.mkString("[\n", ",\n", "\n]\n")
}
