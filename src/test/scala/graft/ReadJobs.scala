package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Records the metadata jobs a file-source READ launches before any query
  * runs: the "Listing leaf files" job (parallel directory listing) and the
  * schema-inference job. Both are launched from inside the reader's
  * `parquet(...)` call, so their call site reads "parquet at ..."; the
  * listing job also carries its own description. Over code that also
  * writes parquet, count only the jobs outside SQL executions
  * (`outsideQueries`). */
object ReadJobs {

  /** Run `body` and return the metadata jobs it launched, one line each.
    * The listener bus is drained before and after, so no event of an
    * earlier or a still-posting job is counted. With `outsideQueries`,
    * jobs launched by a SQL execution (a write, a collect) are not
    * counted, so `body` may also write: what is left are the jobs a read
    * launched while its DataFrame was being built. */
  def during[T](sc: SparkContext, outsideQueries: Boolean = false)(
      body: => T): (T, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        val sites = j.stageInfos.map(_.name)
        val inQuery = Option(j.properties)
          .exists(p => p.getProperty("spark.sql.execution.id") != null)
        if ((desc.contains("Listing leaf files") || sites.exists(_.startsWith("parquet at "))) &&
            !(outsideQueries && inQuery))
          seen.add(s"job ${j.jobId}: ${sites.mkString(";")} ${desc.take(60)}")
        ()
      }
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, seen.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }
}
