package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-job tallies the listener keeps: wall interval plus the task
  * metrics of every task that ran for the job's stages.
  */
final case class JobStat(
    jobId: Int,
    startMs: Long,
    var endMs: Long,
    /** root SQL execution's call site; AQE stage jobs and nested
      * executions all land on the action that started them */
    rootSite: String,
    var tasks: Long = 0L,
    var runMs: Long = 0L,
    var schedDelayMs: Long = 0L,
    var shuffleWriteBytes: Long = 0L,
    var shuffleReadBytes: Long = 0L,
    var spillBytes: Long = 0L,
    var outputBytes: Long = 0L)

/** SparkListener that records every job of the session while attached.
  *
  * Attribution: a SQL action runs as one root execution; with adaptive
  * execution each query stage is its own job, and commands such as a
  * parquet write start nested executions. Every job carries its
  * execution id and root execution id as local properties; the call site
  * of the ROOT execution (from its SQLExecutionStart event) names the job,
  * so all sub-jobs count against the user-visible action. Jobs outside any
  * SQL execution (plain RDD actions) fall back to their first stage name.
  */
final class JobTrace extends SparkListener {
  private val execSite = mutable.Map.empty[Long, String]
  private val execRoot = mutable.Map.empty[Long, Long]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStat]
  private val stageJob = mutable.Map.empty[Int, Int]

  /** The execution's description is the short call site ("collect at
    * X.scala:12") unless a job description overrides it (the crawl engine
    * sets one for its job group); then the first non-Spark frame of the
    * long call site in `details` names the action. */
  private def siteOf(description: String, details: String): String = {
    val short = Option(description).filter(JobTrace.ShortSite.matches)
    lazy val frame = Option(details).toSeq.flatMap(_.linesIterator)
      .map(_.trim).find(l => l.nonEmpty && !JobTrace.internal(l))
    short.orElse(frame).orElse(Option(description)).getOrElse("?")
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => synchronized {
      execSite(e.executionId) = siteOf(e.description, e.details)
      e.rootExecutionId.foreach(r => execRoot(e.executionId) = r)
    }
    case _ =>
  }

  private def rootOf(exec: Long): Long = {
    var cur = exec
    var hops = 0
    while (execRoot.get(cur).exists(_ != cur) && hops < 64) {
      cur = execRoot(cur); hops += 1
    }
    cur
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val props = Option(js.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      .flatMap(v => scala.util.Try(v.toLong).toOption)
    val exec = prop("spark.sql.execution.id")
    val root = prop("spark.sql.execution.root.id").orElse(exec).map(rootOf)
    val site = root.flatMap(execSite.get)
      .orElse(js.stageInfos.headOption.map(_.name))
      .getOrElse("?")
    jobs(js.jobId) = JobStat(js.jobId, js.time, js.time, site)
    js.stageIds.foreach(s => stageJob(s) = js.jobId)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(je.jobId).foreach(_.endMs = je.time)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    for {
      j <- stageJob.get(te.stageId).flatMap(jobs.get)
      m <- Option(te.taskMetrics)
    } {
      val info = te.taskInfo
      j.tasks += 1
      j.runMs += m.executorRunTime
      // Spark UI's scheduler delay: task wall not spent deserializing,
      // running, serializing or shipping the result
      j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Completed jobs so far, after draining the listener bus. */
  def snapshot(sc: SparkContext): Seq[JobStat] = {
    org.apache.spark.BusDrain(sc)
    synchronized(jobs.values.map(_.copy()).toSeq)
  }

  def clear(): Unit = synchronized { jobs.clear(); stageJob.clear() }
}

object JobTrace {

  private val ShortSite = "^\\S+ at \\S+:\\d+$".r
  private def internal(frame: String): Boolean =
    Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")
      .exists(frame.startsWith)

  /** Aggregate of the jobs that STARTED inside [startMs, endMs): counts,
    * task totals, and the part of the interval no job covered (the
    * driver-side gap between jobs). */
  final case class Window(jobs: Int, tasks: Long, runMs: Long,
      schedDelayMs: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
      spillBytes: Long, outputBytes: Long, gapMs: Long,
      bySite: Map[String, (Int, Long, Long)])

  def window(all: Seq[JobStat], startMs: Long, endMs: Long): Window = {
    val js = all.filter(j => j.startMs >= startMs && j.startMs < endMs)
    // union of job intervals clipped to the window
    val iv = js.map(j => (math.max(j.startMs, startMs),
      math.min(math.max(j.endMs, j.startMs), endMs))).filter(p => p._2 > p._1)
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    val bySite = js.groupBy(_.rootSite).map { case (k, v) =>
      k -> ((v.size, v.map(_.tasks).sum, v.map(_.runMs).sum))
    }
    Window(js.size, js.map(_.tasks).sum, js.map(_.runMs).sum,
      js.map(_.schedDelayMs).sum, js.map(_.shuffleWriteBytes).sum,
      js.map(_.shuffleReadBytes).sum, js.map(_.spillBytes).sum,
      js.map(_.outputBytes).sum, math.max(0L, (endMs - startMs) - covered),
      bySite)
  }
}
