package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A timed interval on the epoch-nanosecond clock. */
final case class Span(name: String, layer: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine counters of one completed stage. */
final case class StageCounts(
    tasks: Long, runMs: Long, gcMs: Long, inputBytes: Long, inputRows: Long,
    outputBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** One Spark job as the listener saw it. `site` is the call site Spark
  * stamped on the job's result stage, `execId` the SQL execution the job
  * belongs to (-1 if none).
  */
final case class JobRec(id: Int, startNs: Long, endNs: Long, site: String,
    execId: Long, stageIds: Seq[Int])

/** In-memory span and job recorder. Spans are always kept (they cost a
  * few hundred objects per run); the Spark listener that feeds job and
  * stage records is attached only around the traced ops of a traced run.
  */
final class Trace {
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def nowNs: Long = epoch0 + (System.nanoTime() - nano0)

  val spans = mutable.ArrayBuffer.empty[Span]

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = nowNs
    try body
    finally spans.synchronized { spans += Span(name, layer, s, nowNs) }
  }

  private val jobStarts = mutable.Map.empty[Int, (Long, String, Long, Seq[Int])]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.Map.empty[Int, StageCounts]
  val execDescriptions = mutable.Map.empty[Long, String]

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val site =
        if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobStarts(e.jobId) = (e.time * 1000000L, site, exec, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (s, site, exec, st) =>
        jobs += JobRec(e.jobId, s, e.time * 1000000L, site, exec, st)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages(i.stageId) = StageCounts(
        i.numTasks, m.executorRunTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized { execDescriptions(s.executionId) = s.description }
      case _ =>
    }
  }

  /** Where a job's time goes. The call site names the graft source file
    * that started the job; jobs that adaptive execution submits from its
    * own thread carry a `CompletableFuture.java` site instead, so those
    * are resolved through their SQL execution's description, which holds
    * the call site of the action that started the execution.
    */
  def siteOf(j: JobRec): String =
    if (j.site.contains("CompletableFuture.java") || j.site.isEmpty)
      execDescriptions.getOrElse(j.execId, j.site)
    else j.site

  /** Jobs whose start falls inside `s`. */
  def jobsIn(s: Span): Seq[JobRec] =
    jobs.filter(j => j.startNs >= s.startNs && j.startNs <= s.endNs).toSeq

  /** Stage counters summed over `js`, each stage counted once. */
  def counts(js: Seq[JobRec]): StageCounts = {
    val ids = js.flatMap(_.stageIds).distinct
    ids.flatMap(stages.get).foldLeft(StageCounts(0, 0, 0, 0, 0, 0, 0, 0)) { (a, b) =>
      StageCounts(a.tasks + b.tasks, a.runMs + b.runMs, a.gcMs + b.gcMs,
        a.inputBytes + b.inputBytes, a.inputRows + b.inputRows, a.outputBytes + b.outputBytes,
        a.shuffleWriteBytes + b.shuffleWriteBytes, a.spillBytes + b.spillBytes)
    }
  }

  /** Splits a span's wall time between layers: each job contributes the
    * part of its interval (clipped to the span) not already covered by
    * an earlier-starting job, and the rest of the span is driver self
    * time. The parts sum to the span's duration exactly.
    */
  def attribute(s: Span, layerOf: JobRec => String): (Map[String, Double], Double) = {
    var cursor = s.startNs
    val by = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    for (j <- jobsIn(s).sortBy(_.startNs)) {
      val from = math.max(j.startNs, cursor)
      val to = math.min(j.endNs, s.endNs)
      if (to > from) {
        by(layerOf(j)) += (to - from) / 1e9
        cursor = to
      }
    }
    val covered = by.values.sum
    (by.toMap, s.seconds - covered)
  }
}

object Trace {
  /** Module a graft call site belongs to, from its source file name.
    * CopyService jobs that write data are `copy.write`; its other jobs
    * (listing and counting a copied partition) are `copy.count`.
    */
  def layerOfSite(site: String, wrote: Boolean): String = {
    val file = site.split(" at ").lastOption.getOrElse("").split(":").head
    file match {
      case "CopyService.scala" => if (wrote) "copy.write" else "copy.count"
      case "Partitions.scala" => "partitions"
      case "Validate.scala" => "validate"
      case "Migrator.scala" | "TableLock.scala" => "orchestrate"
      case "Checkpoint.scala" => "resume"
      case "Sources.scala" => "sources"
      case "" => "unattributed"
      case f => "other:" + f.stripSuffix(".scala")
    }
  }
}
