package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Work a set of Spark jobs scheduled: counts, executor time and bytes. */
final case class Work(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    cpuNs: Long = 0, shuffleWrite: Long = 0, inputBytes: Long = 0,
    outputBytes: Long = 0, outputRecords: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, cpuNs + o.cpuNs, shuffleWrite + o.shuffleWrite,
    inputBytes + o.inputBytes, outputBytes + o.outputBytes,
    outputRecords + o.outputRecords)
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, cpuNs - o.cpuNs, shuffleWrite - o.shuffleWrite,
    inputBytes - o.inputBytes, outputBytes - o.outputBytes,
    outputRecords - o.outputRecords)
}

/** One job as the listener saw it: the span that was current on the
  * submitting thread, the engine's phase label, and its interval.
  */
final case class JobRec(jobId: Int, span: Long, label: String,
    startMs: Long, var endMs: Long, var work: Work)

/** Attributes every Spark job — and the stages and tasks under it — to the
  * benchmark span that was current when the job was submitted. The span
  * travels as the local property [[WorkListener.SpanProp]], which Spark
  * copies into each job's properties; the engine's own phase label travels
  * as the job description ([[graft.JobLabel]]). A job whose properties are
  * absent still counts, against span -1 and the `unlabeled` phase.
  */
final class WorkListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private var total = Work()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(WorkListener.SpanProp)))
      .flatMap(_.toLongOption).getOrElse(-1L)
    val label = props.flatMap(p => Option(p.getProperty(WorkListener.DescProp)))
      .getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, span, WorkListener.phaseOf(label), e.time,
      e.time, Work(jobs = 1))
    Option(e.stageIds).getOrElse(Nil).foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    total += Work(jobs = 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add(e.stageInfo.stageId, Work(stages = 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    add(e.stageId, m.fold(Work(tasks = 1))(m => Work(tasks = 1,
      cpuNs = m.executorCpuTime,
      shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
      inputBytes = m.inputMetrics.bytesRead,
      outputBytes = m.outputMetrics.bytesWritten,
      outputRecords = m.outputMetrics.recordsWritten)))
  }

  private def add(stageId: Int, w: Work): Unit = {
    total += w
    stageJob.get(stageId).flatMap(jobs.get).foreach(j => j.work += w)
  }

  /** Everything counted so far, attributed or not. */
  def totals: Work = synchronized(total)

  /** Jobs attributed to spans, in submission order. */
  def jobRecords: Seq[JobRec] = synchronized(jobs.values.toList)
}

object WorkListener {
  val SpanProp = "perfbench.span"
  val DescProp = "spark.job.description"

  /** The phase labels the engine sets around commit and refresh phases;
    * anything else is `unlabeled`.
    */
  val Phases: Seq[String] = Seq("lake:write", "lake:measure", "lake:cdf",
    "lake:touched", "mv:delta", "mv:touched", "mv:merge-reserves",
    "mv:exhaust-probe")

  def phaseOf(description: String): String = {
    val head = description.takeWhile(_ != ' ')
    if (Phases.contains(head)) head else "unlabeled"
  }
}
