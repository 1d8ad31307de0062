package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

final case class TaskRec(stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, inBytes: Long, outBytes: Long)

/** `span` is the benchmark span that was open on the submitting thread,
  * `execution` the SQL execution (one query action) the job ran for, if any.
  */
final case class JobRec(jobId: Int, startMs: Long, endMs: Long, span: Long,
    execution: Option[Long], stageIds: Seq[Int])

/** What the listener saw between two [[StageListener.take]] calls. */
final case class Window(tasks: Seq[TaskRec], jobs: Seq[JobRec], peakMem: Long)

/** Stage-layer recorder registered on the benchmark's own session. It
  * always keeps the peak task execution memory (an end-to-end metric);
  * with `detail` on it also keeps every task and job.
  */
final class StageListener extends SparkListener {
  @volatile var detail = false
  private val tasks = ArrayBuffer[TaskRec]()
  private val started = scala.collection.mutable.Map[Int, JobRec]()
  private val jobs = ArrayBuffer[JobRec]()
  private var peak = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      peak = math.max(peak, m.peakExecutionMemory)
      if (detail) tasks += TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (detail) synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    started(e.jobId) = JobRec(e.jobId, e.time, e.time,
      prop(PerfBench.SpanProp).map(_.toLong).getOrElse(0L),
      prop("spark.sql.execution.id").map(_.toLong), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (detail) synchronized {
    started.remove(e.jobId).foreach(j => jobs += j.copy(endMs = e.time))
  }

  /** Everything recorded since the last call; resets the recorder. */
  def take(): Window = synchronized {
    val w = Window(tasks.toList, jobs.toList, peak)
    tasks.clear(); jobs.clear(); peak = 0L
    w
  }
}

/** Splits the jobs of one rep by the layer that submitted them. */
object JobClass {
  val Commit = "commit"
  val Metrics = "metrics"
  val Read = "read"
  val Other = "other"

  /** Jobs of a query action that wrote output bytes are commit-write
    * jobs (the write's shuffle-map jobs included). Jobs that belong to
    * no query action are a reader listing files or reading parquet
    * footers. Other query actions under a resume span are the
    * post-commit metrics re-read; anything else is `Other`.
    */
  def classify(jobs: Seq[JobRec], tasks: Seq[TaskRec], resumeSpans: Set[Long]): Map[Int, String] = {
    val writingStages = tasks.filter(_.outBytes > 0).map(_.stageId).toSet
    val writingExecs = jobs.filter(_.stageIds.exists(writingStages)).flatMap(_.execution).toSet
    jobs.map { j =>
      j.jobId -> (j.execution match {
        case Some(e) if writingExecs(e) => Commit
        case None if resumeSpans(j.span) => Read
        case Some(_) if resumeSpans(j.span) => Metrics
        case _ => Other
      })
    }.toMap
  }
}
