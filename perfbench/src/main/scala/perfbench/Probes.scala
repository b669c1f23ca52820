package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One committed micro-batch, from the stream's public progress event.
  * `endPos` is the source position the batch ended at (the replay
  * transport's token), when the source reported one; ops per batch come
  * from it, since `numInputRows` counts every re-read of the input. */
final case class BatchRec(query: String, id: Long, startMs: Long,
                          durations: Map[String, Long], endPos: Option[Int]) {
  def dur(k: String): Long = durations.getOrElse(k, 0L)
  def commitMs: Long = startMs + dur("triggerExecution")
}

/** Collects every progress event of the session's streaming queries. */
final class StreamProbe extends StreamingQueryListener {
  private val recs = new ConcurrentLinkedQueue[BatchRec]()
  private val TokenRe = """"token":"([A-Za-z0-9+/=]*)"""".r

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val endPos = p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(j => TokenRe.findFirstMatchIn(j))
      .map(m => new String(java.util.Base64.getDecoder.decode(m.group(1)),
        "UTF-8").toInt)
    val durations = p.durationMs.asScala.map { case (k, v) =>
      k -> v.longValue() }.toMap
    recs.add(BatchRec(p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, durations, endPos))
  }

  /** Data batches of `query`, in order (a trigger that found no data
    * reports a progress without a batch duration). */
  def batches(query: String): Vector[BatchRec] =
    recs.asScala.filter(r => r.query == query &&
      r.durations.contains("addBatch")).toVector.sortBy(_.id)
}

/** Spark-job accounting for the traced run: jobs are attributed to the
  * micro-batch named by their `streaming.sql.batchId` property; stage
  * metrics roll up into their job. */
final class JobProbe extends SparkListener {
  final case class Job(id: Int, query: String, batch: Long, startMs: Long,
                       stages: Seq[Int], var endMs: Long = -1L)
  final case class Stage(tasks: Int, cpuNs: Long, runMs: Long,
                         shuffleBytes: Long, spillBytes: Long)

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) =
      Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobs.put(e.jobId, Job(e.jobId, prop("sql.streaming.queryId").orNull,
      prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L), e.time,
      e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time
      Trace.record(Trace.Span(j.batch, Trace.Layer.Call, s"job.${j.id}",
        j.startMs * 1000, e.time * 1000))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages.put(i.stageId, Stage(i.numTasks, m.executorCpuTime,
        m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def jobsOf(query: String, batch: Long): Seq[Job] =
    jobs.values().asScala.filter(j => j.query == query && j.batch == batch &&
      j.endMs >= 0).toSeq

  def stagesOf(query: String, batch: Long): Seq[Stage] =
    jobsOf(query, batch).flatMap(_.stages).distinct
      .flatMap(s => Option(stages.get(s)))
}
