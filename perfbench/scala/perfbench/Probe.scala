package perfbench

import java.time.Instant

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

import scala.collection.mutable

/** Task metrics summed over a set of tasks. */
final class TaskAgg {
  var tasks, runMs, cpuNs, deserMs, gcMs = 0L
  var inBytes, inRecords, outBytes = 0L
  var shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes, fetchWaitMs = 0L
  var spillBytes = 0L

  def add(m: TaskMetrics): Unit = {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    deserMs += m.executorDeserializeTime
    gcMs += m.jvmGCTime
    inBytes += m.inputMetrics.bytesRead
    inRecords += m.inputMetrics.recordsRead
    outBytes += m.outputMetrics.bytesWritten
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
    shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
  }

  def +=(o: TaskAgg): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    deserMs += o.deserMs; gcMs += o.gcMs
    inBytes += o.inBytes; inRecords += o.inRecords; outBytes += o.outBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords
    shuffleReadBytes += o.shuffleReadBytes; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes
  }

  def json: String = Json.obj(
    "tasks" -> tasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
    "deser_ms" -> deserMs, "gc_ms" -> gcMs,
    "in_bytes" -> inBytes, "in_records" -> inRecords, "out_bytes" -> outBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_write_records" -> shuffleWriteRecords,
    "shuffle_read_bytes" -> shuffleReadBytes, "fetch_wait_ms" -> fetchWaitMs,
    "spill_bytes" -> spillBytes)
}

/** One Spark job as the listener saw it. `tag` is the submitting
  * thread's [[Probe.TagKey]] local property ("pass:op:phase"), or null
  * for jobs from threads that did not inherit it.
  */
final class JobRec(val id: Int, val tag: String, val startMs: Long) {
  var endMs: Long = -1L
  val stages = mutable.ArrayBuffer.empty[Int]
}

/** Counters at the layer boundaries Spark exposes publicly: jobs,
  * stages and task metrics (SparkListener), SQL executions, and
  * streaming micro-batches (StreamingQueryListener). Events arrive on
  * Spark's asynchronous listener bus; [[drain]] waits for them before
  * the run's records are assembled.
  */
final class Probe extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.HashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  /** task metrics per stage id */
  val stageAgg = mutable.HashMap.empty[Int, TaskAgg]
  /** stages that ran at least one task, and those that wrote shuffle output */
  val ranStages = mutable.HashSet.empty[Int]
  val shuffleStages = mutable.HashSet.empty[Int]
  val sqlStartMs = mutable.ArrayBuffer.empty[Long]

  /** The job that ran `stage`: the first job listing it (later jobs
    * listing the same stage skip it). */
  def stageOwner(stage: Int): Option[Int] = synchronized(stageJob.get(stage).map(_.id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).map(_.getProperty(Probe.TagKey)).orNull
    val j = new JobRec(e.jobId, tag, e.time)
    j.stages ++= e.stageIds
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null) {
      stageAgg.getOrElseUpdate(e.stageId, new TaskAgg).add(e.taskMetrics)
      ranStages += e.stageId
      if (e.taskMetrics.shuffleWriteMetrics.recordsWritten > 0) shuffleStages += e.stageId
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlStartMs += s.time }
    case _ =>
  }

  /** Blocks until every event posted before this call was delivered:
    * runs a marker job and waits for its end event (one listener queue
    * delivers in order).
    */
  def drain(sc: org.apache.spark.SparkContext): Unit = {
    sc.setLocalProperty(Probe.TagKey, Probe.Marker)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Probe.TagKey, null)
    val deadline = System.nanoTime() + 20L * 1000000000L
    def seen = synchronized(jobs.exists(j => j.tag == Probe.Marker && j.endMs >= 0))
    while (!seen && System.nanoTime() < deadline) Thread.sleep(20)
    synchronized { jobs.filterInPlace(_.tag != Probe.Marker) }
  }
}

object Probe {
  val TagKey = "perfbench.tag"
  val Marker = "marker"
}

/** One streaming micro-batch progress report. */
final case class Batch(runId: String, batchId: Long, startMs: Long,
                       inputRows: Long, durationMs: Long,
                       stateRows: Long, stateBytes: Long)

final class StreamProbe extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[Batch]
  @volatile var lastEventNs: Long = System.nanoTime()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    lastEventNs = System.nanoTime()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val b = Batch(p.runId.toString, p.batchId,
      Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
      Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
      p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum)
    synchronized { batches += b }
    lastEventNs = System.nanoTime()
  }

  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit =
    lastEventNs = System.nanoTime()

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    lastEventNs = System.nanoTime()

  /** Waits until no streaming event arrived for `quietMs` (bounded). */
  def drain(quietMs: Long = 300): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (System.nanoTime() - lastEventNs < quietMs * 1000000L &&
           System.nanoTime() < deadline) Thread.sleep(20)
  }
}
