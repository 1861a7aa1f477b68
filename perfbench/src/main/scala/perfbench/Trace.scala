package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * harness spans and Spark listener timestamps share one time line.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A closed interval on the [[Clock]] time line. `group` is the Spark job
  * group of the operation the span belongs to; `parent` names the
  * enclosing span within that group.
  */
final case class Span(group: String, name: String, parent: String,
                      start: Double, end: Double)

/** Counters one job group accumulates from task-end events. */
final class GroupCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var taskRunMs = 0.0
  var taskCpuMs = 0.0
  var schedulerDelayMs = 0.0
  var scanBytes = 0L
  var scanRecords = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecordsWritten = 0L
  var shuffleReadBytes = 0L
  var shuffleFetchWaitMs = 0.0
  var shuffleWriteMs = 0.0
  var spillDiskBytes = 0L
  var peakExecBytes = 0L
  var mapStageMs = 0.0
  var resultStageMs = 0.0

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_failures" -> taskFailures, "task_run_ms" -> taskRunMs,
    "task_cpu_ms" -> taskCpuMs, "delay_ms" -> schedulerDelayMs,
    "scan_bytes" -> scanBytes, "scan_records" -> scanRecords,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_records_written" -> shuffleRecordsWritten,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_fetch_wait_ms" -> shuffleFetchWaitMs,
    "shuffle_write_ms" -> shuffleWriteMs,
    "spill_disk_bytes" -> spillDiskBytes, "peak_exec_bytes" -> peakExecBytes,
    "map_stage_ms" -> mapStageMs, "result_stage_ms" -> resultStageMs)
}

/** The traced run's recorder. Spans stay in memory until the run ends.
  * Job groups starting with `u:` belong to untraced operations: their
  * events are dropped, which is how a traced run interleaves untraced
  * operations to measure the tracing overhead. Streaming jobs carry the
  * query's run id as their group; gossip_stream switches `enabled`
  * instead, every other second.
  */
final class Recorder {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val groups = mutable.HashMap.empty[String, GroupCounters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStarts = mutable.HashMap.empty[Int, (String, Double)]
  private val planning = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val cachedByBlock = mutable.HashMap.empty[RDDBlockId, Long]
  private var cachedNow = 0L
  private val cachedPeak = mutable.HashMap.empty[String, Long]
  @volatile private var currentGroup = "none"

  def span[T](group: String, name: String, parent: String)(body: => T): T = {
    val t0 = Clock.ms()
    try body finally {
      val t1 = Clock.ms()
      if (enabled && traced(group)) synchronized { spans += Span(group, name, parent, t0, t1) }
    }
  }

  private def traced(group: String): Boolean = !group.startsWith("u:")

  /** Operation boundary: block-cache peaks are attributed to the group
    * that is current when the block update arrives.
    */
  def begin(group: String): Unit = synchronized {
    currentGroup = group
    cachedPeak(group) = cachedNow
  }

  private def counters(g: String): GroupCounters =
    groups.getOrElseUpdate(g, new GroupCounters)

  private def tracedCounters(stageId: Int): Option[GroupCounters] =
    Some(stageGroup.getOrElse(stageId, "stream")).filter(traced).map(counters)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("stream")
      Recorder.this.synchronized {
        e.stageIds.foreach(stageGroup(_) = g)
        if (traced(g)) {
          counters(g).jobs += 1
          jobStarts(e.jobId) = (g, e.time.toDouble)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
      Recorder.this.synchronized {
        jobStarts.remove(e.jobId).foreach { case (g, t0) =>
          spans += Span(g, "job", "", t0, e.time.toDouble)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
      val info = e.stageInfo
      Recorder.this.synchronized {
        tracedCounters(info.stageId).foreach { c =>
          c.stages += 1
          val ms = (for (s <- info.submissionTime; f <- info.completionTime)
            yield (f - s).toDouble).getOrElse(0.0)
          // a stage that wrote shuffle output is a map side; AQE submits
          // every map stage as a job of its own, so the job's last stage
          // does not tell them apart
          if (info.taskMetrics.shuffleWriteMetrics.recordsWritten > 0) c.mapStageMs += ms
          else c.resultStageMs += ms
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
      val info = e.taskInfo
      val m = e.taskMetrics
      Recorder.this.synchronized {
        tracedCounters(e.stageId).foreach { c =>
          c.tasks += 1
          if (info.failed) c.taskFailures += 1
          if (m != null) {
            c.taskRunMs += m.executorRunTime
            c.taskCpuMs += m.executorCpuTime / 1e6
            c.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime)
            c.scanBytes += m.inputMetrics.bytesRead
            c.scanRecords += m.inputMetrics.recordsRead
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRecordsWritten += m.shuffleWriteMetrics.recordsWritten
            c.shuffleWriteMs += m.shuffleWriteMetrics.writeTime / 1e6
            c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            c.shuffleFetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            c.spillDiskBytes += m.diskBytesSpilled
            c.peakExecBytes = math.max(c.peakExecBytes, m.peakExecutionMemory)
          }
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (enabled) {
      e.blockUpdatedInfo.blockId match {
        case id: RDDBlockId =>
          val info = e.blockUpdatedInfo
          val bytes = info.memSize + info.diskSize
          Recorder.this.synchronized {
            cachedNow += bytes - cachedByBlock.getOrElse(id, 0L)
            if (bytes == 0) cachedByBlock.remove(id) else cachedByBlock(id) = bytes
            val g = currentGroup
            cachedPeak(g) = math.max(cachedPeak.getOrElse(g, 0L), cachedNow)
          }
        case _ =>
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = if (enabled) {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val start = phases.values.map(_.startTimeMs).min.toDouble
        val entry = Map[String, Any]("start" -> start) ++
          phases.map { case (k, v) => k -> v.durationMs.toDouble }
        Recorder.this.synchronized { planning += entry }
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    // one event per micro-batch, kept whatever `enabled` says, so the
    // batch record stays whole while the task listeners are toggled
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue.toDouble }
      val st = p.stateOperators.headOption
      val wm = Option(p.eventTime.get("watermark")).map(s =>
        java.time.Instant.parse(s).toEpochMilli.toDouble)
      val entry = Map[String, Any](
        "batch" -> p.batchId,
        "at" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        "rows" -> p.numInputRows,
        "batch_ms" -> d.getOrElse("triggerExecution", 0.0),
        "add_batch_ms" -> d.getOrElse("addBatch", 0.0),
        "planning_ms" -> d.getOrElse("queryPlanning", 0.0),
        "wal_commit_ms" -> d.getOrElse("walCommit", 0.0),
        "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
        "state_mem_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
        "state_commit_ms" -> st.map(_.commitTimeMs.toDouble).getOrElse(0.0),
        "watermark" -> wm.getOrElse(0.0),
        "traced" -> enabled)
      Recorder.this.synchronized { progress += entry }
    }
  }

  /** Everything recorded, for the run's sidecar. Call after the session
    * stopped: stopping drains Spark's asynchronous listener bus.
    */
  def dump(): Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.map(s => Map("group" -> s.group, "name" -> s.name,
        "parent" -> s.parent, "start" -> s.start, "end" -> s.end)).toSeq,
      "groups" -> groups.map { case (g, c) =>
        g -> (c.toMap + ("cached_peak_bytes" -> cachedPeak.getOrElse(g, 0L)))
      }.toMap,
      "planning" -> planning.toSeq,
      "progress" -> progress.toSeq)
  }
}

object Recorder {
  /** Cumulative whole-stage codegen compile time of this JVM, in ms. */
  def codegenMs(): Double = WholeStageCodegenExec.codeGenTime / 1e6

  /** Cumulative garbage-collection time of this JVM, in ms. */
  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
}
