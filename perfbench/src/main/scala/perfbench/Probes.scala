package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** One timed region: workload → pass → operation → layer call. Times are
  * epoch nanoseconds so spans from the harness and from Spark's listener
  * timestamps (epoch milliseconds) share one clock.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startNs: Long, endNs: Long, op: Int)

/** In-memory span recorder. Disabled, it only runs the timed body. */
final class Spans(var enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack = List(-1)
  private var op = -1

  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now: Long = System.nanoTime() + epochOffsetNs
  def toEpochNs(nanoTime: Long): Long = nanoTime + epochOffsetNs

  def apply[T](name: String, layer: String, opId: Int = -2)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      if (opId != -2) op = opId
      spans += null
      stack = id :: stack
      val t0 = now
      try body
      finally {
        stack = stack.tail
        spans(id) = Span(id, stack.head, name, layer, t0, now, op)
      }
    }

  /** A span known only after the fact (a Spark job or stage window). */
  def add(name: String, layer: String, parent: Int, startNs: Long, endNs: Long, opId: Int): Unit =
    if (enabled) spans += Span(spans.size, parent, name, layer, startNs, endNs, opId)

  /** Self time per layer: each span's duration minus its children's. */
  def selfSeconds: Map[String, Double] = {
    val childNs = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)).max(0L)).sum / 1e9
    }
  }

  def writeJson(path: java.nio.file.Path, mapper: ObjectMapper): Unit =
    mapper.writeValue(path.toFile, spans.map(s => ListMap("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "op" -> s.op)))
}

final case class TaskRec(launchMs: Long, finishMs: Long, failed: Boolean,
    runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long, inRecords: Long,
    shufReadBytes: Long, shufReadRecords: Long, shufWriteBytes: Long, spillBytes: Long)

final case class StageRec(submitMs: Long)

final case class JobRec(jobId: Int, startMs: Long, var endMs: Long, callSite: String)

/** Scheduler-level recorder: every task, stage and job, with Spark's own
  * timestamps, so work can be attributed to harness spans after the run
  * without waiting on the asynchronous listener bus.
  */
final class EngineProbe extends SparkListener {
  val tasks = ArrayBuffer[TaskRec]()
  val stages = ArrayBuffer[StageRec]()
  val jobs = ArrayBuffer[JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val first = e.stageInfos.sortBy(_.stageId).headOption
    jobs += JobRec(e.jobId, e.time, -1L, first.map(_.details).getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.jobId == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stages += StageRec(s.submissionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks += TaskRec(i.launchTime, i.finishTime, i.failed,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
    else tasks += TaskRec(i.launchTime, i.finishTime, i.failed, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  }
}

final case class PlanRec(endMs: Long, durationMs: Long, analysisMs: Long,
    optimizationMs: Long, planningMs: Long, rawScans: Int, rawScanPartitions: Int)

/** Catalyst phase times of every query execution that completes, and the
  * scans of raw JSON documents it ran for the first time. A scan that
  * fills a cache sits in the cached relation's plan, so those are searched
  * too; a scan object counts once however many queries reuse its cache.
  */
final class PlanProbe extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val recs = ArrayBuffer[PlanRec]()
  private val seen = scala.collection.mutable.Set[Int]()

  private def phase(qe: QueryExecution, p: String): Long =
    qe.tracker.phases.get(p).map(_.durationMs).getOrElse(0L)

  private def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s } ++
      collectWithSubqueries(plan) { case m: InMemoryTableScanExec => m.relation.cachedPlan }
        .flatMap(fileScans)

  private def rec(qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val raw = fileScans(qe.executedPlan).filter(s =>
      s.relation.location.rootPaths.exists(_.getName.endsWith(".json")) &&
        s.metrics.get("numOutputRows").exists(_.value > 0) &&
        seen.add(System.identityHashCode(s)))
    recs += PlanRec(System.currentTimeMillis(), durationNs / 1000000L, phase(qe, "analysis"),
      phase(qe, "optimization"), phase(qe, "planning"), raw.size,
      raw.map(_.inputRDD.getNumPartitions).sum)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    rec(qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    rec(qe, 0L)
}

final case class BatchRec(startMs: Long, durations: Map[String, Long], stateRows: Long,
    stateBytes: Long, lateRows: Long)

/** Micro-batch progress of every streaming query. */
final class StreamProbe extends StreamingQueryListener {
  val batches = ArrayBuffer[BatchRec]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    import scala.jdk.CollectionConverters._
    val p = e.progress
    val ops = p.stateOperators
    batches += BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.numRowsDroppedByWatermark).sum)
  }
}
