package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.streaming.Pipeline
import graft.storage.TableFormat

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * harness spans line up with the epoch-ms times Spark's listeners use.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed interval. `parent` is a span id, or 0 when the parent is
  * resolved afterwards from `attrs` (SQL execution id, streaming query
  * and batch, or containment in time).
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Any] = Map.empty)

/** In-memory span recorder. A span opened with [[span]] is published to
  * the jobs it runs through the `perfbench.span` local property, so the
  * scheduler's job events name the harness span that caused them.
  */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = spans.add(s)

  def span[T](layer: String, name: String,
              attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val id = nextId()
    val parent = stack.get.headOption.getOrElse(0L)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty("perfbench.span")
    stack.set(id :: stack.get)
    sc.setLocalProperty("perfbench.span", id.toString)
    val t0 = Clock.nowMs
    try body
    finally {
      val t1 = Clock.nowMs
      stack.set(stack.get.tail)
      sc.setLocalProperty("perfbench.span", prevProp)
      add(Span(id, parent, layer, name, t0, t1, attrs))
    }
  }
}

/** Per-trigger progress of every streaming query: the `durationMs`
  * phases, input rows and state-operator figures. Installed in every
  * chain run: the serve commit times it records are what event→serve
  * latency is measured against.
  */
final class ProgressRecorder extends StreamingQueryListener {
  val rows = new ConcurrentLinkedQueue[Map[String, Any]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    rows.add(Map(
      "query" -> Option(p.name).getOrElse(p.id.toString),
      "id" -> p.id.toString,
      "batch" -> p.batchId,
      "ts" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
      "rows" -> p.numInputRows,
      "dur" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_mem" -> ops.map(_.memoryUsedBytes).sum,
      "dropped" -> ops.map(_.numRowsDroppedByWatermark).sum))
  }
}

/** Scheduler, task and SQL-execution events of the measured window,
  * reduced to spans plus per-stage task-metric sums.
  */
final class SchedRecorder(tracer: Tracer) extends SparkListener {
  private val jobStart = mutable.Map[Int, (Double, Map[String, String], Seq[Int])]()
  private val stageStart = mutable.Map[Int, Double]()
  private val stageJob = mutable.Map[Int, Int]()
  private val sqlStart = mutable.Map[Long, (Double, String)]()
  val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()
  @volatile var open = true

  private def props(p: java.util.Properties): Map[String, String] =
    if (p == null) Map.empty
    else Seq("perfbench.span", "spark.sql.execution.id",
      "sql.streaming.queryId", "streaming.sql.batchId")
      .flatMap(k => Option(p.getProperty(k)).map(k -> _)).toMap

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (open) {
      jobStart(e.jobId) = (e.time.toDouble, props(e.properties), e.stageIds)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, p, stages) =>
      tracer.add(Span(tracer.nextId(), 0L, "scheduler", s"job ${e.jobId}",
        t0, e.time.toDouble, p ++ Map("job" -> e.jobId, "stages" -> stages)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (stageJob.contains(e.stageInfo.stageId))
      stageStart(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageStart.remove(info.stageId).foreach { t0 =>
      val t1 = info.completionTime.map(_.toDouble).getOrElse(Clock.nowMs)
      tracer.add(Span(tracer.nextId(), 0L, "executor", s"stage ${info.stageId}",
        t0, t1, Map("job" -> stageJob.getOrElse(info.stageId, -1),
          "tasks" -> info.numTasks)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null && stageJob.synchronized(stageJob.contains(e.stageId)))
      tasks.add(Map(
        "stage" -> e.stageId,
        "launch" -> e.taskInfo.launchTime, "finish" -> e.taskInfo.finishTime,
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime, "deser_ms" -> m.executorDeserializeTime,
        "peak_mem" -> m.peakExecutionMemory,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read" -> (m.shuffleReadMetrics.localBytesRead +
          m.shuffleReadMetrics.remoteBytesRead),
        "input" -> m.inputMetrics.bytesRead,
        "spill_disk" -> m.diskBytesSpilled))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      if (open) sqlStart(s.executionId) = (s.time.toDouble, s.description)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqlStart.remove(s.executionId).foreach { case (t0, desc) =>
        tracer.add(Span(tracer.nextId(), 0L, "action",
          s"sql ${s.executionId}", t0, s.time.toDouble,
          Map("execution" -> s.executionId, "desc" -> desc)))
      }
    }
    case _ => ()
  }
}

/** Catalyst phase times of every action, from the query's planning
  * tracker; each phase becomes a span of the `catalyst` layer.
  */
final class CatalystRecorder(tracer: Tracer) extends QueryExecutionListener {
  @volatile var open = true
  private def record(qe: QueryExecution): Unit = if (open) {
    qe.tracker.phases.foreach { case (phase, s) =>
      tracer.add(Span(tracer.nextId(), 0L, "catalyst", phase,
        s.startTimeMs.toDouble, s.endTimeMs.toDouble,
        Map("execution" -> qe.id)))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** A [[TableFormat]] that delegates to `inner` and records a span around
  * each sink call, tagged with the streaming query and batch that made it.
  */
final class TracedFormat(inner: TableFormat, tracer: Tracer,
                         spark: SparkSession) extends TableFormat {
  private def tags: Map[String, Any] = {
    val sc = spark.sparkContext
    Seq("sql.streaming.queryId", "streaming.sql.batchId")
      .flatMap(k => Option(sc.getLocalProperty(k)).map(k -> _)).toMap
  }
  override def mergeInsertOnly(spark: SparkSession, batch: DataFrame,
                               cfg: Pipeline.Config, batchUnique: Boolean): Unit =
    tracer.span("silver", "merge", tags)(
      inner.mergeInsertOnly(spark, batch, cfg, batchUnique))
  override def upsertFold(spark: SparkSession, batch: DataFrame, batchId: Long,
                          cfg: Pipeline.Config): Unit =
    tracer.span("gold", "fold", tags)(inner.upsertFold(spark, batch, batchId, cfg))
  override def streamInserts(spark: SparkSession, cfg: Pipeline.Config): DataFrame =
    inner.streamInserts(spark, cfg)
  override def streamChangeFeed(spark: SparkSession, cfg: Pipeline.Config): DataFrame =
    inner.streamChangeFeed(spark, cfg)
  override def optimize(spark: SparkSession, cfg: Pipeline.Config): Unit =
    inner.optimize(spark, cfg)
  override def optimizeServe(spark: SparkSession, cfg: Pipeline.Config): Unit =
    inner.optimizeServe(spark, cfg)
  override def vacuumChangeFeed(spark: SparkSession, cfg: Pipeline.Config,
                                keepVersions: Int): Unit =
    inner.vacuumChangeFeed(spark, cfg, keepVersions)
}
