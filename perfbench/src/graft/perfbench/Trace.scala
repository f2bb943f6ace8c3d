package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A named interval of one run. Spans live in memory and are written out
  * once, with the rest of the run's record, when the run ends.
  */
final case class Span(runId: String, id: Int, parent: Int, name: String, pass: Int,
                      traced: Boolean, startMs: Double, endMs: Double, wallS: Double)

/** Records spans for every pass and, in traced passes only, Spark's own
  * job, task, SQL-execution and streaming-progress events through Spark's
  * public listener interfaces. Nothing is aggregated here: the raw records
  * go to the run file and run.py turns them into per-layer metrics.
  */
final class Trace(spark: SparkSession, val runId: String)
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {

  val spans = new ConcurrentLinkedQueue[Span]()
  private val events = new ConcurrentLinkedQueue[Map[String, Any]]()
  private var nextId = 0
  private val stack = scala.collection.mutable.Stack[Int]()
  @volatile private var pass = -1
  @volatile private var traced = false

  private def nowMs: Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1e3 + i.getNano / 1e6
  }

  /** Time `body` as a span under the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val t0 = nowMs; val n0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - n0) / 1e9
      stack.pop()
      spans.add(Span(runId, id, parent, name, pass, traced, t0, nowMs, wall))
    }
  }

  // ---- listener registration (traced passes only) ----

  private val streamListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      record("stream", "query" -> p.id.toString, "batch" -> p.batchId,
        "t_ms" -> nowMs,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
    }
  }

  private def classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def beginPass(i: Int, trace: Boolean): Unit = {
    pass = i; traced = trace
    if (trace) {
      spark.sparkContext.addSparkListener(this)
      classic.listenerManager.register(this)
      spark.streams.addListener(streamListener)
    }
  }

  /** Detach after the listener bus has delivered every event of the pass. */
  def endPass(): Unit = if (traced) {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    classic.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
    traced = false
  }

  private def record(kind: String, kv: (String, Any)*): Unit =
    events.add(Map[String, Any]("kind" -> kind, "pass" -> pass) ++ kv)

  // ---- SparkListener ----

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    record("job_start", "job" -> e.jobId, "t_ms" -> e.time.toDouble,
      "stages" -> e.stageIds, "exec" -> exec.map(_.toLong))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    record("job_end", "job" -> e.jobId, "t_ms" -> e.time.toDouble,
      "ok" -> (e.jobResult == JobSucceeded))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    record("task", "stage" -> e.stageId, "busy_ms" -> m.executorRunTime,
      "in_bytes" -> m.inputMetrics.bytesRead,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten)
  }

  private val writeTarget = """InsertIntoHadoopFsRelationCommand\s+([^,\s]+)""".r

  /** The directory a SQL execution writes, from its plan's write node. */
  private def writePath(p: SparkPlanInfo): Option[String] =
    writeTarget.findFirstMatchIn(p.simpleString).map(_.group(1))
      .orElse(p.children.iterator.flatMap(writePath).nextOption())

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      record("exec", "exec" -> s.executionId, "root" -> s.rootExecutionId,
        "t_ms" -> s.time.toDouble, "path" -> writePath(s.sparkPlanInfo))
    case _ =>
  }

  // ---- QueryExecutionListener ----

  private def scans(plan: SparkPlan): Int = collectWithSubqueries(plan) {
    case p: DataSourceScanExec => p
    case p: DataSourceV2ScanExecBase => p
  }.size

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    record("qe", "func" -> funcName,
      "scans" -> scans(qe.executedPlan),
      "plan_ms" -> phases.map(_.durationMs).sum,
      "t_ms" -> (if (phases.isEmpty) 0.0 else phases.map(_.startTimeMs).min.toDouble),
      "duration_ms" -> durationNs / 1e6)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def toJson: Map[String, Any] = Map(
    "run_id" -> runId,
    "spans" -> spans.asScala.toSeq.sortBy(_.id).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "pass" -> s.pass,
      "traced" -> s.traced, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS)),
    "events" -> events.asScala.toSeq)
}
