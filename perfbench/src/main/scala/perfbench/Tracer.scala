package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Local properties the client thread sets before each phase of a query
  * invocation; Spark copies them onto every job it submits (stream
  * execution threads inherit them from the thread that starts them).
  */
object Tags {
  val Inv = "perfbench.inv"
  val Phase = "perfbench.phase"
}

/** Cached RDD blocks in the block manager (memory plus disk), always
  * attached: it feeds `peak_storage_mb`. Broadcast and shuffle blocks are
  * transient execution state that the context cleaner drops whenever GC
  * runs, so they are left out. Block updates arrive on the listener bus in
  * posting order with job starts, so each RDD fill is charged to the
  * invocation of the most recently started job.
  */
class StorageMeter extends SparkListener {
  private val sizes = mutable.HashMap[String, Long]()
  private var current = 0L
  @volatile var peakBytes = 0L
  @volatile private var lastJobInv = -1
  /** rdd id -> (invocation that first cached a block of it, bytes cached) */
  val rddFills = mutable.LinkedHashMap[Int, (Int, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    lastJobInv = Option(e.properties).flatMap(p => Option(p.getProperty(Tags.Inv)))
      .map(_.toInt).getOrElse(-1)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case RDDBlockId(rdd, _) =>
        val key = info.blockId.name
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        current += size - sizes.getOrElse(key, 0L)
        if (size > 0) sizes(key) = size else sizes.remove(key)
        peakBytes = math.max(peakBytes, current)
        if (size > 0) {
          val (inv, bytes) = rddFills.getOrElse(rdd, (lastJobInv, 0L))
          rddFills(rdd) = (inv, bytes + size)
        }
      case _ => ()
    }
  }

  def snapshotFills(): Map[Int, (Int, Long)] = synchronized(rddFills.toMap)
}

/** The traced run's instrumentation: a SparkListener (jobs, stages,
  * tasks, SQL executions), a QueryExecutionListener (planning phases and
  * executed plans), a StreamingQueryListener (micro-batch progress) and
  * the codegen counters. Everything is kept in memory as spans that share
  * the invocation id, and is written out when the run ends.
  */
class Tracer(spark: SparkSession) extends SparkListener {
  /** Toggled between passes (after the bus is drained), so untraced
    * passes of a traced run pay no handler work. */
  @volatile var enabled = true
  case class Job(id: Int, inv: Int, phase: String, start: Long,
      stageIds: Seq[Int], var end: Long = -1L, var sqlExec: Long = -1L)
  case class Stage(id: Int, attempt: Int, job: Int, inv: Int, phase: String,
      var submitted: Long = -1L, var firstLaunch: Long = -1L, var completed: Long = -1L,
      var tasks: Int = 0, var tasksFailed: Int = 0, var runMs: Long = 0L, var cpuNs: Long = 0L,
      var gcMs: Long = 0L, var readBytes: Long = 0L, var readRows: Long = 0L,
      var shuffleReadBytes: Long = 0L, var shuffleWriteBytes: Long = 0L, var spillBytes: Long = 0L)
  case class Sql(funcName: String, endMs: Double, durationMs: Double,
      phases: Map[String, (Long, Long)], topkNodes: Int, cacheScanRdds: Seq[Int])
  case class Batch(runId: String, batchId: Long, startMs: Long, durations: Map[String, Long],
      inputRows: Long, stateRows: Long, stateCommitMs: Long)

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  private val stageJob = mutable.HashMap[Int, Job]()
  val sqls = mutable.ArrayBuffer[Sql]()
  val batches = mutable.ArrayBuffer[Batch]()
  /** SQL execution id -> (start, end) */
  val sqlExecs = mutable.LinkedHashMap[Long, (Long, Long)]()

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
    val j = Job(e.jobId, prop(e.properties, Tags.Inv).map(_.toInt).getOrElse(-1),
      prop(e.properties, Tags.Phase).getOrElse("other"), e.time, e.stageIds)
    prop(e.properties, "spark.sql.execution.id").foreach(x => j.sqlExec = x.toLong)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  private def stageOf(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), {
      val j = stageJob.get(id)
      Stage(id, attempt, j.map(_.id).getOrElse(-1), j.map(_.inv).getOrElse(-1),
        j.map(_.phase).getOrElse("other"))
    })
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled) synchronized {
    val s = stageOf(e.stageInfo.stageId, e.stageInfo.attemptNumber())
    s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) synchronized {
    stageOf(e.stageInfo.stageId, e.stageInfo.attemptNumber()).completed =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = if (enabled) synchronized {
    val s = stageOf(e.stageId, e.stageAttemptId)
    if (s.firstLaunch < 0 || e.taskInfo.launchTime < s.firstLaunch)
      s.firstLaunch = e.taskInfo.launchTime
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
    val s = stageOf(e.stageId, e.stageAttemptId)
    s.tasks += 1
    if (e.reason != org.apache.spark.Success) s.tasksFailed += 1
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.readBytes += m.inputMetrics.bytesRead
      s.readRows += m.inputMetrics.recordsRead
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled) e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(sqlExecs(s.executionId) = (s.time, -1L))
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      synchronized(sqlExecs.get(s.executionId).foreach { case (st, _) =>
        sqlExecs(s.executionId) = (st, s.time) })
    case _ => ()
  }

  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    p +: inner.flatMap(nodes)
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) {
        val plan = nodes(qe.executedPlan)
        val sql = Sql(funcName, Engine.nowMs(), durationNs / 1e6,
          qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) },
          plan.count(_.getClass.getSimpleName.startsWith("TopK")),
          plan.collect { case m: InMemoryTableScanExec =>
            m.relation.cacheBuilder.cachedColumnBuffers.id })
        Tracer.this.synchronized(sqls += sql)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) {
        val p = e.progress
        val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        Tracer.this.synchronized(batches += Batch(p.runId.toString, p.batchId, start,
          durations, p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.commitTimeMs).sum))
      }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qel)
    spark.streams.addListener(streams)
  }

  /** Codegen counters: (compile nanoseconds, classes compiled) so far. */
  def codegen(): (Long, Long) =
    (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

}
