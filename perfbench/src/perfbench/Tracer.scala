package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracer. Nothing inside graft is instrumented: the harness
  * opens one span per public call it makes (the op), sets the Spark job
  * group to the op's span id, and listens to Spark's own events.
  *
  *  - A [[SparkListener]] records every job (its job group, SQL
  *    execution id, wall interval and call site), every stage (submit
  *    time, first task launch) and every task's metrics.
  *  - A [[QueryExecutionListener]] records every SQL execution's planning
  *    phases (QueryPlanningTracker) and its file scans (root paths and
  *    rows out), read off the final physical plan. The SQL start and end
  *    events key each record to its execution id and job group.
  *
  * Events are buffered in memory and only read after the listener bus
  * has drained ([[Tracer.drain]]). The listeners are attached only around
  * traced ops, so the untraced ops of the same run measure the overhead.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  val sqls = mutable.HashMap.empty[Long, SqlRec]
  /** SQL execution id → the job group it started under. */
  val execGroups = mutable.HashMap.empty[Long, Option[String]]
  /** QueryExecution id → SQL execution id. */
  val execOfQe = mutable.HashMap.empty[Long, Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val site = e.stageInfos.headOption.map(_.details).getOrElse("")
      jobs += JobRec(e.jobId, prop("spark.jobGroup.id"),
        prop("spark.sql.execution.id").map(_.toLong), e.time, -1L, site,
        e.stageIds)
      e.stageIds.foreach(id => stages.getOrElseUpdate(id, StageRec(id)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val i = jobs.lastIndexWhere(_.jobId == e.jobId)
      if (i >= 0) jobs(i) = jobs(i).copy(endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId, StageRec(e.stageInfo.stageId))
      s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageId, StageRec(e.stageId))
      if (s.firstLaunchMs < 0 || e.taskInfo.launchTime < s.firstLaunchMs)
        s.firstLaunchMs = e.taskInfo.launchTime
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized { execGroups(s.executionId) = s.jobGroupId }
      case end: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.PerfbenchSql.queryExecution(end).foreach(qe =>
          synchronized { execOfQe(qe.id) = end.executionId })
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageId, StageRec(e.stageId))
      s.tasks += 1
      if (!e.taskInfo.successful) s.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.outputBytes += m.outputMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def phaseMs(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val plan = qe.executedPlan
    val scans = collectScans(plan)
    val text = plan.toString
    val rec = SqlRec(qe.id, phaseMs("optimization"), phaseMs("planning"), scans,
      isWrite = plan.nodeName.contains("Command") || text.contains("WriteFiles"),
      hashesRows = text.contains("xxhash64"))
    synchronized { sqls(qe.id) = rec }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(sqlListener)
    attached = true
  }

  /** Drain the bus first so no buffered event of a traced op is lost. */
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(sqlListener)
    attached = false
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

object Tracer {
  final case class JobRec(jobId: Int, group: Option[String], execId: Option[Long],
      startMs: Long, endMs: Long, callSite: String, stageIds: Seq[Int])

  final case class StageRec(stageId: Int) {
    var submitMs = -1L
    var firstLaunchMs = -1L
    var tasks = 0L
    var failures = 0L
    var runMs = 0L
    var inputBytes = 0L
    var shuffleBytes = 0L
    var outputBytes = 0L
    var spillBytes = 0L
  }

  /** One file scan of a SQL execution: root paths and rows it produced.
    * `node` identifies the scan operator, so a cached relation's scan,
    * reached from every execution that reads the cache, counts once. */
  final case class Scan(paths: Seq[String], rows: Long, node: Int)

  final case class SqlRec(id: Long, optimizeMs: Long, planMs: Long,
      scans: Seq[Scan], isWrite: Boolean, hashesRows: Boolean)

  /** File scans of a final physical plan, through adaptive wrappers,
    * query stages, cached relations and subqueries; a reused exchange is
    * counted once. */
  def collectScans(plan: SparkPlan): Seq[Scan] = {
    val out = mutable.ArrayBuffer.empty[Scan]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => ()
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
      case f: FileSourceScanExec =>
        val rows = f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        out += Scan(f.relation.location.rootPaths.map(_.toUri.getPath), rows, System.identityHashCode(f))
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  /** Module of a job: the package under `graft` of the first program
    * frame in its call site (`graft.cli.GraftCopy$.reconcile(...)` →
    * `cli`); a top-level graft class maps to `graft`. None when the call
    * site holds no program frame (the harness's own call, or a thread
    * Spark started), in which case the job belongs to its op's module. */
  def moduleOf(callSite: String): Option[String] =
    callSite.split("\n").map(_.trim).find(_.startsWith("graft.")).map { frame =>
      val parts = frame.split("\\.")
      if (parts.length > 2 && parts(1).headOption.exists(_.isLower)) parts(1) else "graft"
    }
}
