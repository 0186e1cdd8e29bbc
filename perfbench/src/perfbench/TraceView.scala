package perfbench

import perfbench.Tracer._

/** Read side of a traced run: joins the tracer's job, stage and SQL
  * records to the traced ops and derives the per-layer metrics.
  *
  * Attribution: a job belongs to the op whose span id is its job group;
  * a job without a group (a thread started outside the op's thread tree)
  * belongs to the op whose wall interval contains its start. Within the
  * op, the job's layer is the module of its call site
  * ([[Tracer.moduleOf]]), else the op's own module. A SQL execution
  * belongs to the op whose span id it started under. */
final class TraceView(t: Tracer, allOps: Seq[OpRec]) {
  val ops: Seq[OpRec] = allOps.filter(_.traced)
  private val byId = ops.map(o => o.id -> o).toMap

  private def opAt(ms: Long): Option[OpRec] =
    ops.find(o => ms >= o.startMs && ms <= o.endMs + 1)

  /** job → (op, layer). Jobs of the harness's own checks and set-up run
    * under other job groups and belong to no op. */
  val jobOps: Seq[(JobRec, OpRec, String)] = t.jobs.toSeq.flatMap { j =>
    val op = j.group match {
      case Some(g) if g.startsWith("op-") => byId.get(g)
      case Some(_) => None
      case None => opAt(j.startMs)
    }
    op.map(o => (j, o, moduleOf(j.callSite).getOrElse(o.module)))
  }

  /** Jobs seen while tracing that landed on neither an op nor a named
    * harness group. */
  val unattributedJobs: Int = t.jobs.count(j => j.group.isEmpty && opAt(j.startMs).isEmpty)

  /** SQL record (by QueryExecution id) → op: through its execution's
    * job group, else through its jobs. */
  private val sqlOp: Map[Long, OpRec] = {
    val fromJobs = jobOps.flatMap { case (j, o, _) => j.execId.map(_ -> o) }.toMap
    t.sqls.keys.flatMap { qeId =>
      t.execOfQe.get(qeId).flatMap { exec =>
        t.execGroups.get(exec).flatten.flatMap(byId.get).orElse(fromJobs.get(exec))
      }.map(qeId -> _)
    }.toMap
  }

  System.err.println(s"[trace] traced ops ${ops.size}: jobs ${t.jobs.size} (${jobOps.size} on ops), " +
    s"SQL executions ${t.sqls.size} (${sqlOp.size} on ops), unattributed jobs $unattributedJobs")

  def sqlsOf(o: OpRec): Seq[SqlRec] =
    t.sqls.values.filter(s => sqlOp.get(s.id).contains(o)).toSeq

  def jobsOf(o: OpRec): Seq[JobRec] = jobOps.collect { case (j, op, _) if op == o => j }

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stageIds).distinct.flatMap(t.stages.get)

  def taskS(js: Seq[JobRec]): Double = stagesOf(js).map(_.runMs).sum / 1000.0

  def jobS(js: Seq[JobRec]): Double = js.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1000.0

  /** Seconds of `[start, end]` covered by the union of the jobs' intervals. */
  def covered(js: Seq[JobRec], start: Long, end: Long): Double = {
    val iv = js.map(j => (math.max(j.startMs, start), math.min(math.max(j.endMs, j.startMs), end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total / 1000.0
  }

  def layerJobs(layer: String): Seq[JobRec] = jobOps.collect { case (j, _, l) if l == layer => j }

  def perOp(x: Double, os: Seq[OpRec] = ops): Double = if (os.isEmpty) 0.0 else x / os.size

  def scansUnder(sqls: Seq[SqlRec], dir: String): Seq[Scan] =
    sqls.flatMap(_.scans).filter(_.paths.exists(_.startsWith(dir))).distinctBy(_.node)

  def ofKind(kinds: String*): Seq[OpRec] = ops.filter(o => kinds.contains(o.kind))

  /** Metrics every workload reports. */
  def common(): Seq[(String, Double)] = {
    val js = jobOps.map(_._1)
    val st = stagesOf(js)
    val sq = ops.flatMap(sqlsOf)
    val gap = ops.map(o => o.latencyS - covered(jobsOf(o), o.startMs, o.endMs)).sum
    val waits = st.filter(s => s.submitMs >= 0 && s.firstLaunchMs >= 0)
      .map(s => math.max(0L, s.firstLaunchMs - s.submitMs)).sum / 1000.0
    def q(x: Double) = if (sq.isEmpty) 0.0 else x / sq.size
    val fpExecs = t.sqls.values.filter(s => s.hashesRows && sqlOp.contains(s.id))
      .flatMap(s => t.execOfQe.get(s.id)).toSet
    val fpJobs = js.filter(_.execId.exists(fpExecs))
    Seq(
      "spark.jobs_per_op" -> perOp(js.size),
      "spark.tasks_per_op" -> perOp(st.map(_.tasks).sum),
      "spark.driver_gap_s_per_op" -> perOp(gap),
      "spark.task_s_per_op" -> perOp(st.map(_.runMs).sum / 1000.0),
      "spark.stage_wait_s_per_op" -> perOp(waits),
      "spark.input_bytes_per_op" -> perOp(st.map(_.inputBytes).sum),
      "spark.shuffle_bytes_per_op" -> perOp(st.map(_.shuffleBytes).sum),
      "spark.output_bytes_per_op" -> perOp(st.map(_.outputBytes).sum),
      "spark.spill_bytes_per_op" -> perOp(st.map(_.spillBytes).sum),
      "spark.task_failures" -> st.map(_.failures).sum.toDouble,
      "plans.optimize_s_per_query" -> q(sq.map(_.optimizeMs).sum / 1000.0),
      "plans.plan_s_per_query" -> q(sq.map(_.planMs).sum / 1000.0),
      "cli.job_s" -> perOp(jobS(layerJobs("cli"))),
      "core.job_s" -> perOp(jobS(layerJobs("core"))),
      "text.task_s" -> perOp(taskS(layerJobs("text"))),
      "dedup.task_s" -> perOp(taskS(layerJobs("dedup"))),
      "fp.task_s" -> perOp(taskS(fpJobs)))
  }
}
