package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Harness entry point: one JVM runs one workload once.
  *
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --root DIR`
  *
  * `perfbench.Main --prime 1 --root DIR` is the build's class-loading
  * pass instead: each workload's input generation and one set-up, no
  * result.
  *
  * Phases: session start; base corpus generation (cached under
  * DIR/inputs, never timed); the workload's own set-up, twice
  * from a clean state; one untimed warm-up round; closed-loop
  * rounds with one client thread until S seconds have passed; deferred
  * output checks; one result line `PERFBENCH_RESULT {json}` on stdout.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val prime = opts.contains("prime")
    val workload = if (prime) "prime" else opts("workload")
    val root = Paths.get(opts("root")).toAbsolutePath
    val work = root.resolve("work").resolve(s"$workload-${ProcessHandle.current().pid()}")
    Fs.rm(work)
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.core.GraftSession.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS = (System.nanoTime() - t0) / 1e9

    var exit = 0
    try {
      def load(name: String, seed: Long): Workload = {
        val (spec, make) = name match {
          case "sync_drift" => (SyncDrift.InputSpec, new SyncDrift(_: Ctx))
          case "serve_mixed" => (ServeMixed.InputSpec, new ServeMixed(_: Ctx))
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        make(Ctx(spark, seed, Inputs.dir(root.resolve("inputs"), name, spec), work.resolve(name)))
      }
      if (prime) Seq("sync_drift", "serve_mixed").foreach { name =>
        val wl = load(name, 0L)
        wl.prepareInputs()
        wl.setupOnce()
      } else {
        val wl = load(workload, opts("seed").toLong)
        val result = new Runner(wl.ctx, wl, opts("seconds").toDouble,
          opts.getOrElse("trace", "0") == "1", sessionStartS).run()
        println("PERFBENCH_RESULT " + result)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        exit = 1
    } finally {
      spark.stop()
      Fs.rm(work)
    }
    sys.exit(exit)
  }
}

/** What every workload shares: the session, the seed, the base corpus
  * dir (generated once per checkout from [[Inputs.CorpusSeed]]) and the
  * run's scratch dir. The seed picks everything a run does on top of the
  * corpus: damage, query profiles, arriving data and its order. */
final case class Ctx(spark: SparkSession, seed: Long, corpus: Path, work: Path) {
  def rng(stream: Int): scala.util.Random = new scala.util.Random(seed * 1000003L + stream)
}

/** One measured call into the program. `items` is the workload's unit of
  * work for `items_per_s`. A failed op (thrown, or failed its check) has
  * no latency sample. */
final case class OpRec(id: String, kind: String, cls: String, module: String,
    round: Int, traced: Boolean, startMs: Long, endMs: Long, latencyS: Double,
    items: Long) {
  var failure: Option[String] = None
  def ok: Boolean = failure.isEmpty
}

abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  /** Read and write op kinds; every round runs each kind at least once. */
  def readKinds: Seq[String]
  def writeKinds: Seq[String]
  /** Generate (or reuse) the base corpus. Not timed. */
  def prepareInputs(): Unit
  /** The program's own initial work from a clean state; timed. */
  def setupOnce(): Unit
  /** One round of ops, issued through `r.op`. Round -1 is the warm-up;
    * rounds after the first (the first two when traced) may stop early
    * once `r.expired`. */
  def round(r: Runner, n: Int): Unit
  /** False once the workload's inputs cannot feed another round; the
    * measured phase then ends early. */
  def canRound: Boolean = true
  /** Deferred output checks, after the measured phase. */
  def finish(r: Runner): Unit
  def itemsPerS(ops: Seq[OpRec]): Double =
    ops.map(_.items).sum / ops.map(_.latencyS).sum
  def bytesStoredPerInputByte(): Double
  def layerMetrics(t: TraceView): Seq[(String, Double)]
}

final class Runner(ctx: Ctx, wl: Workload, seconds: Double, traced: Boolean,
    sessionStartS: Double) {
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val tracer = new Tracer(ctx.spark)
  private val globalFailures = mutable.ArrayBuffer.empty[String]
  private var roundNo = -1
  private var tracing = false
  private var warm = true

  /** Time one call into the program under a fresh span id (which is also
    * the Spark job group). An exception fails the op. */
  def op[T](kind: String, cls: String, module: String, items: Long = 1L)(body: => T): Option[(OpRec, T)] = {
    val id = f"op-${ops.size + (if (warm) 100000 else 0)}%06d-$kind"
    val sc = ctx.spark.sparkContext
    val outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(id, kind, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val lat = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    sc.setJobGroup(outer, "", interruptOnCancel = false)
    val rec = OpRec(id, kind, cls, module, roundNo, tracing, startMs, endMs, lat, items)
    res match {
      case Left(e) =>
        rec.failure = Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        System.err.println(s"[perfbench] $id failed: ${rec.failure.get}")
        e.printStackTrace()
      case _ =>
    }
    if (!warm) ops += rec
    else if (!rec.ok) fail(s"warm-up ${rec.failure.get}")
    res.toOption.map(v => (rec, v))
  }

  private var deadline = Long.MaxValue

  /** The measured phase is over: round 0 always completes, later rounds
    * may stop between ops. */
  def expired: Boolean = !warm && roundNo >= minRounds && System.nanoTime() >= deadline

  private val minRounds = if (traced) 2 else 1
  /** Set-ups per run; `setup_s` takes their median. The first pays JVM
    * warm-up, the second runs warm. */
  private val Setups = 2

  /** Mark an op as failed by its output check. */
  def failOp(rec: OpRec, why: String): Unit = {
    System.err.println(s"[perfbench] check failed for ${rec.id}: $why")
    if (rec.round < 0) globalFailures += why
    else if (rec.ok) rec.failure = Some(why)
  }

  /** A check that belongs to no single op (final state, set-up). */
  def fail(why: String): Unit = {
    System.err.println(s"[perfbench] check failed: $why")
    globalFailures += why
  }

  def check(cond: Boolean, why: => String): Unit = if (!cond) fail(why)

  def run(): String = {
    val tGen = Stats.timed(wl.prepareInputs())._2
    val setups = (1 to Setups).map { _ => Stats.timed(wl.setupOnce())._2 }
    System.err.println(f"[perfbench] session ${sessionStartS}%.3fs, inputs $tGen%.3fs, " +
      f"setups ${setups.map(s => f"$s%.3f").mkString(" ")}")
    val tWarm = Stats.timed(wl.round(this, -1))._2
    System.err.println(f"[perfbench] warm-up round $tWarm%.3fs")
    warm = false
    ctx.spark.sparkContext.setJobGroup("warm-done", "", interruptOnCancel = false)
    deadline = System.nanoTime() + (seconds * 1e9).toLong
    roundNo = 0
    val jvm0 = Stats.jvmTimes()
    while (wl.canRound && (roundNo < minRounds || System.nanoTime() < deadline)) {
      // traced runs alternate: even rounds untraced, odd rounds traced
      tracing = traced && roundNo % 2 == 1
      if (tracing) tracer.attach()
      ctx.spark.sparkContext.setJobGroup(s"round-$roundNo", "", interruptOnCancel = false)
      wl.round(this, roundNo)
      if (tracing) tracer.detach()
      roundNo += 1
    }
    ctx.spark.sparkContext.clearJobGroup()
    val jvm1 = Stats.jvmTimes()
    System.err.println(f"[perfbench] measured phase: GC ${jvm1._1 - jvm0._1} ms in ${jvm1._2 - jvm0._2} pauses, " +
      f"JIT ${jvm1._3 - jvm0._3} ms")
    val heapMb = Stats.retainedHeapMb()
    val tFinish = Stats.timed(wl.finish(this))._2
    System.err.println(f"[perfbench] checks $tFinish%.3fs")
    val metrics: Seq[(String, Double, String)] =
      if (!traced) endToEnd(sessionStartS + Stats.median(setups), heapMb)
      else {
        val view = new TraceView(tracer, ops.toSeq)
        val layer = (view.common() ++ wl.layerMetrics(view) :+
          ("trace.overhead_frac" -> overheadFrac())).toMap
        check(view.unattributedJobs == 0, s"${view.unattributedJobs} traced jobs not attributed")
        // every run prints every layer metric; one the workload's ops
        // never reach reads 0
        Layers.all.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
      }
    val byKind = ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
      f"$k n=${os.size} p50=${Stats.median(os.filter(_.ok).map(_.latencyS).toSeq)}%.4f" }
    System.err.println(s"[perfbench] rounds=$roundNo ops=${ops.size} ${byKind.mkString(", ")}")
    System.err.println("[perfbench] op latencies: " + ops.map(o => f"${o.kind}=${o.latencyS}%.3f").mkString(" "))
    val failed = ops.count(!_.ok)
    Json.result(failed == 0 && globalFailures.isEmpty, ops.size, failed, metrics)
  }

  private def endToEnd(setupS: Double, heapMb: Double): Seq[(String, Double, String)] = {
    def okOf(cls: String) = ops.filter(o => o.cls == cls && o.ok).toSeq
    def kindMedians(kinds: Seq[String]) =
      Stats.mean(kinds.map(k => Stats.median(ops.filter(o => o.kind == k && o.ok).map(_.latencyS).toSeq)))
    Seq(
      ("setup_s", setupS, "s"),
      ("read_p50_s", kindMedians(wl.readKinds), "s"),
      ("write_p50_s", kindMedians(wl.writeKinds), "s"),
      ("items_per_s", wl.itemsPerS(okOf("read") ++ okOf("write")), "items/s"),
      ("heap_retained_mb", heapMb, "MB"),
      ("bytes_stored_per_input_byte", wl.bytesStoredPerInputByte(), "ratio"))
  }

  /** Traced versus untraced rounds of the same run: per op kind the
    * ratio of median latencies, averaged over kinds, minus one. */
  private def overheadFrac(): Double = {
    val ratios = ops.filter(_.ok).groupBy(_.kind).values.flatMap { os =>
      val t = os.filter(_.traced).map(_.latencyS).toSeq
      val u = os.filterNot(_.traced).map(_.latencyS).toSeq
      if (t.nonEmpty && u.nonEmpty) Some(Stats.median(t) / Stats.median(u)) else None
    }.toSeq
    if (ratios.isEmpty) 0.0 else Stats.mean(ratios) - 1.0
  }
}

/** The per-layer metrics a traced run prints, with their units. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.driver_gap_s_per_op" -> "s", "spark.task_s_per_op" -> "s",
    "spark.stage_wait_s_per_op" -> "s", "spark.input_bytes_per_op" -> "bytes",
    "spark.shuffle_bytes_per_op" -> "bytes", "spark.output_bytes_per_op" -> "bytes",
    "spark.spill_bytes_per_op" -> "bytes", "spark.task_failures" -> "count",
    "plans.optimize_s_per_query" -> "s", "plans.plan_s_per_query" -> "s",
    "plans.mv_rewrite_hit_frac" -> "ratio", "plans.mv_tail_files_per_query" -> "count",
    "agg.states_rows_read_per_query" -> "rows", "agg.append_s" -> "s",
    "schema.cast_plan_s" -> "s",
    "fp.rows_hashed_per_check" -> "rows", "fp.task_s" -> "s",
    "recon.source_scans_per_sync" -> "count", "recon.rewrite_precision" -> "ratio",
    "recon.repair_read_amplification" -> "ratio",
    "cli.job_s" -> "s", "core.job_s" -> "s",
    "text.task_s" -> "s", "text.bm25_append_s" -> "s", "text.bm25_probe_s" -> "s",
    "text.postings_rows_per_probe" -> "rows",
    "dedup.task_s" -> "s", "dedup.store_rows_read_per_shard" -> "rows",
    "sim.ivf_probe_s" -> "s", "sim.rows_scored_per_probe" -> "rows", "sim.recall_at10" -> "ratio",
    "trace.overhead_frac" -> "ratio")
}

object Stats {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** (GC ms, GC count, JIT compile ms) since JVM start. */
  def jvmTimes(): (Long, Long, Long) = {
    import scala.jdk.CollectionConverters._
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum,
      java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Heap in use after full GCs. Spark's ContextCleaner frees broadcast
    * and shuffle blocks on its own thread once their references are
    * collected, so GC runs until the reading settles (lowest of three). */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
}

object Fs {
  def rm(p: Path): Unit = if (Files.exists(p)) graft.core.Fs.deleteRecursively(p)

  /** Bytes of every regular file under `p`, Spark's checksum files too. */
  def size(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Data files (parquet parts) directly under `dir`, sorted by name. */
  def parts(dir: Path): Seq[String] =
    Option(dir.toFile.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).sorted
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
