package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.cli.GraftCopy
import graft.fp.Fingerprint
import graft.recon.Reconciler.Verdict
import graft.schema.SchemaReconciler

/** `sync_drift`: the paper's reconcile loop against a destination whose
  * schema differs from the source (`l_tax` dropped, `l_linenumber`
  * int→bigint, `l_quantity` double→decimal(12,2)).
  *
  * Each round damages three seeded partitions of the destination (one
  * directory deleted → `copy`; rows dropped → `delete_recopy` by count;
  * one value changed at the same row count → `delete_recopy` by hash
  * only), then calls `GraftCopy.reconcile` three times: check
  * (`execute=false`, read), repair (`execute=true`, write) and confirm
  * (`execute=false`, read). The final state is checked once more, by
  * fingerprint, after the measured phase. */
final class SyncDrift(ctx0: Ctx) extends Workload(ctx0) {
  import SyncDrift._

  val readKinds = Seq("check", "confirm")
  val writeKinds = Seq("repair")
  /** Source rows reconciled per second of check and confirm time. */
  override def itemsPerS(ops: Seq[OpRec]): Double = {
    val checks = ops.filter(_.cls == "read")
    checks.map(_.items).sum / checks.map(_.latencyS).sum
  }

  private val srcDir = ctx.corpus.toString
  private val dstRoot = ctx.work.resolve("dst")
  private val dstTable = dstRoot.resolve(Table)
  private val partKey = "date_format(l_shipdate,'yyyyMM')"
  private lazy val source = spark.read.parquet(s"$srcDir/$Table.parquet")
  private lazy val months: IndexedSeq[String] =
    source.select(expr(partKey)).distinct().collect().map(_.getString(0)).sorted.toIndexedSeq
  private lazy val sourceRows: Long = source.count()
  private val damageRng = ctx.rng(1)

  // per traced repair: damaged partitions, rewritten partitions, rows in them
  private val repairs = scala.collection.mutable.ArrayBuffer.empty[(OpRec, Int, Int, Long)]
  private val castPlanS = scala.collection.mutable.ArrayBuffer.empty[Double]

  def prepareInputs(): Unit = Inputs.once(ctx.corpus) {
    // one file per id range, so scans run on every core
    Inputs.lineitem(spark, Inputs.CorpusSeed, Rows, SourceFiles).write.parquet(s"${ctx.corpus}/$Table.parquet")
  }

  /** The destination starts as one partition in its own schema; the
    * program's initial copy fills in the rest. */
  def setupOnce(): Unit = {
    Fs.rm(dstRoot)
    source.filter(expr(partKey) === months.head)
      .select(DstCols :+ expr(partKey).as("__part"): _*)
      .write.partitionBy("__part").parquet(dstTable.toString)
    val (status, _) = reconcile(execute = true)
    require(status == GraftCopy.Status.Ok, s"initial copy returned $status")
  }

  private def reconcile(execute: Boolean): (Int, Seq[String]) = {
    val buf = new ByteArrayOutputStream()
    val status = Console.withOut(new PrintStream(buf, true, "UTF-8")) {
      GraftCopy.reconcile(spark, srcDir, dstRoot.toString, Table, partKey, execute)
    }
    (status, buf.toString("UTF-8").split("\n").toSeq)
  }

  /** Verdict per partition from the reconcile's report lines. */
  private def verdicts(lines: Seq[String]): Map[String, String] =
    lines.flatMap(l => VerdictLine.findFirstMatchIn(l).map(m => m.group(1) -> m.group(2))).toMap

  private def partDir(m: String): Path = dstTable.resolve(s"__part=$m")

  private def listing(): Map[String, Set[String]] =
    months.map(m => m -> Fs.parts(partDir(m)).toSet).toMap

  /** Rewrite one destination partition through a hidden sibling dir. */
  private def rewrite(m: String)(f: DataFrame => DataFrame): Unit = {
    val tmp = dstTable.resolve(s".rewrite-$m")
    f(spark.read.parquet(partDir(m).toString)).coalesce(1).write.parquet(tmp.toString)
    Fs.rm(partDir(m))
    Files.move(tmp, partDir(m))
  }

  def round(r: Runner, n: Int): Unit = {
    val Seq(gone, shrunk, edited) = damageRng.shuffle(months.tail).take(3)
    Fs.rm(partDir(gone))
    rewrite(shrunk)(df => df.filter(pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(10)) =!= 0))
    rewrite(edited) { df =>
      val first = df.select(min("l_orderkey")).head().getLong(0)
      val one = col("l_orderkey") === first && col("l_linenumber") === df
        .filter(col("l_orderkey") === first).select(min("l_linenumber")).head().getLong(0)
      df.withColumn("l_quantity",
        when(one, col("l_quantity") + lit(1)).otherwise(col("l_quantity")).cast(DecimalType(12, 2)))
    }
    val expected = Map(gone -> Verdict.Copy, shrunk -> Verdict.DeleteRecopy,
      edited -> Verdict.DeleteRecopy)

    r.op("check", "read", "cli", sourceRows)(reconcile(execute = false)).foreach {
      case (rec, (status, lines)) =>
        val dirty = verdicts(lines).filter(_._2 != Verdict.Skip)
        if (dirty != expected) r.failOp(rec, s"check flagged $dirty, damaged $expected")
        if (status != GraftCopy.Status.HashFail) r.failOp(rec, s"check returned status $status")
        if (rec.traced) {
          val dstSchema = spark.read.parquet(dstTable.toString).schema
          castPlanS += Stats.timed(SchemaReconciler.castPlan(source.schema, dstSchema))._2
        }
    }
    val before = listing()
    r.op("repair", "write", "cli")(reconcile(execute = true)).foreach {
      case (rec, (status, _)) =>
        if (status != GraftCopy.Status.Ok) r.failOp(rec, s"repair returned status $status")
        val after = listing()
        val rewritten = months.filter(m => before(m) != after(m))
        if (rec.traced) {
          val rows = spark.read.parquet(dstTable.toString)
            .filter(col("__part").isin(expected.keys.toSeq: _*)).count()
          repairs += ((rec, expected.size, rewritten.size, rows))
        }
    }
    // the warm-up skips it: a confirm runs the check's code
    if (n >= 0) r.op("confirm", "read", "cli", sourceRows)(reconcile(execute = false)).foreach {
      case (rec, (status, lines)) =>
        val dirty = verdicts(lines).filter(_._2 != Verdict.Skip)
        if (dirty.nonEmpty) r.failOp(rec, s"confirm after repair flagged $dirty")
        if (status != GraftCopy.Status.Ok) r.failOp(rec, s"confirm returned status $status")
    }
  }

  /** Final state, after the last repair: per partition, the
    * destination's (rows, fp) equals the cast source's. */
  def finish(r: Runner): Unit = {
    val dst = spark.read.parquet(dstTable.toString)
    val plan = SchemaReconciler.castPlan(source.schema, dst.schema)
    val key = Seq("__part" -> expr(partKey))
    def fps(df: DataFrame, cols: Seq[org.apache.spark.sql.Column]) =
      Fingerprint.byPartition(df, key, cols).collect()
        .map(row => row.getString(0) -> (row.getLong(1), row.getLong(2))).toMap
    val want = fps(source, plan.map(_._2))
    val got = fps(dst, plan.map(p => col(p._1)))
    r.check(want == got, s"destination fingerprints differ from the cast source in " +
      s"${(want.keySet ++ got.keySet).count(k => want.get(k) != got.get(k))} partitions")
  }

  def bytesStoredPerInputByte(): Double =
    Fs.size(dstTable).toDouble / Fs.size(ctx.corpus.resolve(s"$Table.parquet"))

  def layerMetrics(t: TraceView): Seq[(String, Double)] = {
    val checks = t.ofKind("check")
    val repairOps = t.ofKind("repair")
    val srcPath = ctx.corpus.resolve(s"$Table.parquet").toString
    val hashed = checks.flatMap(t.sqlsOf).filter(_.hashesRows).flatMap(_.scans).distinctBy(_.node).map(_.rows).sum
    val srcScans = t.scansUnder(repairOps.flatMap(t.sqlsOf), srcPath).size
    val writeRows = t.scansUnder(repairOps.flatMap(t.sqlsOf).filter(_.isWrite), srcPath).map(_.rows).sum
    Seq(
      "schema.cast_plan_s" -> Stats.mean(castPlanS.toSeq),
      "fp.rows_hashed_per_check" -> t.perOp(hashed, checks),
      "recon.source_scans_per_sync" -> t.perOp(srcScans, repairOps),
      "recon.rewrite_precision" -> repairs.map(_._2).sum.toDouble / repairs.map(_._3).sum,
      "recon.repair_read_amplification" -> writeRows.toDouble / repairs.map(_._4).sum)
  }
}

object SyncDrift {
  val Table = "lineitem"
  val Rows = 600000L
  val SourceFiles = 8
  /** What the generated source depends on besides the generator code. */
  val InputSpec = s"rows=$Rows files=$SourceFiles seed=${Inputs.CorpusSeed}"
  private val VerdictLine = """part=(\S+) src=\S+ dst=\S+ -> (\S+)""".r
  /** The destination schema: `l_tax` dropped, two columns re-typed. */
  val DstCols: Seq[org.apache.spark.sql.Column] = Seq(
    col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
    col("l_linenumber").cast("bigint").as("l_linenumber"),
    col("l_quantity").cast(DecimalType(12, 2)).as("l_quantity"),
    col("l_extendedprice"), col("l_discount"), col("l_returnflag"),
    col("l_linestatus"), col("l_shipdate"))
}
