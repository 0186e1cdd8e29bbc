package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.agg.AggStore
import graft.dedup.SeenStore
import graft.plans.MaterializedRollups
import graft.sim.{Hybrid, Similarity}
import graft.text.Retrieval

/** `serve_mixed`: small interactive ops where driver-side planning,
  * metadata reads and job dispatch dominate — the opposite of
  * `sync_drift`.
  *
  * Set-up builds an `AggStore` over a raw events directory and registers
  * it with `MaterializedRollups` (the materialized view), a BM25 index
  * over documents and an IVF index over embeddings. Every round, first a
  * new raw events file arrives (untimed, so the MV's realtime tail arm
  * runs), then the ops of `Schedule` in a fixed order: MV dashboard
  * aggregates over the raw directory at four shapes (full key, key
  * subset, `month(event_day)`, filtered); hybrid searches (BM25 and IVF
  * probes, RRF-fused) with query profiles drawn Zipf-skewed from a fixed
  * pool, so profiles repeat; and three writes (fold the new raw files
  * into the store and re-register, `appendBm25Index`, `appendIvfIndex`). */
final class ServeMixed(ctx0: Ctx) extends Workload(ctx0) {
  import ServeMixed._

  val readKinds = Seq("mv", "hybrid")
  val writeKinds = Seq("mv_fold", "doc_ingest", "ivf_append")

  private val raw = ctx.work.resolve("raw")
  private val store = ctx.work.resolve("agg_store").toString
  private val bm25 = ctx.work.resolve("bm25").toString
  private val ivf = ctx.work.resolve("ivf").toString
  private val seen = ctx.work.resolve("seen").toString
  private def in(name: String) = ctx.corpus.resolve(name).toString
  private val rng = ctx.rng(3)
  /** The seed's order of the appendable document and vector shards. */
  private val addOrder = ctx.rng(4).shuffle((0 until AddShards).toVector)
  /** One query vector (a base-corpus id) per profile. */
  private val queryIds = { val q = ctx.rng(5); (0 until Profiles).map(_ => 1L + q.nextInt(Vecs.toInt)) }

  private val keys = Seq("event_type", "region", "event_day")
  private val measures = Seq("value" -> col("value"))
  private lazy val recallFloor: Double = RecallFloor.read()

  // mutable serving state
  private var rawFiles = Vector.empty[String]
  private var folded = 0
  private var docShards = 0
  private var vecShards = 0
  private var arrivals = 0

  // deferred checks
  private val mvReads = mutable.ArrayBuffer.empty[(OpRec, String, Vector[String], Set[Seq[Any]], Seq[String])]
  private val bm25Reads = mutable.ArrayBuffer.empty[(OpRec, Int, Int, Set[Seq[Any]])]
  // hybrid op → (BM25 probe seconds, IVF probe seconds)
  private val probeS = mutable.ArrayBuffer.empty[(OpRec, Double, Double)]
  // doc_ingest op → (shard, docs kept after dedup, appendBm25Index seconds)
  private val ingests = mutable.ArrayBuffer.empty[(OpRec, Int, Long, Double)]

  def prepareInputs(): Unit = Inputs.once(ctx.corpus) {
    Inputs.events(spark, Inputs.CorpusSeed, 0L, RawRows).repartition(RawFiles).write.parquet(in("events"))
    Inputs.documents(spark, Inputs.CorpusSeed, 1L, Docs).coalesce(1).write.parquet(in("docs"))
    Inputs.embeddings(spark, Inputs.CorpusSeed, 1L, Vecs).coalesce(1).write.parquet(in("vecs"))
    Inputs.writeSplit(Inputs.documents(spark, Inputs.CorpusSeed, Docs + 1, AddShards * AddDocs)
      .withColumn("__split", ((col("doc_id") - Docs - 1) / AddDocs).cast("long")),
      ctx.corpus, k => f"docs-add-$k%02d")
    Inputs.writeSplit(Inputs.embeddings(spark, Inputs.CorpusSeed, Vecs + 1, AddShards * AddVecs)
      .withColumn("__split", ((col("vec_id") - Vecs - 1) / AddVecs).cast("long")),
      ctx.corpus, k => f"vecs-add-$k%02d")
  }

  def setupOnce(): Unit = {
    MaterializedRollups.clear()
    Seq(raw.toString, store, bm25, ivf, seen).foreach(p => Fs.rm(Paths.get(p)))
    Files.createDirectories(raw)
    Fs.parts(Paths.get(in("events"))).foreach(f =>
      Files.copy(Paths.get(in("events")).resolve(f), raw.resolve(f)))
    rawFiles = Fs.parts(raw).toVector
    folded = rawFiles.size
    docShards = 0; vecShards = 0; arrivals = 0
    val base = spark.read.parquet(raw.toString)
    val docs = spark.read.parquet(in("docs"))
    val steps = Seq(
      Stats.timed(AggStore.appendMeasures(spark, store, base, keys, measures, shardId = "base"))._2,
      Stats.timed(register())._2,
      Stats.timed(Retrieval.buildBm25Index(docs, "text", "doc_id", bm25, buckets = Bm25Buckets,
        shardId = "base"))._2,
      Stats.timed(SeenStore.update(spark, seen, docs, "text", "base"))._2,
      Stats.timed(Similarity.buildIvfIndex(spark.read.parquet(in("vecs")), "vec_id", "embedding", ivf,
        nCentroids = Centroids, shardId = "base"))._2)
    System.err.println(s"[perfbench] serve set-up steps (agg, register, bm25, seen, ivf): " +
      steps.map(x => f"$x%.2f").mkString(" "))
  }

  private def register(): Unit =
    MaterializedRollups.register(spark.read.parquet(raw.toString), store,
      keys = keys.map(k => k -> col(k)), measures = measures)

  /** The MV dashboard shapes, as a user writes them over the raw dir. */
  private def mvQuery(shape: String, rawDf: DataFrame): DataFrame = {
    val aggs = Seq(count(lit(1)).as("n"), sum(AggStore.micros(col("value"))).as("s"))
    shape match {
      case "full" => rawDf.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      case "subset" => rawDf.groupBy(col("region")).agg(aggs.head, aggs.tail: _*)
      case "month" => rawDf.groupBy(month(col("event_day")).as("m")).agg(aggs.head, aggs.tail: _*)
      case "filtered" => rawDf.filter(col("event_type") === "t0")
        .groupBy(col("event_day")).agg(aggs.head, aggs.tail: _*)
    }
  }

  private def zipf(n: Int): Int =
    math.min(n - 1, math.floor(math.exp(rng.nextDouble() * math.log(n.toDouble))).toInt - 1)

  private def terms(profile: Int): Seq[String] = {
    val r = new scala.util.Random(ctx.seed * 31 + profile)
    (0 until 2 + profile % 2).map(_ => "w" + (9 + r.nextInt(600))).distinct
  }

  /** Query terms of the given profiles, query id = profile. */
  private def termsDf(profiles: Seq[Int]): DataFrame =
    spark.createDataFrame(profiles.flatMap(p => terms(p).map(t => (p.toLong, t)))).toDF("query_id", "term")

  private def queryVec(profile: Int): DataFrame =
    spark.read.parquet(in("vecs")).filter(col("vec_id") === queryIds(profile))

  /** The indexed corpus after `v` ingests, rebuilt independently: each
    * shard keeps the docs whose text no earlier shard (or the base) had. */
  private def docsAt(v: Int): DataFrame =
    (0 until v).foldLeft(spark.read.parquet(in("docs"))) { (acc, k) =>
      val shard = spark.read.parquet(in(f"docs-add-${addOrder(k)}%02d"))
      acc.union(shard.join(acc.select("text").distinct(), Seq("text"), "left_anti").select(acc.columns.map(col): _*))
    }

  private def vecsAt(v: Int): DataFrame =
    (spark.read.parquet(in("vecs")) +: (0 until v).map(k => spark.read.parquet(in(f"vecs-add-${addOrder(k)}%02d"))))
      .reduce(_ union _)

  private def bm25Probe(profile: Int): Array[Row] =
    Retrieval.queryBm25Index(spark, bm25, termsDf(Seq(profile)), k = K).collect()

  private def ivfProbe(profile: Int): Array[Row] =
    Similarity.queryIvfIndex(spark, ivf, queryVec(profile), "vec_id", "embedding", k = K, nProbe = NProbe)
      .collect()

  /** Each round appends one document and one vector shard; the warm-up
    * takes one, so a run holds at most `AddShards - 1` measured rounds. */
  override def canRound: Boolean = docShards < AddShards && vecShards < AddShards

  def round(r: Runner, n: Int): Unit = {
    // a new raw file arrives (untimed): reads see it through the tail arm
    Inputs.events(spark, ctx.seed, RawRows + arrivals * ArrivalRows, ArrivalRows).coalesce(1)
      .write.mode("append").parquet(raw.toString)
    arrivals += 1
    // arrival order, not name order: the fold takes the files after `folded`
    rawFiles = rawFiles ++ Fs.parts(raw).filterNot(rawFiles.contains)

    (if (n < 0) WarmUp else Schedule).iterator.filterNot(_ => r.expired).foreach {
      case s if s.startsWith("mv:") =>
        val shape = s.drop(3)
        val files = rawFiles
        r.op("mv", "read", "plans") {
          val df = mvQuery(shape, spark.read.parquet(raw.toString))
          (df.collect(), df)
        }.foreach { case (rec, (rows, df)) =>
          mvReads += ((rec, shape, files, rows.map(_.toSeq).toSet,
            MaterializedRollups.scanPaths(df).map(p => new org.apache.hadoop.fs.Path(p).toUri.getPath)))
        }
      case "hybrid" =>
        val p = zipf(Profiles)
        r.op("hybrid", "read", "sim") {
          val (b, bS) = Stats.timed(bm25Probe(p))
          val (v, vS) = Stats.timed(ivfProbe(p))
          val lists = Seq(
            spark.createDataFrame(b.map(x => (1L, x.getAs[Long]("doc_id"), x.getAs[Int]("rank"))).toSeq),
            spark.createDataFrame(v.map(x => (1L, x.getAs[Long]("neighbor_id"), x.getAs[Int]("rank"))).toSeq))
            .map(_.toDF("query_id", "doc_id", "rank"))
          (b, v, Hybrid.rrfFuse(lists, k = K).collect(), bS, vS)
        }.foreach { case (rec, (b, v, fused, bS, vS)) =>
          probeS += ((rec, bS, vS))
          bm25Reads += ((rec, p, docShards, b.map(_.toSeq).toSet))
          val want = rrf(Seq(b.map(x => (x.getAs[Long]("doc_id"), x.getAs[Int]("rank"))).toSeq,
            v.map(x => (x.getAs[Long]("neighbor_id"), x.getAs[Int]("rank"))).toSeq))
          val got = fused.map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("rrf_u"))).toSeq
          if (got != want) r.failOp(rec, s"RRF fusion $got, expected $want")
        }
      case "mv_fold" =>
        val fresh = rawFiles.drop(folded)
        r.op("mv_fold", "write", "agg") {
          if (fresh.nonEmpty)
            AggStore.appendMeasures(spark, store, spark.read.parquet(fresh.map(f => raw.resolve(f).toString): _*),
              keys, measures, shardId = s"tail-${folded}")
          register()
        }.foreach { case (_, _) => folded += fresh.size }
      case "doc_ingest" =>
        val k = docShards
        r.op("doc_ingest", "write", "dedup") {
          require(k < AddShards, s"all $AddShards document shards ingested")
          // exact-dedup the new docs against the seen store, index the
          // survivors, then record them as seen
          val fresh = SeenStore.filter(spark, seen, spark.read.parquet(in(f"docs-add-${addOrder(k)}%02d")), "text").cache()
          val kept = fresh.count()
          val (added, appendS) = Stats.timed(Retrieval.appendBm25Index(fresh, "text", "doc_id", bm25, f"add-$k%02d"))
          SeenStore.update(spark, seen, fresh, "text", f"add-$k%02d")
          fresh.unpersist()
          (added, kept, appendS)
        }.foreach { case (rec, (added, kept, appendS)) =>
          if (!added) r.failOp(rec, s"shard add-$k was not appended")
          docShards += 1
          ingests += ((rec, k, kept, appendS))
        }
      case "ivf_append" =>
        val k = vecShards
        r.op("ivf_append", "write", "sim") {
          require(k < AddShards, s"all $AddShards vector shards appended")
          Similarity.appendIvfIndex(spark.read.parquet(in(f"vecs-add-${addOrder(k)}%02d")),
            "vec_id", "embedding", ivf, f"add-$k%02d")
        }.foreach {
          case (_, _) => vecShards += 1
        }
    }
  }

  /** Reciprocal-rank fusion as `Hybrid.rrfFuse` defines it: weight
    * floor(1e9 / (60 + rank)) summed per doc, top K by weight desc then
    * doc id asc. */
  private def rrf(lists: Seq[Seq[(Long, Int)]]): Seq[(Long, Long)] =
    lists.flatten.groupBy(_._1).toSeq
      .map { case (d, hits) => (d, hits.map(h => 1000000000L / (60 + h._2)).sum) }
      .sortBy { case (d, w) => (-w, d) }.take(K)

  var recall: Double = Double.NaN

  /** MV answers equal the raw aggregate over the same files with the
    * registration bypassed; BM25 probes equal the exhaustive top-k over
    * the docs indexed at the time; IVF recall@10 of the final index over
    * all profile queries, against exact kNN, stays at or above the repo's
    * recall floor. */
  def finish(r: Runner): Unit = {
    val t0 = System.nanoTime()
    def lap(what: String): Unit =
      System.err.println(f"[perfbench] serve check $what done at ${(System.nanoTime() - t0) / 1e9}%.2fs")
    val mvCache = mutable.HashMap.empty[(String, Int), Set[Seq[Any]]]
    mvReads.filter(_._1.round >= 0).foreach { case (rec, shape, files, got, _) =>
      val want = mvCache.getOrElseUpdate((shape, files.size), {
        val df = mvQuery(shape, spark.read.parquet(files.map(f => raw.resolve(f).toString): _*))
        require(!MaterializedRollups.scanPaths(df).exists(p => new org.apache.hadoop.fs.Path(p).toUri.getPath.startsWith(store)),
          "the reference MV answer must not read the store")
        df.collect().map(_.toSeq).toSet
      })
      if (got != want) r.failOp(rec, s"MV '$shape' answer differs from the raw aggregate over ${files.size} " +
        s"files: ${Diff.show(got, want)}")
    }
    lap("mv")
    System.err.println("[perfbench] hybrid probes (bm25 s, ivf s): " +
      probeS.filter(_._1.round >= 0).map { case (_, b, v) => f"$b%.3f/$v%.3f" }.mkString(" "))
    // one exhaustive top-k per indexed corpus version, over all the
    // profiles probed at that version
    val measured = bm25Reads.filter(_._1.round >= 0)
    measured.groupBy(_._3).foreach { case (v, reads) =>
      val want = Retrieval.bm25TopK(docsAt(v), termsDf(reads.map(_._2).distinct.toSeq), "text", "doc_id", k = K)
        .collect().map(_.toSeq).groupBy(_.head)
      reads.foreach { case (rec, p, _, got) =>
        val exp = want.getOrElse(p.toLong, Array.empty[Seq[Any]]).toSet
        if (got != exp) r.failOp(rec, s"BM25 profile $p differs from the exhaustive top-k: ${Diff.show(got, exp)}")
      }
    }
    lap("bm25")
    // recall over every profile's query vector against the final index:
    // one query is too few for a floor set on a query set
    val queries = spark.read.parquet(in("vecs")).filter(col("vec_id").isin(queryIds.distinct: _*))
    def topK(df: DataFrame) = df.collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rows) => q -> rows.map(_.getAs[Long]("neighbor_id")).toSet }
    val exact = topK(Similarity.bruteForceKnn(queries, vecsAt(vecShards), "vec_id", "embedding", k = K))
    val got = topK(Similarity.queryIvfIndex(spark, ivf, queries, "vec_id", "embedding", k = K, nProbe = NProbe))
    val recalls = exact.toSeq.map { case (q, want) => got.getOrElse(q, Set.empty[Long]).count(want).toDouble / want.size }
    recall = Stats.mean(recalls.toSeq)
    lap("recall")
    val kept = ingests.map(_._3).sum
    System.err.println(f"[perfbench] serve: doc_ingest kept $kept of ${ingests.size * AddDocs} docs; " +
      f"MV reads on the tail arm ${mvReads.count(_._5.exists(p => p.startsWith(raw.toString) && p != raw.toString))} of ${mvReads.size}")
    System.err.println(f"[perfbench] serve recall@$K $recall%.4f over ${recalls.size} queries (floor $recallFloor)")
    r.check(recalls.nonEmpty && recall >= recallFloor, f"IVF recall@$K $recall%.4f below the floor $recallFloor")
  }

  def bytesStoredPerInputByte(): Double =
    Seq(store, bm25, ivf).map(p => Fs.size(Paths.get(p))).sum.toDouble / Fs.size(raw)

  def layerMetrics(t: TraceView): Seq[(String, Double)] = {
    val mvOps = mvReads.filter(_._1.traced)
    val mvSqls = mvOps.map(_._1).flatMap(t.sqlsOf).toSeq
    val rawPath = raw.toString
    def hit(paths: Seq[String]) = paths.exists(_.startsWith(store))
    val tailFiles = mvOps.map(_._5.count(p => p.startsWith(rawPath) && p != rawPath)).sum
    val searchOps = t.ofKind("hybrid")
    val ivfOps = searchOps
    val ingestOps = ingests.filter(_._1.traced)
    val storeRows = t.scansUnder(ingestOps.map(_._1).flatMap(t.sqlsOf).toSeq, seen).map(_.rows).sum
    Seq(
      "plans.mv_rewrite_hit_frac" -> mvOps.count(m => hit(m._5)).toDouble / math.max(1, mvOps.size),
      "plans.mv_tail_files_per_query" -> tailFiles.toDouble / math.max(1, mvOps.size),
      "agg.states_rows_read_per_query" -> t.scansUnder(mvSqls, store).map(_.rows).sum.toDouble / math.max(1, mvOps.size),
      "agg.append_s" -> Stats.median(t.ofKind("mv_fold").map(_.latencyS)),
      "text.bm25_append_s" -> Stats.median(ingestOps.map(_._4).toSeq),
      "text.postings_rows_per_probe" -> t.perOp(t.scansUnder(searchOps.flatMap(t.sqlsOf), s"$bm25/postings")
        .map(_.rows).sum, searchOps),
      "dedup.store_rows_read_per_shard" -> storeRows.toDouble / math.max(1, ingestOps.size),
      "text.bm25_probe_s" -> Stats.median(probeS.filter(_._1.traced).map(_._2).toSeq),
      "sim.ivf_probe_s" -> Stats.median(probeS.filter(_._1.traced).map(_._3).toSeq),
      "sim.rows_scored_per_probe" -> t.perOp(t.scansUnder(ivfOps.flatMap(t.sqlsOf), ivf)
        .filter(_.paths.exists(_.contains("/assigned"))).map(_.rows).sum, ivfOps),
      "sim.recall_at10" -> recall)
  }
}

object ServeMixed {
  /** One round's ops, in the same order every round and every run, so
    * that runs differ only in what the seed draws, never in the mix: MV
    * reads on the realtime tail arm before the fold and on merged states
    * after it, searches before and after the vector append. The document
    * ingest comes before every search, so all searches of a round probe
    * one BM25 corpus version and the exhaustive check runs once per round. */
  val Schedule: Seq[String] = Seq("mv:full", "doc_ingest", "hybrid", "mv:subset", "hybrid",
    "mv:month", "ivf_append", "hybrid", "mv:filtered", "mv_fold", "hybrid",
    "mv:full", "mv:subset", "hybrid", "mv:month", "mv:filtered")
  /** The warm-up round: every op shape once, MV shapes on both arms. */
  val WarmUp: Seq[String] = Seq("mv:full", "hybrid", "doc_ingest", "mv:subset", "ivf_append",
    "mv_fold", "mv:month", "mv:filtered")
  val RawRows = 100000L
  val RawFiles = 8
  val ArrivalRows = 5000L
  val Docs = 2000L
  val AddDocs = 200L
  val Vecs = 4000L
  val AddVecs = 200L
  val AddShards = 16
  val Centroids = 16
  /** Term buckets of the BM25 index, sized to the small corpus. */
  val Bm25Buckets = 8
  val NProbe = 4
  val K = 10
  val Profiles = 16
  /** What the generated corpus depends on besides the generator code. */
  val InputSpec = s"raw=$RawRows/$RawFiles docs=$Docs+$AddShards*$AddDocs " +
    s"vecs=$Vecs+$AddShards*$AddVecs seed=${Inputs.CorpusSeed}"
}

object Diff {
  /** A few rows only one side has, with value classes, for a failed check. */
  def show(got: Set[Seq[Any]], want: Set[Seq[Any]]): String = {
    def fmt(rows: Set[Seq[Any]]) = rows.take(2).map(_.map(v =>
      s"$v:${Option(v).map(_.getClass.getSimpleName).getOrElse("null")}").mkString("(", ",", ")"))
    s"${got.size} vs ${want.size} rows; only got ${fmt(got -- want)}; only expected ${fmt(want -- got)}"
  }
}

/** The repo's recall floor for persisted-IVF probes. */
object RecallFloor {
  def read(): Double = {
    val f = Paths.get("bench/recall_floors.json")
    val m = """"ivf_index"\s*:\s*([0-9.]+)""".r.findFirstMatchIn(Files.readString(f))
    m.map(_.group(1).toDouble).getOrElse(sys.error(s"no ivf_index floor in $f"))
  }
}
