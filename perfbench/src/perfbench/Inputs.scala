package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (row id, seed,
  * stream), so the same seed gives the same rows on any machine; the
  * program only ever sees the written files. lineitem, documents and
  * embeddings follow the repo's fixture schemas (FIXTURES.md); events
  * take the shape of the materialized view's raw table. */
object Inputs {

  /** Seed of the base corpora. Fixed, so set-up builds the same thing in
    * every run; `--seed` drives the workload on top of them. */
  val CorpusSeed = 42L

  /** The corpus directory of a workload under `root`, named by a hash of
    * this file's source and the workload's size constants, so a change to
    * either generates a fresh corpus instead of reusing a stale one. Read
    * relative to the working directory, the root of the checkout. */
  def dir(root: Path, workload: String, spec: String): Path = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(Files.readAllBytes(Paths.get("perfbench/src/perfbench/Inputs.scala")))
    md.update(spec.getBytes("UTF-8"))
    root.resolve(s"$workload-" + md.digest().take(6).map(b => f"${b & 0xff}%02x").mkString)
  }

  /** Generate into `dir` once; a marker file records completion. */
  def once(dir: Path)(gen: => Unit): Unit = {
    val done = dir.resolve("_GENERATED")
    if (!Files.exists(done)) {
      Fs.rm(dir)
      Files.createDirectories(dir)
      gen
      Files.writeString(done, "ok\n")
    }
  }

  /** Write `df` split by its `__split` column, one file per split, in one
    * job; split `k` lands at `dir/name(k)`. */
  def writeSplit(df: DataFrame, dir: Path, name: Long => String): Unit = {
    val tmp = dir.resolve("_split")
    df.repartition(col("__split")).write.partitionBy("__split").parquet(tmp.toString)
    Option(tmp.toFile.listFiles()).toSeq.flatten.filter(_.getName.startsWith("__split=")).foreach { d =>
      val target = dir.resolve(name(d.getName.stripPrefix("__split=").toLong))
      Files.createDirectories(target.getParent)
      Files.move(d.toPath, target)
    }
    Fs.rm(tmp)
  }

  /** Uniform long in [0, n) from the row key, the seed and a stream. */
  def h(key: Column, seed: Long, stream: Int, n: Long): Column =
    pmod(xxhash64(key, lit(seed), lit(stream)), lit(n))

  /** Uniform double in [0, 1). */
  def u(key: Column, seed: Long, stream: Int): Column =
    h(key, seed, stream, 1000000L).cast("double") / 1e6

  /** lineitem: 4 lines per order, ship dates over 1995-01..2001-11 (83
    * monthly partitions), in `files` contiguous id ranges. Quantities are
    * whole numbers, so the decimal destination type holds them exactly. */
  def lineitem(spark: SparkSession, seed: Long, rows: Long, files: Int): DataFrame = {
    val id = col("id")
    spark.range(0L, rows, 1L, files).select(
      (id / 4 + 1).cast("long").as("l_orderkey"),
      (h(id, seed, 1, 20000L) + 1).as("l_partkey"),
      (h(id, seed, 2, 1000L) + 1).as("l_suppkey"),
      (pmod(id, lit(4)) + 1).cast("int").as("l_linenumber"),
      (h(id, seed, 3, 50L) + 1).cast("double").as("l_quantity"),
      (h(id, seed, 4, 9000000L) / 100.0 + 900.0).as("l_extendedprice"),
      (h(id, seed, 5, 11L) / 100.0).as("l_discount"),
      (h(id, seed, 6, 9L) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (h(id, seed, 7, 3L) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (h(id, seed, 8, 2L) + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(788918400L) + h(id, seed, 9, 2525L) * 86400L +
        h(id, seed, 10, 86400L)).as("l_shipdate"))
  }

  private val Stopwords = Seq("the", "a", "and", "of", "to", "in", "is", "it")
  val Vocab = 20000

  /** Zipf-like word over a `Vocab`-word vocabulary: the rank is
    * log-uniform, so P(rank) ∝ 1/rank and the eight stopwords lead. */
  def word(rank: Column): Column =
    when(rank <= Stopwords.size, element_at(array(Stopwords.map(lit): _*), rank.cast("int")))
      .otherwise(concat(lit("w"), rank.cast("string")))

  def zipfRank(uniform: Column): Column =
    floor(exp(uniform * math.log(Vocab.toDouble))).cast("long")

  /** Text of "text id" `tid`: 20–140 Zipf words; ~1 in 40 docs carries an
    * email address for the redact step; a few are too short for the
    * quality filter. */
  def text(tid: Column, seed: Long): Column = {
    val n = (h(tid, seed, 20, 121L) + 20).cast("int")
    val words = transform(sequence(lit(0), n - 1),
      i => word(zipfRank(pmod(xxhash64(tid, lit(seed), i), lit(1000000L)).cast("double") / 1e6)))
    val body = array_join(words, " ")
    val short = h(tid, seed, 22, 50L) === 0
    val email = h(tid, seed, 21, 40L) === 0
    when(short, concat(lit("w"), tid.cast("string")))
      .when(email, concat(body, lit(" contact user"), tid.cast("string"), lit("@example.com today")))
      .otherwise(body)
  }

  /** documents with planted duplicates of earlier docs: ~4% exact copies
    * and ~3% near copies (last word changed), each of a doc with a lower
    * id — with seeded sharding, usually a doc of another shard. */
  def documents(spark: SparkSession, seed: Long, firstId: Long, rows: Long): DataFrame = {
    val id = col("id")
    val kind = h(id, seed, 30, 100L)
    val orig = h(id, seed, 31, 1000000000L) % greatest(id, lit(1L))
    val tid = when(kind < 7 && id > 0, orig).otherwise(id)
    val t = text(tid, seed)
    val txt = when(kind >= 4 && kind < 7 && id > 0,
      concat(regexp_replace(t, "\\S+$", ""), lit("changed"), id.cast("string"))).otherwise(t)
    spark.range(firstId, firstId + rows).select(
      id.as("doc_id"), txt.as("text"), lit("en").as("lang"),
      element_at(array(lit("web"), lit("news"), lit("books")), (h(id, seed, 32, 3L) + 1).cast("int")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** events in the MV's raw shape: 8 event types (Zipf-ish), 6 regions,
    * one year of days, values in cents. */
  def events(spark: SparkSession, seed: Long, firstId: Long, rows: Long): DataFrame = {
    val id = col("id")
    spark.range(firstId, firstId + rows).select(
      concat(lit("t"), (floor(exp(u(id, seed, 40) * math.log(9.0))) - 1).cast("string")).as("event_type"),
      concat(lit("r"), h(id, seed, 41, 6L).cast("string")).as("region"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")), h(id, seed, 42, 366L).cast("int")).as("event_day"),
      (h(id, seed, 43, 100000L) / 100.0).as("value"))
  }

  val Dim = 32
  val Clusters = 48

  /** embeddings: `Clusters` Gaussian-ish blobs in `Dim` dimensions. */
  def embeddings(spark: SparkSession, seed: Long, firstId: Long, rows: Long): DataFrame = {
    val id = col("id")
    val c = h(id, seed, 50, Clusters.toLong)
    val comp = (i: Column) =>
      (pmod(xxhash64(c, lit(seed), lit(51), i), lit(2000L)).cast("double") / 1000.0 - 1.0) +
        (pmod(xxhash64(id, lit(seed), lit(52), i), lit(2000L)).cast("double") / 1000.0 - 1.0) * 0.35
    spark.range(firstId, firstId + rows).select(
      id.as("vec_id"),
      transform(sequence(lit(0), lit(Dim - 1)), i => comp(i).cast("float")).as("embedding"),
      c.cast("int").as("label"))
  }
}
