package graft.perfbench

import java.time.LocalDateTime

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded generator of input rows in the shape of the fixtures the
  * operators are written against (FIXTURES.md): `lineitem`, `events`,
  * `documents` and `embeddings` with the fixtures' columns, types, value
  * domains and the 5% "copy + ' dup'" near-duplicate documents. Row counts
  * scale with `sf` the way the fixture scale factors do. Timestamps are
  * written as TIMESTAMP_NTZ, which is how the fixtures store them
  * (isAdjustedToUTC=false), so `sources.Tables` and DuckDB read the same
  * instants. Each table is one parquet file, as in the fixtures: one
  * scan partition.
  *
  * Same seed, same scale → same rows. */
object Gen {

  val vocab: Array[String] = Array("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join",
    "filter", "big", "group", "hash", "customer", "sort", "order", "slow",
    "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")
  private val langs = Array("en", "en", "en", "zh", "de", "fr", "es")
  private val eventTypes = Array("click", "view", "purchase", "signup", "error")

  /** Row counts at scale `sf`; `lineitem`'s keys range over `orders`,
    * `part` and `supplier` rows, `events`' over `users`. */
  final case class Counts(supplier: Int, part: Int, orders: Int,
      lineitem: Int, events: Int, users: Int, documents: Int)

  def counts(sf: Double): Counts = Counts(
    supplier = (10000 * sf).toInt, part = (200000 * sf).toInt,
    orders = (1500000 * sf).toInt, lineitem = (6000000 * sf).toInt,
    events = (1000000 * sf).toInt, users = (15000 * sf).toInt,
    documents = math.max(500, (50000 * sf).toInt))

  private def r2(x: Double): Double = math.round(x * 100) / 100.0

  private def day(rnd: Random, from: LocalDateTime, days: Int) =
    from.plusDays(rnd.nextInt(days).toLong)

  /** One document: 10-100 vocabulary words. */
  def docText(rnd: Random): String =
    Seq.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.length)))
      .mkString(" ")

  /** `n` documents with ids from `firstId`; one in twenty copies an
    * earlier document of the same set and appends " dup". */
  def documents(rnd: Random, firstId: Long, n: Int)
      : Seq[(Long, String, String, String, Long)] = {
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val t =
        if (i > 0 && rnd.nextInt(20) == 0) texts(rnd.nextInt(i)) + " dup"
        else docText(rnd)
      texts(i) = t
      val id = firstId + i
      (id, t, langs(rnd.nextInt(langs.length)), s"src${id % 20}",
        t.length.toLong)
    }
  }

  /** `n` unit-norm 64-dim vectors with ids from `firstId`. */
  def embeddings(rnd: Random, firstId: Long, n: Int)
      : Seq[(Long, Array[Float], Int)] =
    (0 until n).map { i =>
      val v = Array.fill(64)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (firstId + i, v.map(x => (x / norm).toFloat), rnd.nextInt(10))
    }

  def docsFrame(s: SparkSession,
      rows: Seq[(Long, String, String, String, Long)]): DataFrame =
    s.createDataFrame(rows).toDF("doc_id", "text", "lang", "source", "n_chars")

  def embFrame(s: SparkSession, rows: Seq[(Long, Array[Float], Int)]): DataFrame =
    s.createDataFrame(rows).toDF("vec_id", "embedding", "label")

  def writeOne(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** Writes each frame with `writeOne`, four at a time: the frames are
    * tiny, so one at a time would leave the cores idle in set-up. */
  def writeAll(frames: Seq[(DataFrame, String)]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      frames.map { case (df, path) => pool.submit(new Runnable {
        def run(): Unit = writeOne(df, path)
      }) }.foreach(_.get())
    } finally pool.shutdown()
  }

  /** Events: a Poisson-like arrival process over 30 days, ordered by
    * `event_id` (the offset analogue). */
  def events(rnd: Random, n: Int, users: Int)
      : Seq[(Long, LocalDateTime, Long, String, Double, String)] = {
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanMicros = 30L * 24 * 3600 * 1000000L
    val ts = Array.fill(n)((rnd.nextDouble() * spanMicros).toLong).sorted
    (0 until n).map { i =>
      (i.toLong, t0.plusNanos(ts(i) * 1000L), rnd.nextInt(users).toLong,
        eventTypes(rnd.nextInt(eventTypes.length)),
        r2(-50.0 * math.log(1.0 - rnd.nextDouble())),
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
  }

  /** `lineitem`, `events` and `documents` under `dir`
    * (`<dir>/<table>.parquet`); returns the table names. */
  def tables(s: SparkSession, dir: String, seed: Long, sf: Double): Seq[String] = {
    val c = counts(sf)
    val rnd = new Random(seed)
    val flags = Array("A", "N", "R")
    val lstat = Array("O", "F")
    val d0 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val frames = Seq(
      "lineitem" -> s.createDataFrame((0 until c.lineitem).map(_ =>
        (rnd.nextInt(c.orders).toLong, rnd.nextInt(c.part).toLong,
          rnd.nextInt(c.supplier).toLong, 1 + rnd.nextInt(7),
          (1 + rnd.nextInt(50)).toDouble, r2(900.0 + rnd.nextDouble() * 104100.0),
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
          flags(rnd.nextInt(3)), lstat(rnd.nextInt(2)),
          day(rnd, d0.plusDays(1), 2498))))
        .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
          "l_returnflag", "l_linestatus", "l_shipdate"),
      "events" -> s.createDataFrame(events(rnd, c.events, c.users))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      "documents" -> docsFrame(s, documents(rnd, 0L, c.documents)))
    writeAll(frames.map { case (name, df) => df -> s"$dir/$name.parquet" })
    frames.map(_._1)
  }
}
