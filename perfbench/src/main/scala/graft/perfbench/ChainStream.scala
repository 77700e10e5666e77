package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}

import graft.streaming.{KMessage, NewMessage, Task}
import graft.streaming.Processing.{Processor, ProcessingContext}

/** `chain_stream`: frolyk's motivating chain — windowed running count →
  * `send` → `commit` — through the production micro-batch body
  * (`Task.processBatch` + `Task.producedFrame`, what `Task.start`'s
  * `foreachBatch` runs) on a checkpointed `MemoryStream[KMessage]`. The
  * generated events table becomes a `Partitions`-partition topic keyed by
  * `user_id`; `error` events are abandoned. Each chunk arrives shuffled
  * across partitions and offsets, as in `TaskStartSpec`.
  *
  * An unmeasured `LeadInS` lead-in of closed-loop chunks comes first.
  * Phase (a): one load-generator thread adds a chunk every `OpenIntervalMs`
  * at `OpenRate` messages/s (plus seeded jitter) — an open loop well below
  * saturation; a batch's latency runs from the due time of its oldest
  * message to the end of the batch body. Phase (b): a closed loop of
  * `ClosedChunk`-message chunks, each added once the last is processed;
  * `work_s` is the median chunk's drain time scaled to 10,000 messages. */
final class ChainStream(seed: Long) extends Workload {
  import ChainStream._
  import Workload._

  private var dir = ""
  private var msgs: Array[KMessage] = Array.empty
  private var errorType: Array[Boolean] = Array.empty
  private var jitterMs: Array[Double] = Array.empty

  def prepare(s: SparkSession, d: String): Unit = {
    dir = d
    val rnd = new Random(seed)
    val ev = Gen.events(rnd, Events, Users)
    val next = new Array[Long](Partitions)
    msgs = new Array[KMessage](MaxMessages)
    errorType = new Array[Boolean](MaxMessages)
    (0 until MaxMessages).foreach { i =>
      val (_, ts, user, typ, value, _) = ev(i % Events)
      val p = (user % Partitions).toInt
      msgs(i) = KMessage(Topic, p, next(p), user.toString,
        s"""{"type":"$typ","value":$value}""",
        ts.toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
      errorType(i) = typ == "error"
      next(p) += 1
    }
    jitterMs = Array.fill(100000)(rnd.nextDouble() * OpenJitterMs)
  }

  /** A short stream through the same chain: pays codegen and the
    * streaming engine's first-batch costs inside set-up. */
  def warmup(s: SparkSession): Unit = {
    val c = new Chain(s)
    val in = MemoryStream[KMessage](Encoders.product[KMessage], s.sqlContext)
    val q = in.toDS().writeStream
      .option("checkpointLocation", s"$dir/ckpt-warmup")
      .foreachBatch { (b: Dataset[KMessage], _: Long) => c.body(b); () }
      .start()
    try {
      val arrival = new Random(seed)
      (0 until 3).foreach { i =>
        in.addData(arrival.shuffle(msgs.slice(i * 500, (i + 1) * 500).toSeq))
        q.processAllAvailable()
      }
    } finally q.stop()
  }

  /** The task, its processors and the harness-owned accumulators. */
  private final class Chain(s: SparkSession) {
    val abandoned: CollectionAccumulator[(Int, Long, Long)] =
      s.sparkContext.collectionAccumulator[(Int, Long, Long)]("abandoned")
    val chainNanos: LongAccumulator = s.sparkContext.longAccumulator("chain_ns")
    val task = new Task(Group)
    private val src = task.source(Topic, "earliest")
    task.processor(src) { _ =>
      // per-task state (the batch body's closures are deserialized per
      // task): last offset seen per partition, running count per
      // (partition, key, window)
      val last = mutable.Map.empty[Int, Long]
      val counts = mutable.Map.empty[(Int, String, Long), Long]
      var t0 = 0L
      val acc = abandoned
      val ns = chainNanos
      Seq[Processor](
        (m: Any, ctx: ProcessingContext) => {
          t0 = System.nanoTime()
          val km = m.asInstanceOf[KMessage]
          val prev = last.getOrElse(ctx.partition, -1L)
          last(ctx.partition) = ctx.offset
          if (km.value.contains("\"type\":\"error\"")) {
            acc.add((ctx.partition, ctx.offset, prev))
            ns.add(System.nanoTime() - t0)
            ctx.abandon
          } else {
            val w = km.timestamp / WindowMs
            val k = (ctx.partition, km.key, w)
            val n = counts.getOrElse(k, 0L) + 1
            counts(k) = n
            (km.key, w, n, prev)
          }
        },
        (v: Any, ctx: ProcessingContext) => {
          val (key, w, n, prev) = v.asInstanceOf[(String, Long, Long, Long)]
          ctx.send(NewMessage(OutTopic, s"${ctx.partition}:${ctx.offset}:$prev:$w:$n",
            key = key))
          v
        },
        (v: Any, ctx: ProcessingContext) => {
          ctx.commit()
          ns.add(System.nanoTime() - t0)
          v.toString
        })
    }
    val procs: Seq[Processor] = task.processorsFor(src)

    /** The production batch body; the producer sink is a collect. */
    def body(b: Dataset[KMessage]): Array[Row] =
      Task.producedFrame(Task.processBatch(Group, procs)(b)).collect()
  }

  def run(s: SparkSession, seconds: Double, trace: Trace, res: Result): Unit = {
    val chain = new Chain(s)
    val in = MemoryStream[KMessage](Encoders.product[KMessage], s.sqlContext)
    val due = new Array[Double](MaxMessages)
    val added = new AtomicLong(0)
    val processed = new AtomicLong(0)
    @volatile var phaseNo = 0 // 0 lead-in, 1 open loop, 2 closed loop
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()
    val phase = trace.currentSpan
    val q = in.toDS().writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (b: Dataset[KMessage], id: Long) =>
        val backlog = added.get() - processed.get()
        chain.abandoned.reset()
        val t0 = System.nanoTime()
        val rows = trace.adopt(phase, s"batch[$id]", "streaming")(chain.body(b))
        val bodyMs = since(t0) * 1000.0
        val ab = chain.abandoned.value.asScala.toSeq
        processed.addAndGet(rows.length + ab.size)
        recs.add(BatchRec(phaseNo, Trace.nowMs(), bodyMs, rows, ab, backlog))
        ()
      }
      .start()
    val genLate = mutable.ArrayBuffer.empty[Double]
    // each chunk arrives in a seeded random order, so the batch body's
    // sort (not the source) must restore per-partition offset order
    val arrival = new Random(seed)
    var closedMsgs = 0L
    val chunkS = mutable.ArrayBuffer.empty[Double]
    var closedS = 0.0
    try {
      // lead-in, not measured: closed-loop chunks until the JIT has
      // compiled the batch path, so the phases below time steady state
      var next = 0
      val tl = System.nanoTime()
      while (since(tl) < LeadInS) {
        in.addData(arrival.shuffle(msgs.slice(next, next + ClosedChunk).toSeq))
        added.addAndGet(ClosedChunk.toLong)
        q.processAllAvailable()
        next += ClosedChunk
      }
      phaseNo = 1
      // (a) open loop: the load generator adds each chunk at its due time
      val chunk = math.max(1, (OpenRate * OpenIntervalMs / 1000.0).round.toInt)
      val nChunks = math.max(1, (seconds * OpenShare * 1000.0 / OpenIntervalMs).toInt)
      val first = next
      val t0 = Trace.nowMs() + 100.0
      trace.span("open_loop", "streaming") {
        (0 until nChunks).foreach { c =>
          val d = t0 + c * OpenIntervalMs + jitterMs(c % jitterMs.length)
          sleepUntil(d)
          val lo = first + c * chunk
          (lo until lo + chunk).foreach(due(_) = d)
          genLate += Trace.nowMs() - d
          in.addData(arrival.shuffle(msgs.slice(lo, lo + chunk).toSeq))
          added.addAndGet(chunk.toLong)
        }
        q.processAllAvailable()
      }
      phaseNo = 2
      res.sampleLiveHeap()
      // (b) closed loop: fixed chunks, each added once the last is done
      next = first + nChunks * chunk
      val tc = System.nanoTime()
      trace.span("closed_loop", "streaming") {
        while (since(tc) < seconds * ClosedShare && next + ClosedChunk <= MaxMessages) {
          val chunk = arrival.shuffle(msgs.slice(next, next + ClosedChunk).toSeq)
          val t = System.nanoTime()
          in.addData(chunk)
          added.addAndGet(ClosedChunk.toLong)
          q.processAllAvailable()
          chunkS += since(t)
          next += ClosedChunk
          closedMsgs += ClosedChunk
        }
      }
      closedS = since(tc)
      res.sampleLiveHeap()
      verify(recs.asScala.toSeq, next, res)
      verifyCommits(s, chain, res)
    } finally q.stop()

    val all = recs.asScala.toSeq
    val open = all.filter(r => r.phase == 1 && (r.produced.nonEmpty || r.abandoned.nonEmpty))
    val lat = open.map { r =>
      val firstDue = (r.produced.iterator.map(row => offsetOf(row.getString(2))) ++
        r.abandoned.iterator.map(a => (a._1, a._2))).map { case (p, o) => due(index(p, o)) }.min
      r.endMs - firstDue
    }
    res.attempted += all.size
    res.e2e("latency_p50_ms") = Stats.median(lat)
    res.e2e("work_s") = Stats.median(chunkS.toSeq) * 10000.0 / ClosedChunk
    res.layer("chain_latency_p50_ms") = Stats.median(lat)
    res.layer("chain_latency_p95_ms") = Stats.quantile(lat, 0.95)
    res.layer("chain_throughput_msgs_per_s") = closedMsgs / closedS
    res.layer("chain.processor_s") = chain.chainNanos.value / 1e9
    res.layer("chain.bare_msgs_per_s") = bareThroughput(chain)
    res.layer("stream.backlog_msgs_max") = all.map(_.backlog).max.toDouble
    res.layer("stream.gen_late_ms") = Stats.median(genLate.toSeq)
    res.layer("stream.open_batches") = open.size.toDouble
    res.layer("stream.body_ms") = Stats.median(all.filter(_.phase > 0).map(_.bodyMs))
    if (trace.enabled) {
      val prog = trace.stream.progress.asScala.toSeq.filter(_._2 > 0)
      def med(k: String) = Stats.median(prog.map(_._1.getOrElse(k, 0L).toDouble))
      if (prog.nonEmpty) {
        res.layer("stream.trigger_ms") = med("triggerExecution")
        res.layer("stream.add_batch_ms") = med("addBatch")
        res.layer("stream.get_batch_ms") = med("getBatch")
        res.layer("stream.query_planning_ms") = med("queryPlanning")
        res.layer("stream.wal_commit_ms") = med("walCommit")
        res.layer("stream.input_rows_per_batch") = Stats.median(prog.map(_._2.toDouble))
      }
      res.ops ++= trace.allSpans.filter(_.name.startsWith("batch["))
    }
  }

  // The produced value is "partition:offset:prev:window:count".
  private def offsetOf(v: String): (Int, Long) = {
    val f = v.split(":")
    (f(0).toInt, f(1).toLong)
  }

  private lazy val indexOf: Map[(Int, Long), Int] =
    msgs.indices.map(i => (msgs(i).partition, msgs(i).offset) -> i).toMap
  private def index(p: Int, o: Long): Int = indexOf((p, o))

  /** Every added message processed exactly once, in per-partition offset
    * order within its batch (each message names the previous offset its
    * task saw), with the running count a sequential replay gives; one
    * produced row per message not abandoned; abandoned = `error`. */
  private def verify(recs: Seq[BatchRec], nAdded: Int, res: Result): Unit = {
    val seen = new Array[Int](nAdded)
    var orderBad = 0
    var countBad = 0
    var abandonBad = 0
    recs.foreach { r =>
      val entries = r.produced.toSeq.map { row =>
        val f = row.getString(2).split(":")
        (f(0).toInt, f(1).toLong, f(2).toLong, Some((f(3).toLong, f(4).toLong)))
      } ++ r.abandoned.map { case (p, o, prev) => (p, o, prev, None) }
      entries.groupBy(_._1).foreach { case (_, es) =>
        val sorted = es.sortBy(_._2)
        val counts = mutable.Map.empty[(String, Long), Long]
        var prevOff = -1L
        sorted.foreach { case (p, o, prev, wc) =>
          val i = index(p, o)
          if (i < nAdded) seen(i) += 1
          if (prev != prevOff) orderBad += 1
          prevOff = o
          if (wc.isEmpty != errorType(i)) abandonBad += 1
          wc.foreach { case (w, n) =>
            val k = (msgs(i).key, msgs(i).timestamp / WindowMs)
            val expect = counts.getOrElse(k, 0L) + 1
            counts(k) = expect
            if (w != k._2 || n != expect) countBad += 1
          }
        }
      }
    }
    val notOnce = seen.count(_ != 1)
    res.check("every message processed exactly once", notOnce == 0,
      s"$notOnce of $nAdded messages not processed exactly once")
    res.check("per-partition offset order within each batch", orderBad == 0,
      s"$orderBad messages out of order")
    res.check("running counts match a sequential replay", countBad == 0,
      s"$countBad wrong counts")
    res.check("abandoned exactly the error events", abandonBad == 0,
      s"$abandonBad messages wrongly abandoned or produced")
  }

  /** Commits are offset+1 on every non-abandoned row and absent on
    * abandoned ones, checked on the processed rows of one batch. */
  private def verifyCommits(s: SparkSession, chain: Chain, res: Result): Unit = {
    val ds = s.createDataset(msgs.take(2000).toSeq)(Encoders.product[KMessage])
    val rows = Task.processBatch(Group, chain.procs)(ds).collect()
    val bad = rows.count { r =>
      if (r.abandoned) r.commits.nonEmpty || r.produced.nonEmpty
      else r.commits.map(_.offset) != Seq(r.offset + 1) || r.produced.size != 1
    }
    res.check("commits are offset+1, one produced row per kept message",
      rows.length == 2000 && bad == 0, s"$bad bad rows of ${rows.length}")
  }

  /** The same chain through `Processing.processPartition` on one thread,
    * without Spark: the single-thread baseline. */
  private def bareThroughput(chain: Chain): Double = {
    val n = math.min(MaxMessages, 50000)
    val byPart = msgs.take(n).groupBy(_.partition)
    val t0 = System.nanoTime()
    var out = 0L
    byPart.values.foreach { ms =>
      graft.streaming.Processing.processPartition(Group, chain.task.processorsFor(
        chain.task.source(Topic, "earliest")))(ms.iterator).foreach(_ => out += 1)
    }
    out / since(t0)
  }
}

object ChainStream {
  /** One micro-batch as the batch body saw it. */
  final case class BatchRec(phase: Int, endMs: Double,
      bodyMs: Double, produced: Array[Row], abandoned: Seq[(Int, Long, Long)],
      backlog: Long)

  val Topic = "events"
  val OutTopic = "window-counts"
  val Group = "perfbench-chain"
  val Partitions = 8
  val Events = 100000
  val Users = 1500
  val MaxMessages = 200000
  val WindowMs = 60000L
  val OpenRate = 400.0
  val OpenIntervalMs = 50.0
  val OpenJitterMs = 20.0
  val OpenShare = 0.7
  val ClosedChunk = 1000
  val ClosedShare = 0.2
  val LeadInS = 2.0
}
