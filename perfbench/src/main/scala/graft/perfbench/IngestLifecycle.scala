package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Run
import graft.streaming.TrainReadyCursor

final case class DocRow(doc_id: Long, text: String, source: String)

/** `ingest_lifecycle`: one train-ready algebra rendered twice. A seeded
  * split of generated documents into a build corpus and disjoint
  * increments; `Run.execute` build (ANN + PQ + profile on, over generated
  * embeddings) and `Run` audit, then `TrainReadyCursor.overRun` on the
  * same directory fed the increments through `attach`, in a closed loop:
  * a batch costs seconds, more than any interval the run could afford to
  * leave idle. The first `CursorWarmup` batches pay first-use costs and
  * are left out of the latency and the slope. A batch's latency runs from
  * when it is added to the end of the micro-batch that took it. The work
  * is fixed (it does not stretch to `seconds`), so every run does the
  * same amount. */
final class IngestLifecycle(seed: Long) extends Workload {
  import IngestLifecycle._
  import Workload._

  private var dir = ""
  private var cursorBatches: Seq[Seq[DocRow]] = Nil

  def prepare(s: SparkSession, d: String): Unit = {
    dir = d
    val rnd = new Random(seed)
    val nDocs = BuildDocs + CursorFed * CursorDocs
    val docs = rnd.shuffle(Gen.documents(rnd, 0L, nDocs))
    val (build, cur) = docs.splitAt(BuildDocs)
    cursorBatches = cur.grouped(CursorDocs)
      .map(_.map(r => DocRow(r._1, r._2, r._4))).toSeq
    val vBuild = Gen.embeddings(rnd, 0L, BuildVecs)
    // benchmark docs for decontamination: fresh text, not in the corpus
    val bench = Gen.documents(rnd, 1000000L, BenchDocs)
    Gen.writeAll(Seq(Gen.docsFrame(s, build) -> s"$dir/build_docs",
      Gen.embFrame(s, vBuild) -> s"$dir/build_vecs",
      Gen.docsFrame(s, bench) -> s"$dir/bench"))
  }

  def warmup(s: SparkSession): Unit =
    s.read.parquet(s"$dir/build_docs").groupBy("lang").count()
      .write.format("noop").mode("overwrite").save()

  private def buildSpec(out: String): Run.Spec = Run.parseSpec(
    s"""{"benchmark": "$dir/bench", "out": "$out", "id": "doc_id",
       | "text": "text", "nlist": $Nlist, "pq": true, "pqM": 8,
       | "pqKsub": 16, "profileSource": "source",
       | "corpus": "$dir/build_docs", "vectors": "$dir/build_vecs",
       | "overwrite": true}""".stripMargin)

  def run(s: SparkSession, seconds: Double, trace: Trace, res: Result): Unit = {
    val out = s"$dir/run"
    val om = new ObjectMapper()

    // graft.Run: build, then audit
    val buildStartMs = System.currentTimeMillis()
    val (_, buildS) = trace.span("build", "run") {
      timed(Run.execute(s, buildSpec(out)))
    }
    res.attempted += 1
    res.sampleLiveHeap()
    res.layer ++= stageTimes(out, buildStartMs)
    val (bytes, files) = treeSize(Paths.get(out))
    res.layer("run.bytes_written") = bytes.toDouble
    res.layer("run.files_written") = files.toDouble
    res.layer("run_build_s") = buildS

    val (auditJson, auditS) = timed(Run.execute(s, Run.parseSpec(
      s"""{"mode": "audit", "out": "$out"}""")))
    res.layer("run.audit_s") = auditS
    val audit = om.readTree(auditJson)
    res.check("run audit ok", audit.get("ok").asBoolean, audit.toString)
    val (nManifest, nDistinct) = rowsAndDistinctIds(s.read.parquet(s"$out/manifest"))
    val expectRun = BuildDocs
    res.check("manifest rows = build docs", nManifest == expectRun,
      s"$nManifest manifest rows, expected $expectRun")
    res.check("manifest doc_ids distinct", nDistinct == nManifest,
      s"$nDistinct distinct of $nManifest")

    // TrainReadyCursor over the same directory, closed loop
    val benchDf = s.read.parquet(s"$dir/bench")
    val (cursor, openS) = trace.span("cursor.open", "streaming") {
      timed(TrainReadyCursor.overRun(out, benchDf, profileSource = Some("source")))
    }
    res.layer("cursor.open_s") = openS
    val docStream = MemoryStream[DocRow](Encoders.product[DocRow], s.sqlContext)
    val pinnedBefore = pinnedRdds(s)
    val pinnedAfter = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q1 = cursor.attach(docStream.toDF())
    val cursorLat = feed(q1, cursorBatches.size, trace, "batch", (i: Int) => {
        docStream.addData(cursorBatches(i)); ()
      }, () => pinnedAfter += pinnedRdds(s))
    res.sampleLiveHeap()
    res.attempted += cursorBatches.size
    val expectCursor = expectRun + CursorFed * CursorDocs
    res.check("cursor docCount = manifest + streamed docs",
      cursor.docCount == expectCursor,
      s"docCount ${cursor.docCount}, expected $expectCursor")
    val (cmRows, cmDistinct) = rowsAndDistinctIds(cursor.manifest)
    res.check("cursor manifest doc_ids distinct",
      cmRows == expectCursor && cmDistinct == expectCursor,
      s"cursor manifest: $cmRows rows, $cmDistinct doc_ids, expected $expectCursor")
    res.check("cursor pinned RDDs flat across batches",
      pinnedAfter.distinct.size <= 1,
      s"pinned after each batch: ${pinnedAfter.mkString(",")} (before $pinnedBefore)")
    res.layer("cursor.pinned_rdds") = pinnedAfter.lastOption.getOrElse(0).toDouble
    val measured = cursorLat.drop(CursorWarmup)
    res.layer("cursor_batch_s") = Stats.median(measured.map(_._1)) / 1000.0
    res.layer("cursor.ingest_s") = Stats.median(measured.map(_._2)) / 1000.0
    res.layer("cursor.ingest_slope_s") = Stats.slope(measured.map(_._2)) / 1000.0
    res.layer("cursor.warmup_ingest_s") = cursorLat.head._2 / 1000.0

    if (trace.enabled) {
      def named(p: String) = trace.allSpans.filter(_.name.startsWith(p))
      res.opGroups("run.build") = named("build")
      res.opGroups("cursor.batch") = named("batch[")
      res.ops ++= named("batch[")
    }
    res.e2e("latency_p50_ms") = Stats.median(measured.map(_._1))
    res.e2e("work_s") = buildS
  }

  /** Feed `n` chunks in a closed loop (each chunk is added once the last
    * one is processed) and return per chunk (added → batch end ms, batch
    * duration ms). A chunk's micro-batch is read off the query's progress
    * (the MemoryStream end offset equals the chunk index). */
  private def feed(q: StreamingQuery, n: Int, trace: Trace, spanName: String,
      add: Int => Unit, afterEach: () => Unit): Seq[(Double, Double)] = {
    trace.streamQuery(q.runId.toString, spanName)
    try {
      (0 until n).map { i =>
        val due = System.currentTimeMillis().toDouble
        trace.span(s"$spanName[$i]", "streaming") {
          add(i)
          q.processAllAvailable()
        }
        afterEach()
        val p = q.recentProgress.filter { p =>
          p.sources.nonEmpty && p.sources.head.endOffset != null &&
            p.numInputRows > 0 &&
            p.sources.head.endOffset.trim.toLong == i.toLong
        }.last
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val dur = p.durationMs.get("triggerExecution").doubleValue
        System.err.println(f"[perfbench] $spanName[$i] latency ${start + dur - due}%.0f ms, batch $dur%.0f ms")
        (start + dur - due, dur)
      }
    } finally q.stop()
  }

  /** (rows, distinct `doc_id`s) of a manifest, in one job. */
  private def rowsAndDistinctIds(m: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions.{count, countDistinct, lit}
    val r = m.agg(count(lit(1)), countDistinct("doc_id")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** `run.stage_s.<stage>`: gaps between consecutive `_SUCCESS` mtimes in
    * the build's stage order. */
  private def stageTimes(out: String, startMs: Long): Seq[(String, Double)] = {
    val marks = StageDirs.flatMap { case (name, rel) =>
      val p = Paths.get(out, rel, "_SUCCESS")
      if (Files.exists(p)) Some(name -> Files.getLastModifiedTime(p).toMillis)
      else None
    }
    val sorted = marks.sortBy(_._2)
    sorted.zip(startMs +: sorted.map(_._2)).map { case ((name, t), prev) =>
      s"run.stage_s.$name" -> (t - math.min(prev, t)) / 1000.0
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq
  }

  private def treeSize(root: Path): (Long, Long) = {
    val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    (files.map(Files.size).sum, files.size.toLong)
  }
}

object IngestLifecycle {
  val BuildDocs = 400
  val CursorWarmup = 1
  val CursorBatches = 3 // measured, after the warm-up batches
  val CursorFed = CursorWarmup + CursorBatches
  val CursorDocs = 50
  val BuildVecs = 500
  val BenchDocs = 20
  val Nlist = 16

  /** Build stages by artifact, for the `_SUCCESS`-mtime breakdown. */
  val StageDirs: Seq[(String, String)] = Seq(
    "cluster_labels" -> "index/cluster_labels", "fates" -> "fates",
    "report" -> "report", "manifest" -> "manifest", "windows" -> "windows",
    "index" -> "index/postings", "stats" -> "stats/distinct_content",
    "ann" -> "ann/codes")
}
