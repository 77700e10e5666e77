package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators._

/** `query_mix`: one closed-loop pass, in a fixed order, over one line
  * of each operator module only it reaches (see `Queries`), through
  * `SparkEntry.queries` on generated tables, with Bench's managed cleanup
  * and release barrier. The memos the mix consumes are prebuilt and
  * timed first. Each line writes its result to parquet inside its timed
  * span, so the one pass is both measured and checked: `run.py` compares
  * every result with its DuckDB oracle. The pass is fixed work (it does
  * not stretch to `seconds`). */
final class QueryMix(seed: Long, work: String) extends Workload {
  import QueryMix._
  import Workload._

  private var data = ""
  private var tables: Seq[String] = Nil
  private val tmpRoot = new File(System.getProperty("java.io.tmpdir"))

  def prepare(s: SparkSession, dir: String): Unit = {
    data = s"$dir/data"
    tables = Gen.tables(s, data, seed, Sf)
  }

  def warmup(s: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    graft.sources.Tables(s, data, "events")
      .groupBy("event_type").agg(count(lit(1)).as("n")).orderBy("n")
      .write.format("noop").mode("overwrite").save()
  }

  private def releaseBlocks(s: SparkSession): Unit = {
    s.sqlContext.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Directories `Materialize` has written (one per memo built). */
  private def memoDirs(): Set[String] =
    Option(tmpRoot.listFiles).toSeq.flatten
      .filter(_.getName.startsWith("graft-materialized-"))
      .flatMap(d => Option(d.listFiles).toSeq.flatten).map(_.getName).toSet

  /** The memo key behind a `Materialize` directory name, when known. */
  private def memoKey(s: SparkSession, dirName: String): String =
    MemoKeys.find { k =>
      java.util.UUID.nameUUIDFromBytes(
        s"${s.sparkContext.applicationId}/$k:$data".getBytes("UTF-8")).toString == dirName
    }.getOrElse(dirName)

  private def frame(s: SparkSession, q: String): (DataFrame, () => Unit) =
    SparkEntry.managedQueries.get(q) match {
      case Some(m) => m(s, data)
      case None => (SparkEntry.queries(q)(s, data), () => ())
    }

  def run(s: SparkSession, seconds: Double, trace: Trace, res: Result): Unit = {
    val t0 = System.nanoTime()
    val memoFns = (DedupOps.memoBuilds ++ TokenizerOps.memoBuilds ++
      UnigramOps.memoBuilds ++ PipelineOps.memoBuilds ++
      SimilarityOps.memoBuilds ++ PqOps.memoBuilds ++ GraphOps.memoBuilds).toMap
    val memoS = Memos.map { m =>
      val (_, sec) = trace.span(s"memo[$m]", "sources") {
        timed(memoFns(m)(s, data).write.format("noop").mode("overwrite").save())
      }
      res.layer(s"memo.${m.stripPrefix("_memo_")}_s") = sec
      sec
    }
    res.layer("query_memo_build_s") = memoS.sum
    res.sampleLiveHeap()

    val memosBefore = memoDirs()
    OraclePrereqs.foreach { q =>
      SparkEntry.queries(q)(s, data).write.format("noop").mode("overwrite").save()
    }

    // the timed pass, in a fixed order (a line's first-use costs depend
    // on the lines before it); each result to parquet for the oracle
    val times = Queries.map { q =>
      val out = s"$work/qout/$q"
      var cleanup: () => Unit = () => ()
      val (_, sec) = trace.span(s"query[$q]", "operators") {
        timed {
          val (df, c) = frame(s, q)
          cleanup = c
          df.write.mode("overwrite").parquet(out)
        }
      }
      cleanup()
      releaseBlocks(s)
      res.attempted += 1
      q -> sec
    }.toMap
    res.sampleLiveHeap()
    val built = memoDirs() -- memosBefore
    res.check("every memo the mix reads was prebuilt", built.isEmpty,
      s"built inside the mix: ${built.map(memoKey(s, _)).mkString(", ")}")
    val oracle = SparkEntry.oracleSql
    val meta = Json.obj(Seq(
      "data" -> Json.str(data),
      "tables" -> tables.map(Json.str).mkString("[", ",", "]"),
      "queries" -> Json.obj(Queries.map { q =>
        val out = s"$work/qout/$q"
        val sql = oracle.get(q).filterNot(_ => RowsOnly(q))
          .map(sql => Json.str(graft.sources.OracleAux.rewriteForSf(sql, data)))
        q -> Json.obj(Seq("sql" -> sql.getOrElse("null"), "out" -> Json.str(out),
          "rows" -> s.read.parquet(out).count().toString))
      })))
    Files.write(Paths.get(work, "oracle.json"), meta.getBytes("UTF-8"))

    val secs = Queries.map(times)
    Queries.foreach(q => res.layer(s"query.${q}_s") = times(q))
    res.layer("query_mix_total_s") = secs.sum
    res.layer("query_mix_geomean_s") = Stats.geomean(secs)
    res.e2e("latency_p50_ms") = Stats.median(secs) * 1000.0
    res.e2e("work_s") = secs.sum
    res.ops ++= trace.allSpans.filter(_.name.startsWith("query["))
    res.layer("query.wall_s") = since(t0)
  }
}

object QueryMix {
  val Sf = 0.005
  /** The heaviest non-memo query-suite line of each operator module that
    * only `SparkEntry.queries` reaches and that fits the run budget:
    * Unigram, Analytic, Window, Tokenizer, Frolyk, Temporal, Multimodal.
    * Left out: the modules `ingest_lifecycle` drives through `Run` and the
    * cursor (Pipeline, Dedup, Similarity, Pq, Relational, Text), and
    * Graph and Classifier, whose only lines (`q_graph_pagerank` with its
    * two memos, `q_quality_classifier` with its model training) cost
    * 16-21 s a run together, more than the budget leaves. */
  val Queries: Seq[String] = Seq("q_pack_pieces", "q_corr_stats",
    "q_window_sliding_avg", "q_bpe_encode", "q_transform_chain",
    "q_resample_fill", "q_multimodal_features")
  val Memos: Seq[String] = Seq("_memo_bpe_merges", "_memo_unigram_model",
    "_memo_ngram_postings")
  /** Queries whose oracle tables another line's oracle reads
    * (q_pack_pieces' oracle reads q_unigram_segment's segments). */
  val OraclePrereqs: Seq[String] = Seq("q_unigram_segment")
  /** Lines checked on rows only although they have an oracle: this
    * DuckDB oracle takes about 40 s on 4 CPUs, more than a run can
    * spend. */
  val RowsOnly: Set[String] = Set("q_bpe_encode")
  /** `Materialize` key prefixes of the operator modules' memos. */
  val MemoKeys: Seq[String] = Seq("ivf_centroids", "bpe_merges", "copurchase",
    "copurchase_infl", "pq_codebook", "curate_fates", "curate_pairs",
    "train_ready_benchgrams", "train_ready_hashes", "train_ready_prior",
    "train_ready_postings", "train_ready_labels", "ngram_pairs",
    "ngram_postings", "cc_prior_labels", "unigram_model")

  /** `OracleAux` writes its tables under a fixed absolute root; point it
    * at `dir` so a run writes only inside its own work directory. The
    * root is a static final field, so only `Unsafe` can set it. Must run
    * before any oracle SQL is built or any aux table written (both read
    * the root). */
  def keepOracleAuxIn(dir: String): Unit = {
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val unsafe = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    val f = graft.sources.OracleAux.getClass.getDeclaredField("Root")
    unsafe.putObject(unsafe.staticFieldBase(f), unsafe.staticFieldOffset(f), dir)
    require(graft.sources.OracleAux.Root == dir, "OracleAux root not redirected")
  }
}
