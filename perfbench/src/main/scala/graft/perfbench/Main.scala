package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import org.apache.spark.ListenerDrain

import graft.Sessions

/** Benchmark JVM entry point, launched by `run.py`:
  *
  *   graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> --out <result.json>
  *
  * Set-up (the JVM's own start, session start, seeded input generation,
  * warm-up) runs once and is timed cold, as a user pays it. The measured
  * pass then runs on that session; with `--trace 1` spans and listeners
  * are on during that pass. The result (checks, metrics, spans) goes to
  * `--out` as JSON; `run.py` adds the DuckDB oracle checks and prints the
  * contract line. */
object Main {
  /** The Spark counts reported per op group. */
  val GroupKeys = Seq("spark.jobs", "spark.stages", "spark.driver_only_s",
    "spark.task_run_s")

  /** Exits explicitly: a failure in set-up must not leave the JVM
    * waiting on Spark's non-daemon threads. */
  def main(argv: Array[String]): Unit = {
    val ok = try { execute(argv); true } catch {
      case e: Throwable => e.printStackTrace(); false
    }
    sys.exit(if (ok) 0 else 1)
  }

  private def execute(argv: Array[String]): Unit = {
    val jvmStartS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val wl: Workload = workload match {
      case "chain_stream" => new ChainStream(seed)
      case "ingest_lifecycle" => new IngestLifecycle(seed)
      case "query_mix" => new QueryMix(seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    QueryMix.keepOracleAuxIn(s"$work/oracle_aux")

    def session(): SparkSession = {
      val s = Sessions.local(cpus)
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val (spark, sessionS) = Workload.timed(session())
    val (_, prepareS) = Workload.timed(wl.prepare(spark, s"$work/input"))
    val (_, warmupS) = Workload.timed(wl.warmup(spark))
    val res = new Result
    val traceId = f"$workload-$seed-${System.currentTimeMillis()}%x"
    val layerOut = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val tr = new Trace(traced, traceId)
    try {
      tr.install(spark)
      tr.span(workload, "workload")(wl.run(spark, seconds, tr, res))
      if (traced) {
        ListenerDrain(spark)
        tr.uninstall(spark)
        layerOut ++= tr.sparkPerOp(res.ops.toSeq, cpus.toInt)
        res.opGroups.foreach { case (g, ops) =>
          val m = tr.sparkPerOp(ops, cpus.toInt)
          GroupKeys.foreach(k => m.get(k).foreach(v => layerOut(s"$g.$k") = v))
        }
        tr.selfTimeByLayer.foreach { case (l, v) => layerOut(s"self_s.$l") = v }
        layerOut("spark.pinned_rdds") = Workload.pinnedRdds(spark).toDouble
        layerOut("spark.storage_mem_bytes") = storageMemUsed(spark)
      }
    } catch {
      case e: Throwable =>
        res.failed += 1
        res.attempted = math.max(res.attempted, 1)
        res.checks += (("workload completed", false, e.toString))
        e.printStackTrace()
    }
    res.e2e("setup_s") = jvmStartS + sessionS + prepareS + warmupS
    layerOut("jvm.peak_rss_mb") = peakRssMb()
    res.layer.foreach { case (k, v) => if (!layerOut.contains(k)) layerOut(k) = v }
    layerOut("setup.jvm_s") = jvmStartS
    layerOut("setup.session_s") = sessionS
    layerOut("setup.prepare_s") = prepareS
    layerOut("setup.warmup_s") = warmupS

    layerOut.foreach { case (k, v) => System.err.println(s"[perfbench] layer $k = $v") }
    val checks = res.checks.map { case (n, ok, d) =>
      Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d)))
    }.mkString("[", ",", "]")
    def metrics(m: Iterable[(String, Double)]) =
      Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) })
    val json = Json.obj(Seq(
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "checks" -> checks,
      "e2e" -> metrics(res.e2e),
      "layer" -> metrics(layerOut),
      "spans" -> tr.jsonLines.map(Json.str).mkString("[", ",", "]")))
    Files.write(Paths.get(a("out")), json.getBytes("UTF-8"))
    spark.stop()
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  private def storageMemUsed(s: SparkSession): Double =
    s.sparkContext.getRDDStorageInfo.map(_.memSize).sum.toDouble
}
