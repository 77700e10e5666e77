package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one measured pass of a workload produced: the output checks, the
  * end-to-end numbers, the per-layer numbers and the op spans (with
  * tracing on) that the per-layer Spark counts are averaged over. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val ops = mutable.ArrayBuffer.empty[Trace.Span]
  /** Named op groups whose Spark counts are reported separately. */
  val opGroups = mutable.LinkedHashMap.empty[String, Seq[Trace.Span]]

  /** Full GC, then the heap in use: the live set at an op boundary. The
    * largest sample is the run's peak live heap. The pause between the
    * two collections lets Spark's ContextCleaner drop the blocks of
    * RDDs and broadcasts the first one found unreachable. */
  def sampleLiveHeap(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    val r = Runtime.getRuntime
    val mb = (r.totalMemory() - r.freeMemory()) / (1024.0 * 1024.0)
    e2e("peak_live_heap_mb") = math.max(e2e.getOrElse("peak_live_heap_mb", 0.0), mb)
  }

  /** Record one output check; a failed check fails one attempted unit. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) failed += 1
  }
}

/** A benchmark workload. `prepare` writes the seeded inputs and `warmup`
  * pays first-use costs (both are set-up); `run` measures one pass for
  * about `seconds` and checks its outputs. */
trait Workload {
  def prepare(s: SparkSession, dir: String): Unit
  def warmup(s: SparkSession): Unit
  def run(s: SparkSession, seconds: Double, trace: Trace, res: Result): Unit
}

object Workload {
  /** Seconds since `t0` (a `System.nanoTime`). */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, since(t0))
  }

  /** Sleep until the wall-clock instant `atMs`. */
  def sleepUntil(atMs: Double): Unit = {
    val d = atMs - System.currentTimeMillis()
    if (d > 0) Thread.sleep(d.toLong, ((d - d.toLong) * 1e6).toInt)
  }

  def pinnedRdds(s: SparkSession): Int = s.sparkContext.getPersistentRDDs.size
}
