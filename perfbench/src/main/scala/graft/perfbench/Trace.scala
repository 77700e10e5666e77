package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Tracing from outside the program: spans the harness opens around each
  * call into a layer, plus a `SparkListener` and a
  * `StreamingQueryListener` that attribute Spark jobs, stages, tasks and
  * micro-batch progress to the span whose job group was set on the
  * calling thread. With tracing off, `span` only runs its body: no
  * listener is registered and no job group is set.
  *
  * Span tree: workload → phase (build, batch[i], memo[name],
  * query[name]) → Spark job → stage. Set-up runs before tracing starts;
  * its parts are the per-layer `setup.*_s` numbers. */
final class Trace(val enabled: Boolean, val traceId: String) {
  import Trace._

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]

  /** Run `body` as a span of `layer`. Jobs that `body` submits on this
    * thread carry the span's id as their job group. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get()
      val sp = Span(ids.incrementAndGet(), name, layer,
        if (parent == null) 0L else parent.id, nowMs())
      spans.add(sp)
      current.set(sp)
      val sc = SparkSession.getActiveSession.map(_.sparkContext)
      sc.foreach(setGroup(_, sp.id.toString))
      try body
      finally {
        sp.endMs = nowMs()
        current.set(parent)
        sc.foreach(c => setGroup(c, if (parent == null) null else parent.id.toString))
      }
    }

  /** The span open on this thread, for work another thread (the stream
    * execution thread) does on its behalf through [[adopt]]. */
  def currentSpan: Option[Span] = Option(current.get())

  /** Run `body` on this thread as a child of `parent` (a span opened on
    * another thread). */
  def adopt[T](parent: Option[Span], name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val saved = current.get()
      current.set(parent.orNull)
      try span(name, layer)(body) finally current.set(saved)
    }

  private def setGroup(sc: SparkContext, group: String): Unit = {
    sc.setLocalProperty("spark.jobGroup.id", group)
    sc.setLocalProperty("spark.job.description", group)
  }

  val spark = new SparkCounter
  val stream = new StreamCounter

  def install(s: SparkSession): Unit = if (enabled) {
    s.sparkContext.addSparkListener(spark)
    s.streams.addListener(stream)
  }

  def uninstall(s: SparkSession): Unit = if (enabled) {
    s.sparkContext.removeSparkListener(spark)
    s.streams.removeListener(stream)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  // Streaming queries whose jobs run under the query's own job group
  // (the stream thread sets it per batch): run id -> span-name prefix.
  private val streamGroups = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Attribute the jobs of streaming query `runId` to the spans named
    * `<prefix>[i]` that were open when each job started. */
  def streamQuery(runId: String, prefix: String): Unit =
    if (enabled) streamGroups.put(runId, prefix + "[")

  /** The span id a job belongs to ("0" when none). */
  private def spanOf(j: JobRec, all: Seq[Span]): String = j.group match {
    case Some(g) if streamGroups.containsKey(g) =>
      val pre = streamGroups.get(g)
      all.find(sp => sp.name.startsWith(pre) && sp.startMs <= j.startMs &&
        j.startMs <= sp.endMs).map(_.id.toString).getOrElse("0")
    case Some(g) => g
    case None => "0"
  }

  /** Span lines (JSON) for the phase spans and, under them, every job and
    * stage the listener attributed to them. */
  def jsonLines: Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    def line(id: String, name: String, layer: String, parent: String,
        start: Double, end: Double): Unit =
      out += s"""{"trace":"$traceId","id":"$id","name":${Json.str(name)},""" +
        s""""layer":"$layer","parent":"$parent","start_ms":$start,"end_ms":$end}"""
    val all = allSpans
    all.foreach(sp => line(sp.id.toString, sp.name, sp.layer,
      sp.parent.toString, sp.startMs, sp.endMs))
    spark.jobs.values.toSeq.sortBy(_.id).foreach { j =>
      line(s"job${j.id}", s"job ${j.id}", "spark", spanOf(j, all),
        j.startMs, j.endMs)
      j.stageIds.flatMap(spark.stages.get).foreach { st =>
        line(s"stage${st.id}", s"stage ${st.id}", "spark", s"job${j.id}",
          st.startMs, st.endMs)
      }
    }
    out.toSeq
  }

  /** Span ids of `root` and everything below it. */
  def subtree(root: Span): Set[String] = {
    val kids = allSpans.groupBy(_.parent)
    def go(sp: Span): Seq[String] =
      sp.id.toString +: kids.getOrElse(sp.id, Nil).flatMap(go)
    go(root).toSet
  }

  /** Spark counts of each op span, as means over `ops`: jobs, stages,
    * tasks, driver-only time (span wall minus the union of its job
    * intervals), task totals. */
  def sparkPerOp(ops: Seq[Span], cores: Int): Map[String, Double] =
    if (ops.isEmpty) Map.empty
    else {
      val all = allSpans
      val jobSpan = spark.jobs.values.map(j => j -> spanOf(j, all)).toSeq
      val per = ops.map { op =>
        val groups = subtree(op)
        val js = jobSpan.collect { case (j, sp) if groups(sp) => j }
        val wall = op.endMs - op.startMs
        val busy = unionMs(js.map(j => (j.startMs, j.endMs)))
        val st = js.flatMap(_.stageIds).flatMap(spark.stages.get)
        val t = new Totals
        (groups.flatMap(spark.byGroup.get) ++
          js.filter(_.group.exists(streamGroups.containsKey))
            .flatMap(j => spark.byJob.get(j.id))).foreach(g => g.synchronized {
          t.tasks += g.tasks; t.runMs += g.runMs; t.cpuNs += g.cpuNs
          t.gcMs += g.gcMs; t.schedDelayMs += g.schedDelayMs
          t.shuffleWrite += g.shuffleWrite; t.shuffleRead += g.shuffleRead
          t.spill += g.spill; t.peakMem = math.max(t.peakMem, g.peakMem)
          t.input += g.input; t.output += g.output
        })
        val skews = st.filter(_.taskRunMs.size >= 2).map { s =>
          val xs = s.taskRunMs.sorted
          val med = xs(xs.size / 2)
          if (med <= 0) 1.0 else xs.last / med
        }
        Map(
          "spark.jobs" -> js.size.toDouble,
          "spark.stages" -> st.size.toDouble,
          "spark.tasks" -> t.tasks.toDouble,
          "spark.driver_only_s" -> (wall - busy) / 1000.0,
          "spark.job_busy_s" -> busy / 1000.0,
          "spark.scheduler_delay_s" -> t.schedDelayMs / 1000.0,
          "spark.task_run_s" -> t.runMs / 1000.0,
          "spark.task_cpu_s" -> t.cpuNs / 1e9,
          "spark.task_gc_s" -> t.gcMs / 1000.0,
          "spark.core_util" ->
            (if (wall <= 0) 0.0 else t.runMs / (wall * cores)),
          "spark.stage_skew" ->
            (if (skews.isEmpty) 1.0 else skews.sum / skews.size),
          "spark.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
          "spark.shuffle_read_bytes" -> t.shuffleRead.toDouble,
          "spark.spill_bytes" -> t.spill.toDouble,
          "spark.peak_exec_mem_bytes" -> t.peakMem.toDouble,
          "spark.input_bytes" -> t.input.toDouble,
          "spark.output_bytes" -> t.output.toDouble)
      }
      per.head.keys.map(k => k -> per.map(_(k)).sum / per.size).toMap
    }

  /** Self time per layer: a span's wall time minus its child spans' and
    * its jobs' (union) wall time; job time is the `spark` layer's. */
  def selfTimeByLayer: Map[String, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    val jobsBy = spark.jobs.values.groupBy(j => spanOf(j, all))
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    all.foreach { sp =>
      val childIv = kids.getOrElse(sp.id, Nil).map(c => (c.startMs, c.endMs)) ++
        jobsBy.getOrElse(sp.id.toString, Nil).map(j => (j.startMs, j.endMs))
      acc(sp.layer) += (sp.endMs - sp.startMs - unionMs(childIv)) / 1000.0
    }
    acc("spark") += unionMs(spark.jobs.values.map(j => (j.startMs, j.endMs)).toSeq) / 1000.0
    acc.toMap
  }
}

object Trace {
  /** Wall clock in ms: the clock Spark's listener events carry. */
  def nowMs(): Double = System.currentTimeMillis().toDouble

  final case class Span(id: Long, name: String, layer: String, parent: Long,
      startMs: Double) {
    @volatile var endMs: Double = startMs
  }

  /** Length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  final class JobRec(val id: Int, val group: Option[String],
      val startMs: Double, val stageIds: Seq[Int]) {
    @volatile var endMs: Double = startMs
  }

  final class StageRec(val id: Int) {
    var startMs = 0.0
    var endMs = 0.0
    val taskRunMs = mutable.ArrayBuffer.empty[Double]
  }

  /** Task-level totals for one job group. */
  final class Totals {
    var tasks = 0L
    var runMs = 0.0
    var cpuNs = 0.0
    var gcMs = 0.0
    var schedDelayMs = 0.0
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var peakMem = 0L
    var input = 0L
    var output = 0L
  }

  /** Jobs, stages and task metrics by job group. */
  final class SparkCounter extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]().asScala
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]().asScala
    private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]().asScala
    val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Totals]().asScala
    // task totals by job too, for jobs attributed by time (stream groups)
    val byJob = new java.util.concurrent.ConcurrentHashMap[Int, Totals]().asScala
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]().asScala

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs(e.jobId) = new JobRec(e.jobId, g, e.time.toDouble, e.stageIds)
      e.stageIds.foreach { s => stageGroup(s) = g.getOrElse("0"); stageJob(s) = e.jobId }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val st = stages.getOrElseUpdate(i.stageId, new StageRec(i.stageId))
      st.synchronized {
        st.startMs = i.submissionTime.getOrElse(0L).toDouble
        st.endMs = i.completionTime.getOrElse(0L).toDouble
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val st = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
      st.synchronized { st.taskRunMs += m.executorRunTime.toDouble }
      val g = stageGroup.getOrElse(e.stageId, "0")
      add(byGroup.getOrElseUpdate(g, new Totals), e, m)
      stageJob.get(e.stageId).foreach(j => add(byJob.getOrElseUpdate(j, new Totals), e, m))
    }

    private def add(t: Totals, e: SparkListenerTaskEnd,
        m: org.apache.spark.executor.TaskMetrics): Unit =
      t.synchronized {
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          e.taskInfo.gettingResultTime)
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
        t.input += m.inputMetrics.bytesRead
        t.output += m.outputMetrics.bytesWritten
      }
  }

  /** Micro-batch progress of every streaming query. */
  final class StreamCounter extends StreamingQueryListener {
    val progress = new ConcurrentLinkedQueue[(Map[String, Long], Long)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add((p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows))
    }
  }
}
