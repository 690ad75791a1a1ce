package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.GraftBenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job as the listener saw it, with the executor-side totals of
  * its tasks. `callSite` is the long call site of the job's result stage:
  * the driver stack that triggered the job, innermost frame first. */
final class JobRec(val id: Int, val group: String, val startMs: Long, val callSite: String) {
  var endMs: Long = startMs
  var tasks = 0
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
}

/** Records jobs whose job group a [[Tracer]] span set; every other job is
  * ignored on arrival. Adaptive execution submits most jobs of a SQL query
  * from a pool thread, so a job that belongs to a SQL execution takes the
  * execution's call site (captured on the calling thread) as its own. */
final class JobRecorder extends SparkListener {
  private val jobs = ArrayBuffer[JobRec]()
  private val byId = mutable.Map[Int, JobRec]()
  private val stageToJob = mutable.Map[Int, JobRec]()
  private val executionSites = mutable.Map[String, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      executionSites(x.executionId.toString) = x.details
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group == null || !group.startsWith(Tracer.GroupPrefix)) return
    val exec = e.properties.getProperty("spark.sql.execution.id")
    val site = Option(exec).flatMap(executionSites.get).getOrElse(
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)
    val rec = new JobRec(e.jobId, group, e.time, site)
    jobs += rec
    byId(e.jobId) = rec
    e.stageIds.foreach(s => stageToJob.getOrElseUpdate(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageToJob.get(e.stageId).foreach { r =>
      r.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        r.bytesWritten += m.outputMetrics.bytesWritten
        r.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  def snapshot: Seq[JobRec] = synchronized(jobs.toSeq)
}

/** A timed call into one module's public function. `nested` maps call-site
  * frames to the names of calls the function makes internally: a job whose
  * driver stack passes through such a frame is attributed to that inner
  * call rather than to this span's own time. */
final class Span(val id: Int, val name: String, val parent: Option[Span],
                 val nested: Seq[(String, String)], val probe: Boolean,
                 val cycle: Int, val startMs: Long) {
  val group: String = s"${Tracer.GroupPrefix}$id"
  var endMs: Long = startMs
  var wallS: Double = 0.0
  val extra: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
}

/** Per-call record: a span, or an inner call derived from its jobs. Counts
  * are inclusive; `selfS` is wall time not spent in an inner call. */
final case class CallRec(name: String, wallS: Double, selfS: Double, jobs: Int,
                         tasks: Int, execCpuS: Double, gcS: Double,
                         shuffleBytes: Long, spillBytes: Long,
                         bytesWritten: Long, recordsWritten: Long,
                         extra: Map[String, Double], probe: Boolean, cycle: Int)

/** Spans around the benchmark's calls into graft's modules, plus a
  * SparkListener that attributes job, task, CPU, shuffle, spill, GC and
  * output counts to them through the job group each span sets.
  *
  * In a traced run every timed cycle is traced; its wall time is accounted
  * for as self time per layer plus what no span covers. Outside a traced
  * cycle or a probe, `span` runs its body and records nothing. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val recorder = new JobRecorder
  if (enabled) sc.addSparkListener(recorder)

  private val spans = ArrayBuffer[Span]()
  private val current = new ThreadLocal[Span]
  @volatile private var activeCycle = -1
  @volatile private var inProbe = false
  /** Wall seconds of each traced cycle. */
  private val cycleWalls = ArrayBuffer[Double]()
  /** Wall intervals measured by the workload itself and booked to a call
    * (e.g. the streaming engine's gap between micro-batches). */
  private val booked = ArrayBuffer[CallRec]()

  private def on: Boolean = activeCycle >= 0 || inProbe

  /** One measured cycle; warm-up cycles (`timed = false`) are not traced.
    * `prelude` is time that preceded the cycle and belongs to `preludeCall`. */
  def cycle(timed: Boolean, prelude: Double = 0.0, preludeCall: String = "")(body: => Unit): Unit = {
    if (!enabled || !timed) return body
    val id = cycleWalls.size
    activeCycle = id
    val t0 = System.nanoTime()
    try body finally {
      activeCycle = -1
      cycleWalls += (System.nanoTime() - t0) / 1e9 + prelude
      if (preludeCall.nonEmpty)
        booked += CallRec(preludeCall, prelude, prelude, 0, 0, 0, 0, 0, 0, 0, 0, Map.empty, probe = false, id)
    }
  }

  /** Standalone measurements outside the accounted cycles (lazy operators
    * whose work otherwise runs fused inside a later write). */
  def probe[T](body: => T): T = {
    if (!enabled) return body
    inProbe = true
    try body finally inProbe = false
  }

  /** Time `body` as a call named `name` ("<layer>.<call>"). */
  def span[T](name: String, nested: Seq[(String, String)] = Nil)(body: => T): T =
    spanWith(name, nested)(_ => body)

  /** Like [[span]], with the span handed to the body so it can attach
    * call-specific figures via `extra`. */
  def spanWith[T](name: String, nested: Seq[(String, String)] = Nil)(body: Span => T): T = {
    if (!on) return body(new Span(-1, name, None, nested, false, -1, 0L))
    // a streaming query pins its start() call site on its thread; clear it
    // so jobs carry the stack of the call that triggered them
    val keys = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel",
      "callSite.short", "callSite.long")
    val saved = keys.map(k => k -> sc.getLocalProperty(k))
    sc.clearCallSite()
    val parent = Option(current.get())
    val s = spans.synchronized {
      val sp = new Span(spans.size, name, parent, nested, inProbe, activeCycle,
        System.currentTimeMillis())
      spans += sp
      sp
    }
    current.set(s)
    sc.setJobGroup(s.group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body(s) finally {
      s.wallS = (System.nanoTime() - t0) / 1e9
      s.endMs = System.currentTimeMillis()
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      current.set(parent.orNull)
    }
  }

  // ---------------------------------------------------------------- report

  private def frames(site: String): Array[String] = site.split('\n').map(_.trim)

  private def unionSeconds(jobs: Seq[JobRec]): Double = {
    val iv = jobs.map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (iv.nonEmpty) total += curE - curS
    total / 1000.0
  }

  /** `input_rows` in `extra` (rows the call was given to write) adds
    * `write_amp`: records written per input row. */
  private def rec(name: String, wall: Double, self: Double, jobs: Seq[JobRec],
                  extra: Map[String, Double], probe: Boolean, cycle: Int): CallRec = {
    val written = jobs.map(_.recordsWritten).sum
    val amp = extra.get("input_rows").filter(_ > 0).map(n => "write_amp" -> written / n)
    CallRec(name, wall, self, jobs.size, jobs.map(_.tasks).sum,
      jobs.map(_.cpuNs).sum / 1e9, jobs.map(_.gcMs).sum / 1000.0,
      jobs.map(_.shuffleBytes).sum, jobs.map(_.spillBytes).sum,
      jobs.map(_.bytesWritten).sum, written, extra ++ amp, probe, cycle)
  }

  /** Every call record: spans and the inner calls derived from their jobs. */
  def calls(): Seq[CallRec] = {
    if (!enabled) return Nil
    GraftBenchAccess.drainListenerBus(sc)
    val jobsByGroup = recorder.snapshot.groupBy(_.group)
    val all = spans.synchronized(spans.toSeq)
    val children = all.groupBy(_.parent.map(_.id)).withDefaultValue(Nil)
    def subtreeJobs(s: Span): Seq[JobRec] =
      jobsByGroup.getOrElse(s.group, Nil) ++ children(Some(s.id)).flatMap(subtreeJobs)
    all.flatMap { s =>
      val jobs = jobsByGroup.getOrElse(s.group, Nil)
      // a job whose driver stack passes through a nested frame belongs to
      // that inner call
      val inner = jobs.flatMap { j =>
        frames(j.callSite).iterator.flatMap(f =>
          s.nested.collectFirst { case (frame, call) if f.contains(frame) => call })
          .nextOption().map(_ -> j)
      }.groupBy(_._1).map { case (call, js) => call -> js.map(_._2) }
      val innerRecs = inner.toSeq.map { case (call, js) =>
        val w = unionSeconds(js)
        rec(call, w, w, js, s.extra.get("input_rows").map("input_rows" -> _).toMap, s.probe, s.cycle)
      }
      val self = s.wallS - innerRecs.map(_.wallS).sum - children(Some(s.id)).map(_.wallS).sum
      rec(s.name, s.wallS, self, subtreeJobs(s), s.extra.toMap, s.probe, s.cycle) +: innerRecs
    } ++ booked
  }

  /** Raw spans for the result file: name, start, end, parent. */
  def spanLog(): Seq[Json.Obj] = spans.synchronized(spans.toSeq).map(s => Json.obj(
    "id" -> s.id, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
    "parent" -> s.parent.map(_.id), "probe" -> s.probe, "cycle" -> s.cycle))

  /** Wall-time accounting over the traced cycles: self time per layer
    * plus the part no span covers (the benchmark's own glue). */
  def accounting(calls: Seq[CallRec]): (Double, Map[String, Double], Double) = {
    val wall = cycleWalls.sum
    val counted = calls.filter(c => !c.probe && c.cycle >= 0)
    val layers = counted.groupBy(_.name.takeWhile(_ != '.')).map { case (l, cs) => l -> cs.map(_.selfS).sum }
    (wall, layers, wall - layers.values.sum)
  }
}

object Tracer {
  val GroupPrefix = "graftbench-span-"
}
