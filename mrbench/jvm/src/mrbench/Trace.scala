package mrbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A time interval in epoch milliseconds (fractional). */
final case class Span(start: Double, end: Double) {
  def len: Double = math.max(0.0, end - start)
  def clip(w: Span): Span = Span(math.max(start, w.start), math.min(end, w.end))
}

object Span {
  /** Length of the union of `xs` clipped to `w`. */
  def covered(xs: Iterable[Span], w: Span): Double = {
    val cs = xs.iterator.map(_.clip(w)).filter(_.len > 0).toSeq.sortBy(_.start)
    var total, curS, curE = 0.0
    var open = false
    for (c <- cs) {
      if (open && c.start <= curE) curE = math.max(curE, c.end)
      else {
        if (open) total += curE - curS
        curS = c.start; curE = c.end; open = true
      }
    }
    if (open) total += curE - curS
    total
  }
}

/** Which layer a Spark job belongs to, read from its stages' call
  * sites: the parquet schema-inference read in `Tables.scala`, an
  * index build (a stage called from `IndexStore.scala`, or from inside
  * a `computeIfAbsent`, which every standing-frame and memo build of
  * the index layer runs under), or ordinary stage execution. */
object JobKind {
  val Tables = "tables"
  val Index = "index"
  val Exec = "exec"

  private val indexFrame = """IndexStore\.scala|computeIfAbsent""".r

  def of(stages: Seq[StageInfo]): String =
    if (stages.exists(s => s.name.contains("Tables.scala"))) Tables
    else if (stages.exists(s => indexFrame.findFirstIn(s.details).isDefined))
      Index
    else Exec
}

final case class JobRec(id: Int, group: String, kind: String, name: String,
    start: Long, stageIds: Seq[Int], var end: Long = -1L) {
  def span: Span = Span(start.toDouble, end.toDouble)
}

final case class StageRec(tasks: Int, cpuNs: Long, runMs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long)

final case class PhaseRec(name: String, span: Span)

/** The benchmark's own listeners: job, stage and Catalyst phase
  * records, kept in memory and read once the listener bus is drained.
  * Jobs join their request through the job group the client sets;
  * Catalyst phases join by time, since the one client thread runs one
  * request at a time. */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  val phases = mutable.ArrayBuffer.empty[PhaseRec]
  private val byId = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = JobRec(e.jobId, group, JobKind.of(e.stageInfos),
      e.stageInfos.headOption.map(_.name).getOrElse(""), e.time, e.stageIds)
    jobs += j
    byId(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages(i.stageId) =
        if (m == null) StageRec(i.numTasks, 0, 0, 0, 0, 0, 0)
        else StageRec(i.numTasks, m.executorCpuTime, m.executorRunTime,
          m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  private def recordPhases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += PhaseRec(name, Span(p.startTimeMs.toDouble, p.endTimeMs.toDouble))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = recordPhases(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = recordPhases(qe)
}

/** Per-layer figures of the timed requests, read from a drained
  * [[Recorder]]. */
object Layers {
  import Main.Req

  private final case class Parts(r: Req, jobs: Seq[JobRec],
      stages: Seq[StageRec], phases: Seq[PhaseRec]) {
    val window: Span = Span(r.start, r.end)
    def spans(kind: String): Seq[Span] = jobs.filter(_.kind == kind).map(_.span)
    val allJobs: Seq[Span] = jobs.map(_.span)
  }

  private def parts(rec: Recorder, timed: Seq[Req]): Seq[Parts] = {
    val byGroup = rec.jobs.filter(_.end >= 0).groupBy(_.group)
    timed.map { r =>
      val jobs = byGroup.getOrElse(r.id, Nil).toSeq
      val stages = jobs.flatMap(_.stageIds).distinct.flatMap(rec.stages.get)
      val phases = rec.phases.filter(p =>
        p.span.start >= r.start && p.span.start < r.end).toSeq
      Parts(r, jobs, stages, phases)
    }
  }

  def perRequest(rec: Recorder, timed: Seq[Req], slots: Int)
      : Seq[(String, (Double, String))] = {
    val ps = parts(rec, timed)
    val n = ps.size.max(1).toDouble
    def avg(f: Parts => Double): Double = ps.map(f).sum / n
    def phase(name: String)(p: Parts): Double =
      p.phases.filter(_.name == name).map(_.span.len).sum
    val jobMs = ps.map(p => Span.covered(p.allJobs, p.window)).sum
    val runMs = ps.map(_.stages.map(_.runMs).sum).sum.toDouble
    Seq(
      "tables.schema_jobs" -> (avg(_.jobs.count(_.kind == JobKind.Tables)), "count"),
      "tables.schema_ms" -> (avg(p => Span.covered(p.spans(JobKind.Tables), p.window)), "ms"),
      "catalyst.analysis_ms" -> (avg(phase("analysis")), "ms"),
      "catalyst.optimization_ms" -> (avg(phase("optimization")), "ms"),
      "catalyst.planning_ms" -> (avg(phase("planning")), "ms"),
      "entry.build_ms" -> (avg(p => p.r.buildEnd - p.r.start), "ms"),
      "scheduler.jobs" -> (avg(_.jobs.size), "count"),
      "scheduler.stages" -> (avg(_.stages.size), "count"),
      "scheduler.tasks" -> (avg(_.stages.map(_.tasks).sum), "count"),
      "scheduler.idle_gap_ms" -> (avg(p => p.window.len - Span.covered(p.allJobs, p.window)), "ms"),
      "exec.task_cpu_ms" -> (avg(_.stages.map(_.cpuNs).sum / 1e6), "ms"),
      "exec.task_run_ms" -> (avg(_.stages.map(_.runMs).sum.toDouble), "ms"),
      "exec.gc_ms" -> (avg(_.stages.map(_.gcMs).sum.toDouble), "ms"),
      "exec.shuffle_write_mb" -> (avg(_.stages.map(_.shuffleWrite).sum / 1e6), "MB"),
      "exec.shuffle_read_mb" -> (avg(_.stages.map(_.shuffleRead).sum / 1e6), "MB"),
      "exec.spill_mb" -> (avg(_.stages.map(_.spill).sum / 1e6), "MB"),
      "exec.slot_use" -> (if (jobMs > 0) runMs / (jobMs * slots) else 0.0, "ratio"))
  }

  /** Self time per layer, per request: each instant of a request goes to
    * the first layer that covers it, in the order schema-inference jobs,
    * index-build jobs, other jobs, Catalyst phases; what remains is
    * driver time inside query construction or inside the action. The
    * rows add up to the wall time by construction; the residual row
    * shows what clock rounding leaves. */
  def selfTimeTable(rec: Recorder, timed: Seq[Req]): String = {
    val ps = parts(rec, timed)
    val n = ps.size.max(1).toDouble
    val names = Seq("tables (schema jobs)", "index (build jobs)",
      "exec (other jobs)", "catalyst (phases)", "entry.build (driver)",
      "action (driver, scheduler)")
    val sums = Array.fill(names.size)(0.0)
    var wall = 0.0
    for (p <- ps) {
      val layers = Seq(p.spans(JobKind.Tables), p.spans(JobKind.Index),
        p.spans(JobKind.Exec), p.phases.map(_.span))
      var acc = Seq.empty[Span]
      var before = 0.0
      layers.zipWithIndex.foreach { case (l, i) =>
        acc = acc ++ l
        val now = Span.covered(acc, p.window)
        sums(i) += now - before
        before = now
      }
      val b = Span(p.r.start, p.r.buildEnd)
      val a = Span(p.r.buildEnd, p.r.end)
      sums(4) += b.len - Span.covered(acc, b)
      sums(5) += a.len - Span.covered(acc, a)
      wall += p.window.len
    }
    val sb = new StringBuilder
    sb ++= f"[mrbench] self time per timed request (${ps.size} requests)\n"
    names.zip(sums).foreach { case (k, v) =>
      sb ++= f"[mrbench]   ${k}%-28s ${v / n}%9.2f ms ${100 * v / wall.max(1e-9)}%6.1f %%\n"
    }
    sb ++= f"[mrbench]   ${"wall"}%-28s ${wall / n}%9.2f ms\n"
    sb ++= f"[mrbench]   ${"residual"}%-28s ${(wall - sums.sum) / n}%9.4f ms"
    sb.toString
  }

  def writeSpans(f: java.io.File, rec: Recorder, reqs: Seq[Req]): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    def line(kv: (String, String)*): Unit = w.println(Json.obj(kv))
    def owner(t: Double): String =
      reqs.find(r => t >= r.start && t < r.end).map(_.id).getOrElse("")
    try {
      for (r <- reqs) {
        line("span" -> Json.str("request"), "id" -> Json.str(r.id),
          "kind" -> Json.str(r.kind), "pass" -> r.pass.toString,
          "start" -> Json.num(r.start), "end" -> Json.num(r.end))
        line("span" -> Json.str("entry.build"), "parent" -> Json.str(r.id),
          "start" -> Json.num(r.start), "end" -> Json.num(r.buildEnd))
        line("span" -> Json.str("action"), "parent" -> Json.str(r.id),
          "start" -> Json.num(r.buildEnd), "end" -> Json.num(r.end))
      }
      for (j <- rec.jobs) {
        line("span" -> Json.str(s"job.${j.kind}"), "parent" -> Json.str(j.group),
          "job" -> j.id.toString, "site" -> Json.str(j.name),
          "start" -> j.start.toString, "end" -> j.end.toString)
      }
      for (p <- rec.phases) {
        line("span" -> Json.str(s"catalyst.${p.name}"),
          "parent" -> Json.str(owner(p.span.start)),
          "start" -> Json.num(p.span.start), "end" -> Json.num(p.span.end))
      }
    } finally w.close()
  }
}
