package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Task counters of one Spark job group. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var gcMs = 0L
  var runMs = 0L
  var bytesWritten = 0L

  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    gcMs += o.gcMs; runMs += o.runMs; bytesWritten += o.bytesWritten
    this
  }

  def json: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "gc_s" -> gcMs / 1e3, "task_s" -> runMs / 1e3,
    "bytes_written" -> bytesWritten)
}

/** One closed span. `unit` is the measured unit (run id) it belongs to.
  * An isolation span runs extra work that the untraced unit does not do (a
  * noop-sink projection, a candidate count); its time is left out of the
  * tracing overhead. `owns` tells which jobs the span accounts for (a
  * job counts toward the innermost span that owns it).
  */
final case class Span(id: Int, name: String, parent: Int, unit: Int, isolation: Boolean,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long, owns: JobRec => Boolean) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** A Spark job as the listener saw it: the job group (the span open when
  * it was submitted), the `StageRunner` stage its `graft-stage:<name>`
  * description names, its start and end on the driver clock, the program
  * frames (`graft.` classes) of the call stack that submitted it, if Spark
  * recorded them, and the counters of its tasks.
  */
final case class JobRec(id: Int, group: String, stage: Option[String], startMs: Long, var endMs: Long,
                        frames: String, counters: Counters)

/** A span with its derived figures. `own` counts the tasks of jobs run
  * directly in the span, `incl` adds those of its descendants. `gapS` is
  * the part of the span during which no task ran, `planS` the Catalyst
  * analysis/optimization/planning time that started inside it, `scanned`
  * the rows its queries' leaf scans produced.
  */
final case class SpanReport(span: Span, selfS: Double, gapS: Double, planS: Double,
                            scanned: Long, own: Counters, incl: Counters)

/** In-memory tracer: spans from the benchmark's own code around calls into
  * the program's layers. Each open span sets the Spark job group to its id,
  * so a listener attributes every job, stage and task to the innermost
  * span. Spans [[derive]]d from what the jobs record (the `StageRunner`
  * stage, the call stack) split one call into the program's own stages
  * without composing it by hand. Nothing is recorded while the tracer is
  * not started.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val StagePrefix = "graft-stage:"
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Boolean)] = Nil
  private var nextId = 1
  private var active = false
  var unit = 0
  /** Total time of outermost isolation spans so far. */
  var isolationNs = 0L

  // written on the listener-bus thread, read after drain()
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val taskWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  private val phases = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobRecs = mutable.ArrayBuffer.empty[JobRec]
  private val scans = mutable.ArrayBuffer.empty[(Long, Long)]

  def start(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    active = true
  }

  def stop(): Unit = {
    active = false
    org.apache.spark.perfbench.ListenerBusAccess.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def span[A](name: String, isolation: Boolean = false)(f: => A): A =
    if (!active) f
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      val outermostIsolation = isolation && !open.exists(_._3)
      open = (id, name, isolation) :: open
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      val startMs = System.currentTimeMillis()
      val startNs = System.nanoTime()
      try f
      finally {
        val endNs = System.nanoTime()
        val endMs = System.currentTimeMillis()
        open = open.tail
        open.headOption match {
          case Some((pid, pname, _)) => sc.setJobGroup(s"span-$pid", pname, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        if (outermostIsolation) isolationNs += endNs - startNs
        spans += Span(id, name, parent, unit, isolation, startNs, endNs, startMs, endMs,
          _.group == s"span-$id")
      }
    }

  /** The span closed last. */
  def lastSpan: Option[Span] = spans.lastOption

  /** Adds a span for a part of `parent` that the program, not the
    * benchmark, delimits: [startMs, endMs] on the driver clock, owning the
    * jobs of `parent` that `owns` accepts. Returns it, so that it can parent
    * further spans.
    */
  def derive(parent: Span, name: String, startMs: Long, endMs: Long)(owns: JobRec => Boolean): Span = {
    def ns(ms: Long) = parent.startNs + (ms - parent.startMs) * 1000000L
    val s = Span(nextId, name, parent.id, parent.unit, isolation = false,
      ns(startMs), ns(math.max(startMs, endMs)), startMs, math.max(startMs, endMs),
      j => parent.owns(j) && owns(j))
    nextId += 1
    spans += s
    s
  }

  /** Jobs recorded so far, in start order (read after [[stop]]). */
  def jobs: Seq[JobRec] = synchronized(jobRecs.toSeq)

  private def programFrames(details: String): String =
    Option(details).getOrElse("").split("\n").filter(_.startsWith("graft.")).mkString("\n")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = (k: String) => Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val rec = JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse("none"),
      prop("spark.job.description").filter(_.startsWith(StagePrefix)).map(_.stripPrefix(StagePrefix)),
      e.time, e.time, programFrames(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).orNull),
      new Counters)
    rec.counters.jobs += 1
    jobRecs += rec
    e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobRecs.reverseIterator.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.counters.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = stageJob.get(e.stageId).map(_.counters).getOrElse(new Counters)
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
      c.runMs += m.executorRunTime
      c.bytesWritten += m.outputMetrics.bytesWritten
    }
    taskWindows += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases.values.toSeq
    ph.foreach(p => phases += ((p.startTimeMs, p.endTimeMs)))
    val anchor = if (ph.isEmpty) System.currentTimeMillis() else ph.map(_.endTimeMs).max
    scans += ((anchor, scannedRows(qe.executedPlan)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Rows produced by the leaf scans of an executed plan. */
  private def scannedRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scannedRows(a.executedPlan)
    case q: QueryStageExec => scannedRows(q.plan)
    case _: ReusedExchangeExec => 0L
    case leaf if leaf.children.isEmpty => leaf.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case other => other.children.map(scannedRows).sum
  }

  /** Length of the union of `windows` clipped to [a, b], in ms. */
  private def covered(windows: Seq[(Long, Long)], a: Long, b: Long): Long = {
    var total = 0L
    var curS = -1L
    var curE = -1L
    windows.iterator.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else if (e > curE) curE = e
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Every span recorded so far, with self time, gaps and counters. */
  def reports(): Seq[SpanReport] = synchronized {
    val children = spans.groupBy(_.parent)
    val tasks = taskWindows.toSeq.sortBy(_._1)
    // a job counts toward the innermost span that owns it
    def own(s: Span): Counters = {
      val kids = children.getOrElse(s.id, Nil)
      jobRecs.iterator.filter(j => s.owns(j) && !kids.exists(_.owns(j)))
        .foldLeft(new Counters)((c, j) => c.add(j.counters))
    }
    def incl(s: Span): Counters = {
      val c = new Counters().add(own(s))
      children.getOrElse(s.id, Nil).foreach(ch => c.add(incl(ch)))
      c
    }
    spans.toSeq.sortBy(_.id).map { s =>
      val kids = children.getOrElse(s.id, Nil).toSeq
      val kidNs = {
        // children are sequential (one client thread), so their sum is
        // the part of the parent they cover
        kids.map(k => k.endNs - k.startNs).sum
      }
      val windowMs = math.max(0L, s.endMs - s.startMs)
      val inWindow = tasks.filter { case (st, en) => st < s.endMs && en > s.startMs }
      val gapMs = windowMs - covered(inWindow, s.startMs, s.endMs)
      val planMs = phases.iterator
        .filter { case (st, _) => st >= s.startMs && st <= s.endMs }
        .map { case (st, en) => en - st }.sum
      val scanned = scans.iterator
        .filter { case (t, _) => t >= s.startMs && t <= s.endMs }
        .map(_._2).sum
      SpanReport(s, math.max(0.0, (s.endNs - s.startNs - kidNs) / 1e9), gapMs / 1e3,
        planMs / 1e3, scanned,
        own(s), incl(s))
    }
  }

  /** The spans and their counters as one JSON document. */
  def json(meta: Map[String, Any]): String = {
    val rows = reports().map { r =>
      Map[String, Any](
        "id" -> r.span.id, "name" -> r.span.name, "parent" -> r.span.parent,
        "run_id" -> r.span.unit, "isolation" -> r.span.isolation,
        "start_ms" -> r.span.startMs, "end_ms" -> r.span.endMs,
        "dur_s" -> r.span.durS, "self_s" -> r.selfS, "driver_gap_s" -> r.gapS,
        "plan_s" -> r.planS, "rows_scanned" -> r.scanned,
        "own" -> r.own.json, "incl" -> r.incl.json)
    }
    val jobRows = jobs.map(j => Map[String, Any]("id" -> j.id, "group" -> j.group,
      "stage" -> j.stage.getOrElse(""), "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "frames" -> j.frames, "counters" -> j.counters.json))
    Json.render(meta + ("spans" -> rows) + ("jobs" -> jobRows))
  }
}
