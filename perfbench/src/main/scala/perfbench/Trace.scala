package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** A span: one timed call, in ms since the tracer's clock base. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      start: Double, end: Double)

/** Spans around the benchmark's calls into the engine, plus a listener
  * that assigns every Spark job, stage and task to the span that was
  * active on the client thread when the job was submitted (through the
  * local properties below), and every job to the `graft` module whose
  * frame is first in the job's call stack.
  *
  * Disabled (the default), `op` and `span` only run their body: the
  * end-to-end metrics are measured with no listener registered. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val baseEpochMs = System.currentTimeMillis()
  private val baseNano = System.nanoTime()
  private def now: Double = (System.nanoTime() - baseNano) / 1e6
  private def rel(epochMs: Long): Double = (epochMs - baseEpochMs).toDouble

  @volatile private var enabled = false
  private var nextId = 0
  private var currentOp = -1
  private var currentSpan = -1
  private val spanBuf = mutable.ArrayBuffer.empty[Span]

  private final class Job(val id: Int, val op: Int, val span: Int,
                          val start: Double, val module: Option[String],
                          val checkpoint: Boolean, val stageIds: Seq[Int],
                          val site: String) {
    var end: Double = Double.NaN
  }

  // written on the listener-bus thread, read after a drain
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val stageSubmit = mutable.HashMap.empty[Int, Double]
  private val stageDone = mutable.HashMap.empty[Int, Double]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val blocks = mutable.ArrayBuffer.empty[(Double, Long)]
  private val planS = mutable.ArrayBuffer.empty[(Int, Double)]
  // SQL execution id -> module of the action that started it: AQE runs
  // query stages as jobs submitted from its own threads, whose call
  // stacks hold no engine frame
  private val execModule = mutable.HashMap.empty[Long, String]
  @volatile private var planOp = -1

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = e.properties
      val op = Option(p).flatMap(q => Option(q.getProperty(OpKey))).map(_.toInt)
      op.foreach { o =>
        val result = e.stageInfos.maxBy(_.stageId)
        val exec = Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)).map(_.toLong)
        val module = moduleOf(result.details).orElse(exec.flatMap(execModule.get))
        val job = new Job(e.jobId, o, Option(p.getProperty(SpanKey)).fold(-1)(_.toInt),
          rel(e.time), module, isCheckpoint(result), e.stageIds, result.name)
        jobs(e.jobId) = job
        e.stageIds.foreach(stageJob(_) = job)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = rel(e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val s = e.stageInfo
      if (stageJob.contains(s.stageId))
        stageSubmit(s.stageId) = rel(s.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      if (stageJob.contains(s.stageId))
        stageDone(s.stageId) = rel(s.completionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (stageJob.contains(e.stageId) && m != null) {
        val i = e.taskInfo
        tasks += Task(e.stageId, rel(i.launchTime), i.duration / 1e3,
          m.executorRunTime / 1e3, m.jvmGCTime / 1e3,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => synchronized {
        moduleOf(x.details).foreach(execModule(x.executionId) = _)
      }
      case _ =>
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid)
        blocks += ((now, b.memSize + b.diskSize))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      Tracer.this.synchronized { planS += ((planOp, ms / 1e3)) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Registers the listeners; from here on operations are traced. */
  def enable(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    enabled = true
  }

  /** Removes the listeners again, for an untraced phase. */
  def disable(): Unit = {
    enabled = false
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  /** The benchmark's spans, then one span per traced Spark job (a
    * child of the span that submitted it, named "job <module>: <call
    * site>"). */
  def spans: Seq[Span] = synchronized {
    spanBuf.toSeq ++ jobs.values.toSeq.map(j => Span(spanBuf.size + j.id, j.span, j.op,
      s"job ${j.module.getOrElse("-")}: ${j.site}", j.start, j.end))
  }

  /** Runs one operation as a root span; returns its result and, when
    * tracing, its per-layer record. */
  def op[T](name: String, module: String)(body: => T): (T, Option[OpRecord]) =
    if (!enabled) (body, None)
    else {
      val id = nextId; nextId += 1
      currentOp = id
      planOp = id
      sc.setLocalProperty(OpKey, id.toString)
      val start = now
      val out = try withSpan(id, name)(body) finally {
        sc.setLocalProperty(OpKey, null)
        sc.setLocalProperty(SpanKey, null)
        currentOp = -1
      }
      val end = now
      org.apache.spark.perfbench.BusDrain(sc)
      planOp = -1
      (out, Some(record(id, name, module, start, end)))
    }

  /** A child span of the running operation (a plain call when off). */
  def span[T](name: String)(body: => T): T =
    if (!enabled || currentOp < 0) body else withSpan(currentOp, name)(body)

  private def withSpan[T](op: Int, name: String)(body: => T): T = {
    val id = spanBuf.size
    val parent = currentSpan
    currentSpan = id
    sc.setLocalProperty(SpanKey, id.toString)
    spanBuf += Span(id, parent, op, name, now, Double.NaN)
    try body finally {
      spanBuf(id) = spanBuf(id).copy(end = now)
      currentSpan = parent
      sc.setLocalProperty(SpanKey, if (parent >= 0) parent.toString else null)
    }
  }

  private def record(op: Int, name: String, module: String,
                     start: Double, end: Double): OpRecord = synchronized {
    val wallS = (end - start) / 1e3
    val js = jobs.values.filter(_.op == op).toSeq
    def clip(j: Job): (Double, Double) =
      (j.start.max(start), (if (j.end.isNaN) end else j.end).min(end))
    // sweep: every instant covered by k jobs is split equally among them
    val points = (js.flatMap { j => val (a, b) = clip(j); Seq(a, b) } ++ Seq(start, end))
      .distinct.sorted
    val byModule = mutable.LinkedHashMap.empty[String, Double]
    var covered = 0.0
    points.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val live = js.filter { j => val (s, e) = clip(j); s <= a && e >= b }
        if (live.nonEmpty) {
          covered += b - a
          live.foreach { j =>
            val m = j.module.getOrElse(module)
            byModule(m) = byModule.getOrElse(m, 0.0) + (b - a) / live.size / 1e3
          }
        }
      case _ =>
    }
    val stageIds = js.flatMap(_.stageIds).toSet
    val ts = tasks.filter(t => stageIds.contains(t.stage)).toSeq
    val taskS = ts.map(_.runS).sum
    val longest = ts.groupBy(_.stage).maxByOption { case (s, _) =>
      stageDone.getOrElse(s, 0.0) - stageSubmit.getOrElse(s, 0.0) }
    val skew = longest.map { case (_, t) =>
      val d = t.map(_.seconds).sorted
      val med = d(d.size / 2)
      if (med > 0) d.last / med else 1.0
    }.getOrElse(0.0)
    val cps = js.filter(_.checkpoint)
    val cpWindows = cps.map(clip)
    val cpBytes = blocks.collect {
      case (t, b) if cpWindows.exists { case (s, e) => t >= s && t <= e } => b
    }.sum
    val children = spanBuf.filter(s => s.op == op && s.parent >= 0).toSeq
    val trainSpans = children.filter(_.name == "train").map(_.id).toSet
    val trainJobs = js.filter(j => trainSpans.contains(j.span))
    val trainStages = trainJobs.flatMap(_.stageIds).toSet
    val trainTasks = ts.filter(t => trainStages.contains(t.stage))
    OpRecord(name, wallS, (end - start - covered) / 1e3,
      planS.filter(_._1 == op).map(_._2).sum,
      js.size, stageIds.size, stageIds.count(s => !stageSubmit.contains(s)), ts.size,
      taskS, ts.map(t => t.launch - stageSubmit.getOrElse(t.stage, t.launch)).sum / 1e3,
      ts.map(_.seconds).maxOption.getOrElse(0.0), skew,
      ts.map(_.shufWrite).sum / MB, ts.map(_.shufRead).sum / MB, ts.map(_.spill).sum / MB,
      ts.map(_.gcS).sum,
      js.groupBy(j => j.module.getOrElse(module)).map { case (m, v) => m -> v.size },
      byModule.toMap,
      cps.size, cpWindows.map { case (s, e) => e - s }.sum / 1e3, cpBytes / MB,
      children.map(s => s.name -> (s.end - s.start) / 1e3).groupMapReduce(_._1)(_._2)(_ + _),
      trainJobs.size, trainTasks.map(_.runS).sum,
      trainTasks.map(_.seconds).maxOption.getOrElse(0.0),
      trainJobs.map(clip).map { case (s, e) => e - s }.sum / 1e3)
  }
}

/** One traced operation, split by layer (seconds unless named). */
final case class OpRecord(
    name: String, wallS: Double, outsideJobsS: Double, planS: Double,
    jobs: Int, stages: Int, stagesSkipped: Int, tasks: Int, taskS: Double,
    taskWaitS: Double, slowestTaskS: Double, taskSkew: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double, gcS: Double,
    moduleJobs: Map[String, Int], moduleInJobsS: Map[String, Double],
    checkpointJobs: Int, checkpointS: Double, checkpointMb: Double,
    childSpanS: Map[String, Double],
    trainJobs: Int, trainTaskS: Double, trainSlowestTaskS: Double, trainInJobsS: Double)

object Tracer {
  private final case class Task(stage: Int, launch: Double, seconds: Double,
                                runS: Double, gcS: Double, shufWrite: Long,
                                shufRead: Long, spill: Long)

  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"
  private val MB = 1024.0 * 1024.0

  /** The package under `graft` of the first engine frame in a job's
    * call stack. Checkpointer frames are skipped, so a checkpoint job
    * counts for the module that asked for it; classes directly in
    * `graft` (Tables, SparkEntry) are "core". */
  def moduleOf(details: String): Option[String] =
    Option(details).flatMap(_.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.plans.Checkpointer")))
      .map { frame =>
        val pkg = frame.takeWhile(_ != '(').split('.')
        if (pkg.length > 2 && pkg(1).head.isLower) pkg(1) else "core"
      }

  /** Stages whose Spark call site is a (local) checkpoint. */
  def isCheckpoint(s: StageInfo): Boolean = {
    val site = Option(s.name).getOrElse("")
    site.startsWith("localCheckpoint") || site.startsWith("checkpoint")
  }
}
