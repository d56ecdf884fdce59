package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Command line of the benchmark JVM; run.py builds it. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      nproc: Int, data: String, checkData: String,
                      checkOut: String, result: String, spans: String,
                      expected: Map[String, String], record: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val expected = m.get("expected").filter(p => Files.exists(Paths.get(p))).map { p =>
      new ObjectMapper().readValue(Paths.get(p).toFile, classOf[java.util.Map[String, String]])
        .asScala.toMap
    }.getOrElse(Map.empty)
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("nproc").toInt, m("data"), m.getOrElse("check-data", ""),
      m.getOrElse("check-out", ""), m("result"), m("spans"), expected,
      m.get("record").contains("1"))
  }
}

/** One timed operation as the client saw it. It keeps the output's
  * values, not the output, whose DataFrame would pin its checkpoint
  * blocks in the heap measurement. */
final case class Done(op: String, pass: Int, seconds: Double, traced: Boolean,
                      values: Map[String, Double], error: Option[String],
                      rec: Option[OpRecord], sentinel: (Double, Double))

/** Old-generation occupancy after full GCs: what the timed operations
  * left live in the driver JVM (checkpoint blocks, broadcasts, collected
  * rows, status-store history). Spark releases the last query's blocks
  * asynchronously, so three collections run 1.5 s apart: with two
  * collections 0.3 s to 1 s apart (with or without draining the listener
  * bus first) the reading still held up to 40 MB of the last query's
  * blocks on query_mix, which made it depend on the seed's key order. */
object LiveHeap {
  def mb(): Double = {
    System.gc(); Thread.sleep(1500); System.gc(); Thread.sleep(1500); System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / (1024.0 * 1024.0)
  }
}

/** Samples /proc/loadavg (1-minute load) once a second. */
final class LoadSampler extends Thread("loadavg-sampler") {
  setDaemon(true)
  val samples = new java.util.concurrent.ConcurrentLinkedQueue[Array[Double]]()
  private val t0 = System.nanoTime()
  override def run(): Unit =
    try while (true) {
      val p = Paths.get("/proc/loadavg")
      if (Files.exists(p)) samples.add(Array((System.nanoTime() - t0) / 1e9,
        Files.readString(p).trim.split("\\s+")(0).toDouble))
      Thread.sleep(1000)
    } catch { case _: InterruptedException => }
}

object Main {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; (s((s.size - 1) / 2) + s(s.size / 2)) / 2 }

  /** A fixed CPU-bound job: its time tracks co-tenant load. */
  private def sentinelMs(spark: SparkSession, nproc: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 1000000, 1, nproc).selectExpr("sum(hash(id))").collect()
    (System.nanoTime() - t0) / 1e6
  }

  private def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case a: Array[_] => a.toSeq.map(toJava).asJava
    case d: Double => java.lang.Double.valueOf(d)
    case i: Int => java.lang.Integer.valueOf(i)
    case l: Long => java.lang.Long.valueOf(l)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case null => null
    case o => o.toString
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${a.nproc}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark)
    val wl = Workload(a.workload, spark, a)
    System.err.println(f"session ready at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s")
    wl.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(f"setup done at $setupS%.1f s")

    val load = new LoadSampler
    load.start()
    val done = scala.collection.mutable.ArrayBuffer.empty[Done]
    def timed(op: String, pass: Int, traced: Boolean): Done = {
      val before = sentinelMs(spark, a.nproc)
      val s0 = System.nanoTime()
      val (res, rec) = tracer.op(op, wl.module(op)) {
        try Right(wl.run(op, tracer)) catch { case e: Exception => Left(e.toString) }
      }
      val secs = (System.nanoTime() - s0) / 1e9
      val after = sentinelMs(spark, a.nproc)
      val err = res.fold(e => Some(e), out => wl.check(op, out))
      Done(op, pass, secs, traced, res.fold(_ => Map.empty, _.values), err, rec, (before, after))
    }
    // a traced run measures half its time untraced, so the tracing
    // overhead is the difference of two medians taken in one JVM. The
    // traced half goes first: its first operation then sits where an
    // untraced run's does, so the per-layer split explains the same
    // measurement, and the overhead is an upper bound (it includes the
    // small warm-up residue every first operation carries).
    val phases = if (a.trace) Seq(true -> a.seconds / 2, false -> a.seconds / 2)
                 else Seq(false -> a.seconds)
    var pass = 0
    val timedStart = System.nanoTime()
    for ((traced, seconds) <- phases) {
      if (traced) tracer.enable()
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e9 < seconds) {
        pass += 1
        wl.pass.foreach(op => done += timed(op, pass, traced))
      }
      if (traced) tracer.disable()
    }
    System.err.println(f"timed phase done after ${(System.nanoTime() - timedStart) / 1e9}%.1f s")
    val heapMb = LiveHeap.mb()
    load.interrupt()

    val untraced = done.filterNot(_.traced).toSeq
    val opP50 = opMedian(untraced)
    val metrics: Map[String, Double] =
      if (!a.trace) endToEnd(wl, untraced, opP50, setupS, heapMb)
      else perLayer(a, wl, done.filter(_.traced).toSeq, opP50)
    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "attempted" -> done.size, "failed" -> done.count(_.error.nonEmpty),
      "failures" -> done.flatMap(d => d.error.map(e => s"${d.op}: $e")).take(20),
      "metrics" -> metrics,
      "outputs" -> wl.outputs,
      "oracle_sql" -> (Workload.QueryMix.map(k => k -> SparkEntry.oracleSql.getOrElse(k, "")).toMap),
      "jvm" -> Map(
        "spark_master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version" -> spark.version,
        "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filter(_.startsWith("-X")).toSeq,
        "cpus" -> Runtime.getRuntime.availableProcessors),
      "load" -> Map(
        "sentinel_ms_before_after" -> done.map(d => Seq(d.sentinel._1, d.sentinel._2)),
        "loadavg_1m" -> load.samples.asScala.map(_.toSeq).toSeq),
      "ops" -> done.map(d => Map("op" -> d.op, "seconds" -> d.seconds, "traced" -> d.traced,
        "error" -> d.error.getOrElse(""))))
    val mapper = new ObjectMapper()
    Files.writeString(Paths.get(a.result), mapper.writeValueAsString(toJava(result)))
    System.err.println("result written")
    if (a.trace) Files.writeString(Paths.get(a.spans), tracer.spans.map(s =>
      mapper.writeValueAsString(toJava(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)))).mkString("", "\n", "\n"))
    spark.stop()
  }

  /** The median over passes of a pass's mean operation time: the
    * median operation on curate and train_dp (one operation a pass); on
    * query_mix the mean of the nine keys, because the median of nine
    * different keys flips between them with the seed's order. */
  private def opMedian(done: Seq[Done]): Double =
    median(done.groupBy(_.pass).values.map(p => p.map(_.seconds).sum / p.size).toSeq)

  /** docs/s on curate, samples/s of the training call on train_dp,
    * queries per second of timed wall on query_mix. */
  private def endToEnd(wl: Workload, done: Seq[Done], opP50: Double, setupS: Double,
                       heapMb: Double): Map[String, Double] = {
    val throughput = wl match {
      case c: Curate => c.outputs("input_docs").asInstanceOf[Long] / opP50
      case t: TrainDp =>
        t.nTrain * t.epochs / median(done.flatMap(_.values.get("train_s")))
      case _ => done.size / done.map(_.seconds).sum
    }
    Map("setup_s" -> setupS, "op_p50_s" -> opP50, "throughput_per_s" -> throughput,
      "heap_retained_mb" -> heapMb)
  }

  /** Modules reported by name; any other package counts as "other". */
  val Modules: Seq[String] = Seq("text", "graph", "plans", "sim", "rel", "ml")

  /** Per-layer metrics: each additive quantity is summed over one pass
    * of the workload (one operation on curate and train_dp, the nine
    * keys on query_mix), then the median over passes is reported. */
  private def perLayer(a: Args, wl: Workload, traced: Seq[Done],
                       untracedP50: Double): Map[String, Double] = {
    val passes = traced.groupBy(_.pass).values.map(_.flatMap(_.rec)).filter(_.nonEmpty).toSeq
    def per(f: Seq[OpRecord] => Double): Double = median(passes.map(f))
    def sum(f: OpRecord => Double): Double = per(_.map(f).sum)
    def group(m: String): String = if (Modules.contains(m)) m else "other"
    val train = wl match { case t: TrainDp => Some(t); case _ => None }
    val epochs = train.map(_.epochs.toDouble).getOrElse(1.0)
    val ml = traced.map(_.values)
    val base = Map(
      "driver.outside_jobs_s" -> sum(_.outsideJobsS),
      "driver.plan_s" -> sum(_.planS),
      "exec.jobs" -> sum(_.jobs), "exec.stages" -> sum(_.stages),
      "exec.tasks" -> sum(_.tasks), "exec.stages_skipped" -> sum(_.stagesSkipped),
      "exec.task_s" -> sum(_.taskS),
      "exec.core_busy_frac" -> per(rs => rs.map(_.taskS).sum / (rs.map(_.wallS).sum * a.nproc)),
      "exec.task_wait_s" -> sum(_.taskWaitS),
      "exec.slowest_task_s" -> per(_.map(_.slowestTaskS).max),
      "exec.task_skew" -> per(_.map(_.taskSkew).max),
      "exec.shuffle_write_mb" -> sum(_.shuffleWriteMb),
      "exec.shuffle_read_mb" -> sum(_.shuffleReadMb),
      "exec.spill_mb" -> sum(_.spillMb),
      "exec.gc_s" -> sum(_.gcS),
      "plans.checkpoint_jobs" -> sum(_.checkpointJobs),
      "plans.checkpoint_s" -> sum(_.checkpointS),
      "plans.checkpoint_mb" -> sum(_.checkpointMb),
      "ml.train_s" -> sum(_.childSpanS.getOrElse("train", 0.0)),
      "ml.epoch_s" -> sum(_.childSpanS.getOrElse("train", 0.0)) / epochs,
      "ml.score_s" -> sum(_.childSpanS.getOrElse("score", 0.0)),
      "ml.jobs_per_epoch" -> sum(_.trainJobs) / epochs,
      "ml.task_s_per_epoch" -> sum(_.trainTaskS) / epochs,
      "ml.outside_jobs_s_per_epoch" -> (if (train.isEmpty) 0.0 else
        sum(r => r.childSpanS.getOrElse("train", 0.0) - r.trainInJobsS) / epochs),
      "ml.slowest_task_s" -> per(_.map(_.trainSlowestTaskS).max),
      "ml.final_loss" -> median(ml.flatMap(_.get("final_loss"))),
      "ml.holdout_accuracy" -> median(ml.flatMap(_.get("accuracy"))),
      "text.survivor_frac" -> (wl match {
        case c: Curate => c.outputs("survivor_frac").asInstanceOf[Double]
        case _ => 0.0
      }),
      "unattributed_s" -> sum(r => r.wallS - r.outsideJobsS - r.moduleInJobsS.values.sum),
      "trace_overhead_s" -> (opMedian(traced) - untracedP50))
    val modules = (Modules :+ "other").flatMap { m =>
      def inM(f: Map[String, Double]) = f.filter { case (k, _) => group(k) == m }.values.sum
      Seq(s"$m.jobs" -> sum(r => inM(r.moduleJobs.map { case (k, v) => k -> v.toDouble })),
        s"$m.in_jobs_s" -> sum(r => inM(r.moduleInJobsS)))
    }
    val keys = Workload.QueryMix.map { k =>
      s"$k.p50_s" -> median(traced.filter(_.op == k).map(_.seconds))
    }
    base ++ modules ++ keys
  }
}
