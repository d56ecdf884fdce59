package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.ml.{Evaluator, Predictor, SoftmaxMlpModel, Trainers}
import graft.text.TextOps

/** What one timed operation produced. The digest is computed on first
  * use, by the untimed output check. */
final class OpOutput(digestOf: => String, val values: Map[String, Double] = Map.empty) {
  lazy val digest: String = digestOf
}

/** One closed-loop workload: a single client issues `run` again and
  * again, each call after the previous one returned. `check` is never
  * timed. */
trait Workload {
  /** Operations of one pass, in run order; a measurement ends only
    * between passes. */
  def pass: Seq[String]
  /** The `graft` module an operation name belongs to. */
  def module(op: String): String
  /** Untimed: load inputs, prepare the output checks, warm up. */
  def setup(): Unit
  def run(op: String, t: Tracer): OpOutput
  /** None when the output is correct, else why not. */
  def check(op: String, out: OpOutput): Option[String]
  /** Properties of the run's outputs, written into the result. */
  def outputs: Map[String, Any] = Map.empty
}

object Workload {
  /** The only engine entry points the benchmark calls. */
  val QueryMix: Seq[String] = Seq("q_llm_pipeline_v2", "q_bfs_layers", "q_rfm",
    "q_pagerank", "q_pq_topk_trained", "q_join_inner", "q_agg_groupby",
    "q_topk_per_group", "q_ivf_pq_topk")

  val QueryModule: Map[String, String] = Map(
    "q_llm_pipeline_v2" -> "text", "q_bfs_layers" -> "graph", "q_rfm" -> "rel",
    "q_pagerank" -> "graph", "q_pq_topk_trained" -> "sim", "q_join_inner" -> "rel",
    "q_agg_groupby" -> "rel", "q_topk_per_group" -> "rel", "q_ivf_pq_topk" -> "sim")

  /** An order-insensitive digest: row count and the sum of every row's
    * 64-bit hash. */
  def digest(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.toSeq.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"
  }

  def rows(d: String): Long = d.takeWhile(_ != ':').toLong

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def apply(name: String, spark: SparkSession, a: Args): Workload = name match {
    case "curate" => new Curate(spark, a)
    case "train_dp" => new TrainDp(spark, a)
    case "query_mix" => new QueryMixWl(spark, a)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

import Workload._

/** `TextOps.llmPipelineV2` over the seeded curate corpus. */
final class Curate(spark: SparkSession, a: Args) extends Workload {
  val pass = Seq("llm_pipeline_v2")
  def module(op: String) = "text"
  private var first: Option[String] = None
  private var nDocs = 0L

  private def pipeline(dir: String): DataFrame =
    TextOps.llmPipelineV2(Tables.documents(spark, dir))

  def setup(): Unit = {
    nDocs = Tables.documents(spark, a.data).count()
    // the small corpus from the same generator doubles as warm-up; its
    // output is compared with the key's DuckDB oracle after the run
    pipeline(a.checkData).orderBy("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(a.checkOut)
  }

  def run(op: String, t: Tracer): OpOutput = {
    val out = t.span("TextOps.llmPipelineV2")(pipeline(a.data))
    t.span("noop_write")(noop(out))
    new OpOutput(digest(out))
  }

  def check(op: String, out: OpOutput): Option[String] = {
    if (first.isEmpty) first = Some(out.digest)
    if (first.contains(out.digest)) None
    else Some(s"output digest ${out.digest} differs from the first operation's ${first.get}")
  }

  override def outputs: Map[String, Any] = Map(
    "input_docs" -> nDocs, "output_digest" -> first.getOrElse(""),
    "survivor_frac" -> first.map(rows(_).toDouble / nDocs).getOrElse(0.0))
}

/** Data-parallel training of a softmax MLP, then holdout scoring. */
final class TrainDp(spark: SparkSession, a: Args) extends Workload {
  val pass = Seq("train_and_score")
  def module(op: String) = "ml"
  val epochs = 3
  val targetLoss = 0.2
  val accuracyFloor = 0.9
  private var train: DataFrame = _
  private var holdout: DataFrame = _
  private var firstLoss: Option[Seq[Double]] = None
  private var accuracy = Double.NaN
  var nTrain = 0L

  def setup(): Unit = {
    train = spark.read.parquet(s"${a.data}/train.parquet")
    holdout = spark.read.parquet(s"${a.data}/holdout.parquet")
    nTrain = train.count()
    // warm-up: one full untimed operation, whose loss curve every timed
    // one must reproduce (a one-epoch warm-up left the first timed
    // operation about 30% slower than the next)
    val warm = run("warm-up", new Tracer(spark))
    firstLoss = Some(warm.digest.split(',').map(_.toDouble).toSeq)
    accuracy = warm.values("accuracy")
  }

  def run(op: String, t: Tracer): OpOutput = {
    val t0 = System.nanoTime()
    val report = t.span("train")(Trainers.trainDistributedWithHistory(
      train, "features", "label", SoftmaxMlpModel.init(64, Seq(64), 10),
      numWorkers = a.nproc, epochs = epochs, rule = Trainers.Averaging))
    val trainS = (System.nanoTime() - t0) / 1e9
    val acc = t.span("score") {
      val bc = spark.sparkContext.broadcast(report.model)
      try Evaluator.accuracy(
        Predictor.predictBatchedLabel(holdout, bc, "features", "prediction"),
        "prediction", "label")
      finally bc.destroy()
    }
    new OpOutput(report.epochLoss.mkString(","), Map(
      "train_s" -> trainS, "final_loss" -> report.epochLoss.last, "accuracy" -> acc))
  }

  def check(op: String, out: OpOutput): Option[String] = {
    val loss = out.digest.split(',').map(_.toDouble).toSeq
    if (!loss.forall(l => java.lang.Double.isFinite(l))) Some(s"non-finite loss $loss")
    else if (!firstLoss.contains(loss)) Some(s"loss curve $loss differs from ${firstLoss.get}")
    else if (loss.last > targetLoss) Some(s"final loss ${loss.last} above target $targetLoss")
    else if (out.values("accuracy") < accuracyFloor)
      Some(s"holdout accuracy ${out.values("accuracy")} below $accuracyFloor")
    else None
  }

  override def outputs: Map[String, Any] = Map(
    "epochs" -> epochs, "target_loss" -> targetLoss, "accuracy_floor" -> accuracyFloor,
    "loss_curve" -> firstLoss.getOrElse(Nil), "holdout_accuracy" -> accuracy)
}

/** The driver-bound registry keys over the sf0.1-shaped tables, one key
  * per operation, in an order the seed permutes. */
final class QueryMixWl(spark: SparkSession, a: Args) extends Workload {
  val pass: Seq[String] = new scala.util.Random(a.seed).shuffle(QueryMix)
  def module(op: String) = QueryModule(op)
  private val fns = SparkEntry.queries
  val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]

  def setup(): Unit = {
    val missing = QueryMix.filterNot(fns.contains)
    require(missing.isEmpty, s"SparkEntry.queries lacks ${missing.mkString(", ")}")
    // No warm-up: a run times the first pass of a fresh application,
    // the driver-side cost a short-lived job pays. Warming up with the
    // pipeline key first (where most of the JIT cost lands) measured the
    // same spread across seeds and cost 15 s more per run.
    // re-recording digests: keep each key's rows for its DuckDB oracle
    if (a.record) QueryMix.foreach(k => fns(k)(spark, a.data).coalesce(1)
      .write.mode("overwrite").parquet(s"${a.checkOut}/$k"))
  }

  def run(op: String, t: Tracer): OpOutput = {
    val df = t.span(s"SparkEntry.queries($op)")(fns(op)(spark, a.data))
    t.span("noop_write")(noop(df))
    new OpOutput(digest(df))
  }

  def check(op: String, out: OpOutput): Option[String] = {
    digests.getOrElseUpdate(op, out.digest)
    a.expected.get(op) match {
      case Some(d) if d == out.digest => None
      case Some(d) => Some(s"$op digest ${out.digest} != recorded $d")
      case None if a.record => None
      case None => Some(s"$op has no recorded digest")
    }
  }

  override def outputs: Map[String, Any] = Map("digests" -> digests.toMap)
}
