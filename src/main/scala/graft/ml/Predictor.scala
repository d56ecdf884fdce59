package graft.ml

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Encoder, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType}

import graft.vec.VectorOps

/** Model scoring as a column-appending operator — ModelPredictor
  * (`distkeras/predictors.py ~L20-80 [H]`), minus its pathologies
  * (SURVEY.md §3.2): the reference scored ROW-AT-A-TIME through a
  * Python worker and re-inferred the output schema via `rdd.toDF()`.
  *
  * Two paths here:
  *  - [[predictLinear]]: the model is a Catalyst expression (HOF dot
  *    product) — stays inside whole-stage codegen, zero serialization.
  *  - [[predictBatched]]: arbitrary Scala model via `mapPartitions` with
  *    explicit batch size and a PRE-RESOLVED output schema (StructType
  *    append — lineage and column pruning stay intact). This is the
  *    pattern for any black-box model; swap `LinearModel` for a real
  *    network scorer without touching the plumbing.
  */
object Predictor {

  /** Linear scorer as a pure expression. */
  def predictLinear(df: DataFrame, model: LinearModel,
                    featuresCol: String, outputCol: String): DataFrame =
    df.withColumn(outputCol,
      VectorOps.dotLit(col(featuresCol), model.w.toSeq) + lit(model.b))

  /** A features array cell as doubles: float and double elements
    * widen exactly, anything else parses through its string form. The
    * one decoder the trainers' examples and the batched scorers share. */
  private[ml] def decodeFeatures(v: Seq[Any]): Array[Double] =
    v.map {
      case f: Float => f.toDouble
      case d: Double => d
      case o => o.toString.toDouble
    }.toArray

  /** Shared batched-scorer core: append ONE double column computed by
    * `score(model, features)` over bounded row batches. The model ships
    * once per executor via broadcast, not once per task closure; the
    * output schema is pre-resolved (no `rdd.toDF()` re-inference); and
    * column metadata the RowEncoder drops (e.g. ReshapeTransformer's
    * shape annotation) is re-attached — a plan-level Project only, the
    * MapPartitions island stays a single node. */
  private def predictBatchedWith[M <: DiffModel](
      df: DataFrame, modelBc: Broadcast[M], featuresCol: String,
      outputCol: String, batchSize: Int)(
      score: (M, Array[Double]) => Double): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      org.apache.spark.sql.types.StructField(outputCol, DoubleType, nullable = false))
    val featIdx = df.schema.fieldIndex(featuresCol)
    val enc: Encoder[Row] = RowEncoder.encoderFor(outSchema)
    val mapped = df.mapPartitions { it =>
      val model = modelBc.value
      it.grouped(batchSize).flatMap { batch =>
        // batch boundary = where a real implementation hands the whole
        // feature block to the native scorer in one call
        batch.map { r =>
          Row.fromSeq(r.toSeq :+ score(model, decodeFeatures(r.getSeq[Any](featIdx))))
        }
      }
    }(enc)
    df.schema.fields.filter(_.metadata != org.apache.spark.sql.types.Metadata.empty)
      .foldLeft(mapped) { (d, f) =>
        d.withColumn(f.name, col(f.name).as(f.name, f.metadata))
      }
  }

  /** Batched black-box scorer (probability). Batches amortize per-call
    * model overhead (for a real NN: one forward pass per `batchSize`
    * rows). */
  def predictBatched[M <: DiffModel](df: DataFrame, modelBc: Broadcast[M],
                     featuresCol: String, outputCol: String,
                     batchSize: Int = 1024): DataFrame =
    predictBatchedWith(df, modelBc, featuresCol, outputCol, batchSize)(
      _.predictProb(_))

  /** Batched MULTI-CLASS scorer: appends the argmax class index (what
    * `examples/mnist.py` reads off its Dense(10, softmax) head [H]) —
    * the same core as [[predictBatched]], using the model's own
    * `predictLabel` so any [[DiffModel]] with an overridden argmax
    * (e.g. [[SoftmaxMlpModel]]) scores correctly. */
  def predictBatchedLabel[M <: DiffModel](df: DataFrame, modelBc: Broadcast[M],
                     featuresCol: String, outputCol: String,
                     batchSize: Int = 1024): DataFrame =
    predictBatchedWith(df, modelBc, featuresCol, outputCol, batchSize)(
      _.predictLabel(_))
}

/** AccuracyEvaluator (`distkeras/evaluators.py ~L15-60 [H]`): fraction of
  * rows where prediction equals label — a single Catalyst aggregate, not
  * the reference's `rdd.filter().count()` pair (which scanned twice). */
object Evaluator {
  def accuracy(df: DataFrame, predictionCol: String, labelCol: String): Double =
    df.agg(avg(when(col(predictionCol) === col(labelCol), 1.0).otherwise(0.0)))
      .head().getDouble(0)

  def accuracyExpr(predictionCol: Column, labelCol: Column): Column =
    avg(when(predictionCol === labelCol, 1.0).otherwise(0.0))

  /** Binary-classification metrics as ONE distributed aggregation pass —
    * the evaluator surface the reference computes driver-side with
    * sklearn over collected predictions (`examples/mnist.py [M]`):
    * precision/recall/F1 at a probability threshold, and AUC.
    *
    * AUC is BINNED (default 1024 probability bins): an exact
    * Mann-Whitney AUC needs a global rank over all scores — a
    * single-reducer sort at 100 TB — while the binned form is one
    * groupBy(bin) histogram plus a window over ≤ `bins` rows; pairs
    * falling in the same bin count 1/2 (the standard tie treatment), so
    * the approximation error is bounded by the within-bin mass. The
    * probability is rounded to 6 decimals BEFORE binning so the bin
    * assignment is reproducible across engines (same reasoning as every
    * oracled float column).
    *
    * Returns one row: (precision, recall, f1, auc) rounded to 6. */
  def binaryMetrics(scored: DataFrame, probCol: String, labelCol: String,
                    threshold: Double = 0.5, bins: Int = 1024): DataFrame = {
    val p = round(col(probCol).cast("double"), 6)
    val y = col(labelCol).cast("int")
    val base = scored.select(
      least(floor(p * bins), lit(bins - 1)).cast("int").as("bin"),
      when(p >= threshold, 1).otherwise(0).as("pred"), y.as("y"))

    val counts = base.agg(
      sum(when(col("pred") === 1 && col("y") === 1, 1L).otherwise(0L)).as("tp"),
      sum(when(col("pred") === 1 && col("y") === 0, 1L).otherwise(0L)).as("fp"),
      sum(when(col("pred") === 0 && col("y") === 1, 1L).otherwise(0L)).as("fn"))

    val hist = base.groupBy(col("bin")).agg(
      sum(col("y")).cast("double").as("pos"),
      sum(lit(1) - col("y")).cast("double").as("neg"))
    // negCumBelow over ≤ bins rows — the window is tiny by construction;
    // the constant partition key states that single-partition execution
    // is INTENDED here (the input is the bin histogram, not the data)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(0))
      .orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val auc = hist
      .withColumn("neg_below", coalesce(sum(col("neg")).over(w), lit(0.0)))
      .agg((sum(col("pos") * col("neg_below")) +
        lit(0.5) * sum(col("pos") * col("neg"))).as("num"),
        sum(col("pos")).as("npos"), sum(col("neg")).as("nneg"))
      .select((col("num") / (col("npos") * col("nneg"))).as("auc"))

    // "prec" not "precision": the latter is a reserved word in some SQL
    // engines, and the oracle must share column names verbatim
    counts.crossJoin(auc).select(
      round(col("tp").cast("double") / (col("tp") + col("fp")), 6).as("prec"),
      round(col("tp").cast("double") / (col("tp") + col("fn")), 6).as("recall"),
      round(lit(2.0) * col("tp") /
        (lit(2.0) * col("tp") + col("fp") + col("fn")), 6).as("f1"),
      round(col("auc"), 6).as("auc"))
  }
}
