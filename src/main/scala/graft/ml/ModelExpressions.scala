package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The MODEL → EXPRESSION compiler: turns any TRAINED member of the
  * [[DiffModel]] zoo into pure Catalyst scoring expressions over a
  * features array column — the generalization of the hand-written
  * `q_linear_predict` … `q_conv_softmax_predict` scorer ladder
  * (graft.vec.VectorOps) from fixed demo literals to arbitrary weights.
  * This closes the production loop the reference's ModelPredictor
  * (`distkeras/predictors.py ~L20-80 [H]`) serves with a Python
  * closure: train distributed → compile the weights into the plan →
  * score inside WHOLE-STAGE CODEGEN, no UDF, no mapPartitions, full
  * Catalyst visibility (pushdown/pruning see through the scorer).
  *
  * Numeric forms match the ladder keys exactly: fused-codegen
  * [[graft.plans.DotProduct]] for first-layer dots, tanh via exp,
  * left-associated weighted sums, max-subtracted softmax, argmax ties
  * to the smallest class. The Scala model remains the semantic spec:
  * ExpressionCompilerSpec pins every family's compiled column to its
  * `predictProb`/`predictLabel` on random weights.
  */
object ModelExpressions {

  private def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  // tanh via exp — same formula as the oracle-facing ladder keys, so a
  // compiled scorer and its hand-written twin fold identically
  private def tanhC(z: Column): Column =
    lit(1.0) - lit(2.0) / (exp(lit(2.0) * z) + lit(1.0))

  private def dotC(x: Column, w: Seq[Double]): Column =
    graft.plans.DotProduct(x, typedLit(w))

  /** Left-associated weighted sum of already-built columns + bias. */
  private def wsum(hs: Seq[Column], w: Seq[Double], b: Double): Column =
    hs.zip(w).map { case (h, wi) => h * lit(wi) }.reduce(_ + _) + lit(b)

  /** Per-layer (W row-major, b) views of a [[LayeredNet]]-layout flat
    * vector for the given layer widths. */
  private def layerParams(flat: Array[Double], dims: Seq[Int])
      : Seq[(Seq[Seq[Double]], Seq[Double])] = {
    var off = 0
    dims.sliding(2).toSeq.map { case Seq(in, out) =>
      val w = (0 until out).map(j => (0 until in).map(i => flat(off + j * in + i)))
      off += out * in
      val b = (0 until out).map(j => flat(off + j))
      off += out
      (w, b)
    }
  }

  /** Raw output-layer LOGIT columns of a tanh-hidden layered net: the
    * first layer runs on the fused codegen dot product, deeper layers
    * on the previous layer's columns. */
  private def layeredLogits(x: Column, flat: Array[Double],
                            dims: Seq[Int]): Seq[Column] = {
    val layers = layerParams(flat, dims)
    val lastIdx = layers.size - 1
    layers.zipWithIndex.foldLeft(Seq.empty[Column]) {
      case (prev, ((w, b), l)) =>
        val raw =
          if (l == 0) w.zip(b).map { case (wj, bj) => dotC(x, wj) + lit(bj) }
          else w.zip(b).map { case (wj, bj) => wsum(prev, wj, bj) }
        if (l == lastIdx) raw else raw.map(tanhC)
    }
  }

  /** Argmax class (ties to the smallest index) over logit columns —
    * softmax is monotone, so this IS the softmax argmax. Public: the
    * ONE implementation of the load-bearing tie-break convention
    * (`SoftmaxHead.predictLabel`, the oracle CASE chains, and every
    * multi-class scorer key delegate here — round-13 review deduped
    * three copies). */
  def argmaxC(z: Seq[Column]): Column =
    (0 until z.size - 1).reverse.foldLeft(lit(z.size - 1)) { case (acc, k) =>
      val cond = (k + 1 until z.size).map(j => z(k) >= z(j)).reduce(_ && _)
      when(cond, lit(k)).otherwise(acc)
    }

  /** Max-subtracted softmax over logit columns. */
  private def softmaxC(z: Seq[Column]): Seq[Column] = {
    val mx = greatest(z: _*)
    val e = z.map(zk => exp(zk - mx))
    val tot = e.reduce(_ + _)
    e.map(_ / tot)
  }

  private def layeredDims(m: DiffModel): Option[Seq[Int]] = m match {
    case mm: DeepMlpModel => Some(mm.din +: mm.hiddens :+ 1)
    case mm: SoftmaxMlpModel => Some(mm.din +: mm.hiddens :+ mm.nClasses)
    case _ => None
  }

  /** `predictProb` as one Column (binary: P(y=1); softmax: the max
    * class probability). Conv models need intermediate projections —
    * use [[score]] for them. */
  def probColumn(model: DiffModel, x: Column): Column = model match {
    case m: LinearModel => sigmoid(dotC(x, m.w.toSeq) + lit(m.b))
    case m: SoftmaxMlpModel =>
      greatest(softmaxC(layeredLogits(x, m.weights.flat, layeredDims(m).get)): _*)
    case m: DeepMlpModel =>
      sigmoid(layeredLogits(x, m.weights.flat, layeredDims(m).get).head)
    case other => throw new IllegalArgumentException(
      s"no single-column form for ${other.getClass.getSimpleName}; use score()")
  }

  /** `predictLabel` as one Column (DOUBLE, like the model's). */
  def labelColumn(model: DiffModel, x: Column): Column = model match {
    case m: SoftmaxMlpModel =>
      argmaxC(layeredLogits(x, m.weights.flat, layeredDims(m).get)).cast("double")
    case m @ (_: LinearModel | _: DeepMlpModel) =>
      when(probColumn(m, x) >= 0.5, 1.0).otherwise(0.0)
    case other => throw new IllegalArgumentException(
      s"no single-column form for ${other.getClass.getSimpleName}; use score()")
  }

  /** Full softmax distribution as K columns. */
  def classProbColumns(model: SoftmaxMlpModel, x: Column): Seq[Column] =
    softmaxC(layeredLogits(x, model.weights.flat, layeredDims(model).get))

  /** Staged conv logit for the binary conv family: the ReLU'd
    * valid-conv cells, the max-pool, and the dense head as chained
    * projections. Returns (staged frame, logit column, staging columns
    * to drop). */
  private def convNetStaged(df: DataFrame, m: ConvNetModel,
                            featuresCol: String): (DataFrame, Column, Seq[String]) = {
    val (p, pn) = convPooled(df, m, featuresCol)
    val denseOff = m.nFilters * m.kh * m.kw + m.nFilters
    val logit = wsum((0 until m.nFeat).map(k => col(s"${pn}$k")),
      (0 until m.nFeat).map(k => m.weights.flat(denseOff + k)),
      m.weights.flat(denseOff + m.nFeat))
    (p, logit, (0 until m.nFeat).map(k => s"${pn}$k"))
  }

  /** Staged per-class logits for the softmax conv family. */
  private def convSoftmaxStaged(df: DataFrame, m: ConvSoftmaxModel,
                                featuresCol: String): (DataFrame, Seq[Column], Seq[String]) = {
    val (p, pn) = convPooled(df, m, featuresCol)
    val denseOff = m.nFilters * m.kh * m.kw + m.nFilters
    val pooled = (0 until m.nFeat).map(k => col(s"${pn}$k"))
    val z = (0 until m.nClasses).map { c =>
      wsum(pooled,
        (0 until m.nFeat).map(k => m.weights.flat(denseOff + c * m.nFeat + k)),
        m.weights.flat(denseOff + m.nClasses * m.nFeat + c))
    }
    (p, z, (0 until m.nFeat).map(k => s"${pn}$k"))
  }

  /** Staged scoring with PROBABILITY semantics for every family:
    * binary models emit P(y=1), softmax families the max class
    * probability — the column's meaning is fixed by this API, never by
    * the model's runtime type (r13 advice; [[score]] mixed prob and
    * label in one outCol). Conv models stage through the
    * `q_conv_predict` three-projection shape. */
  def scoreProb(df: DataFrame, model: DiffModel, featuresCol: String,
                outCol: String): DataFrame = model match {
    case m: ConvNetModel =>
      val (p, logit, drops) = convNetStaged(df, m, featuresCol)
      p.withColumn(outCol, sigmoid(logit)).drop(drops: _*)
    case m: ConvSoftmaxModel =>
      val (p, z, drops) = convSoftmaxStaged(df, m, featuresCol)
      p.withColumn(outCol, greatest(softmaxC(z): _*)).drop(drops: _*)
    case m =>
      df.withColumn(outCol, probColumn(m, col(featuresCol)))
  }

  /** Staged scoring with LABEL semantics for every family: the
    * predicted class id as DOUBLE (binary: 0/1 at the 0.5 threshold;
    * softmax: argmax, ties to the smallest class). */
  def scoreLabel(df: DataFrame, model: DiffModel, featuresCol: String,
                 outCol: String): DataFrame = model match {
    case m: ConvNetModel =>
      val (p, logit, drops) = convNetStaged(df, m, featuresCol)
      p.withColumn(outCol,
        when(sigmoid(logit) >= 0.5, 1.0).otherwise(0.0)).drop(drops: _*)
    case m: ConvSoftmaxModel =>
      val (p, z, drops) = convSoftmaxStaged(df, m, featuresCol)
      p.withColumn(outCol, argmaxC(z).cast("double")).drop(drops: _*)
    case m =>
      df.withColumn(outCol, labelColumn(m, col(featuresCol)))
  }

  /** Legacy combined entry: probability for binary families but argmax
    * LABEL for ConvSoftmaxModel — outCol semantics depend on the
    * model's runtime type. Kept for source compatibility; prefer
    * [[scoreProb]] / [[scoreLabel]], whose semantics are fixed by the
    * API (r13 advice). */
  def score(df: DataFrame, model: DiffModel, featuresCol: String,
            outCol: String): DataFrame = model match {
    case m: ConvSoftmaxModel => scoreLabel(df, m, featuresCol, outCol)
    case m => scoreProb(df, m, featuresCol, outCol)
  }

  // staging-name counter: fixed __z_*/__p* names would collide with a
  // caller column of the same name (e.g. the output of a previous
  // score() over the same frame) and make the stage-2 references
  // ambiguous (round-13 review)
  private val stageId = new java.util.concurrent.atomic.AtomicLong(0)

  /** Conv+ReLU+pool stages as two chained projections producing pooled
    * feature columns `<prefix>0..<prefix>{nFeat-1}` beside the input;
    * returns the frame and the per-call-unique prefix. */
  private def convPooled(df: DataFrame, m: ConvCore,
                         featuresCol: String): (DataFrame, String) = {
    val id = stageId.incrementAndGet()
    val zn = s"__g${id}_z_"
    val pn = s"__g${id}_p"
    val x = col(featuresCol)
    val f = m.weights.flat
    def cell(fi: Int, r: Int, c: Int): Column = {
      val terms = for { i <- 0 until m.kh; j <- 0 until m.kw } yield
        x.getItem((r + i) * m.w + (c + j)).cast("double") *
          lit(f(fi * m.kh * m.kw + i * m.kw + j))
      greatest(terms.reduce(_ + _) + lit(f(m.nFilters * m.kh * m.kw + fi)), lit(0.0))
    }
    val zCols = for { fi <- 0 until m.nFilters; r <- 0 until m.ch; c <- 0 until m.cw }
      yield cell(fi, r, c).as(s"$zn${fi}_${r}_$c")
    val z = df.select(df.columns.map(col) ++ zCols: _*)
    val pCols = for { fi <- 0 until m.nFilters; pr <- 0 until m.ph; pc <- 0 until m.pw }
      yield greatest(
        col(s"$zn${fi}_${2 * pr}_${2 * pc}"), col(s"$zn${fi}_${2 * pr}_${2 * pc + 1}"),
        col(s"$zn${fi}_${2 * pr + 1}_${2 * pc}"), col(s"$zn${fi}_${2 * pr + 1}_${2 * pc + 1}"))
        .as(s"$pn${fi * m.ph * m.pw + pr * m.pw + pc}")
    (z.select(df.columns.map(col) ++ pCols: _*), pn)
  }
}
