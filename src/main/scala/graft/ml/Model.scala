package graft.ml

/** Model weight codec — the Spark-native replacement for the reference's
  * `utils.serialize_keras_model`/`deserialize_keras_model`
  * (`distkeras/utils.py ~L20-45 [H]`), which shipped (arch JSON, ndarray
  * list) pickles over TCP. Here a model is a flat double vector plus
  * shapes; it travels as a `Broadcast` into closures and back through
  * Spark's serializer — no side-channel transport.
  */
final case class ModelWeights(shapes: Seq[(Int, Int)], flat: Array[Double]) {
  require(shapes.map { case (r, c) => r * c }.sum == flat.length,
    s"shape/flat mismatch: $shapes vs ${flat.length}")

  def nParams: Int = flat.length

  /** Materialize layer matrices (row-major). */
  def layers: Seq[Array[Array[Double]]] = {
    var off = 0
    shapes.map { case (r, c) =>
      val m = Array.tabulate(r, c)((i, j) => flat(off + i * c + j))
      off += r * c
      m
    }
  }

  def zipMap(other: ModelWeights)(f: (Double, Double) => Double): ModelWeights = {
    require(other.flat.length == flat.length)
    copy(flat = Array.tabulate(flat.length)(i => f(flat(i), other.flat(i))))
  }

  def +(o: ModelWeights): ModelWeights = zipMap(o)(_ + _)
  def -(o: ModelWeights): ModelWeights = zipMap(o)(_ - _)
  def *(s: Double): ModelWeights = copy(flat = flat.map(_ * s))
}

object ModelWeights {
  def zeros(shapes: Seq[(Int, Int)]): ModelWeights =
    ModelWeights(shapes, Array.fill(shapes.map { case (r, c) => r * c }.sum)(0.0))

  /** `utils.uniform_weights` (`distkeras/utils.py [H]`): deterministic
    * uniform init in [lo, hi] from an explicit seed. */
  def uniform(shapes: Seq[(Int, Int)], lo: Double, hi: Double, seed: Long): ModelWeights = {
    val rnd = new scala.util.Random(seed)
    ModelWeights(shapes,
      Array.fill(shapes.map { case (r, c) => r * c }.sum)(lo + rnd.nextDouble() * (hi - lo)))
  }

  /** Element-wise average of per-partition models — the merge step of
    * data-parallel training (`distkeras/trainers.py › AveragingTrainer
    * ~L150-260 [H]`). */
  def average(ms: Seq[ModelWeights]): ModelWeights = {
    require(ms.nonEmpty)
    val n = ms.size.toDouble
    ms.reduce(_ + _) * (1.0 / n)
  }
}

/** A differentiable binary classifier over flat [[ModelWeights]] — the
  * contract the trainer zoo optimizes. The reference trains *arbitrary*
  * Keras models (`distkeras/trainers.py › Trainer.__init__` takes any
  * compiled model [H]); this trait is the Spark-side equivalent: any
  * model that can (1) score an example and (2) produce a log-loss
  * gradient with respect to its flat weight vector plugs into every
  * trainer and update rule unchanged. Implementations must be
  * immutable apart from `weights.flat` — `withWeights` returns a new
  * model around new weights, which is what lets a broadcast model ship
  * into tasks safely — and must read `weights.flat` afresh on every
  * call rather than cache anything derived from it: a trainer task
  * steps a task-local copy of the weights in place (the only array
  * the training loop mutates), never the broadcast model's.
  */
trait DiffModel extends Serializable {
  def weights: ModelWeights
  /** Same architecture, new weights (must return the same concrete type). */
  def withWeights(w: ModelWeights): DiffModel
  def predictProb(x: Array[Double]): Double
  /** d(logLoss)/d(flat) for one example, same layout as weights.flat. */
  def gradient(x: Array[Double], y: Double): Array[Double]

  /** Adds this example's [[gradient]] into `acc` element by element
    * (`acc(i) += g(i)`), leaving the weights untouched. `acc` is the
    * caller's: an implementation writes only into it, never keeps a
    * reference to it, and `acc` must not alias `weights.flat`. The
    * default materializes [[gradient]]; hot models override it to
    * accumulate without the per-example array. */
  def addGradient(x: Array[Double], y: Double, acc: Array[Double]): Unit = {
    val g = gradient(x, y)
    var i = 0
    while (i < acc.length) { acc(i) += g(i); i += 1 }
  }

  def predictLabel(x: Array[Double]): Double =
    if (predictProb(x) >= 0.5) 1.0 else 0.0

  def logLoss(x: Array[Double], y: Double): Double = {
    val p = math.min(math.max(predictProb(x), 1e-12), 1 - 1e-12)
    -(y * math.log(p) + (1 - y) * math.log(1 - p))
  }
}

/** Linear/logistic model — the oracle-able special case of a Keras model
  * used throughout the training and prediction operators. Weights layout:
  * [w_0..w_{d-1}, b].
  */
final case class LinearModel(weights: ModelWeights) extends DiffModel {
  private val d = weights.flat.length - 1
  def w: Array[Double] = weights.flat.take(d)
  def b: Double = weights.flat(d)

  def withWeights(w: ModelWeights): LinearModel = LinearModel(w)

  def margin(x: Array[Double]): Double = {
    var s = b
    var i = 0
    while (i < d) { s += weights.flat(i) * x(i); i += 1 }
    s
  }

  def predictProb(x: Array[Double]): Double = 1.0 / (1.0 + math.exp(-margin(x)))

  /** Logistic-loss gradient contribution of one example, added into acc
    * (scaled by -lr when used as an SGD step). */
  def gradient(x: Array[Double], y: Double): Array[Double] = {
    val p = predictProb(x)
    val g = new Array[Double](d + 1)
    val err = p - y
    var i = 0
    while (i < d) { g(i) = err * x(i); i += 1 }
    g(d) = err
    g
  }
}

object LinearModel {
  def init(dim: Int, seed: Long = 42L): LinearModel =
    LinearModel(ModelWeights.uniform(Seq((1, dim + 1)), -0.1, 0.1, seed))
}

/** Shared layered-net machinery: the per-layer flat layout (W_l
  * row-major (dims(l+1) × dims(l)) then b_l), the tanh-hidden forward
  * pass, and the backprop loop — everything that does NOT depend on the
  * output head. [[DeepMlpModel]] (1 sigmoid unit, log loss) and
  * [[SoftmaxMlpModel]] (K-way softmax, cross-entropy) plug in only
  * their output activation and initial delta, so a fix to the offset
  * math or the inner loops lands in ONE place (round-13 review). */
private[ml] trait LayeredNet extends DiffModel {
  def din: Int
  def hiddens: Seq[Int]
  /** Width of the output layer (1 for sigmoid, K for softmax). */
  protected def outUnits: Int
  /** Activate the raw output logits IN PLACE. */
  protected def activateOutput(z: Array[Double]): Unit
  /** Initial backprop delta from the ACTIVATED output and the label —
    * a fresh array the caller may keep. */
  protected def outputDelta(out: Array[Double], y: Double): Array[Double]

  protected lazy val dims: Array[Int] = (din +: hiddens :+ outUnits).toArray
  protected lazy val nLayers: Int = dims.length - 1
  protected lazy val wOff: Array[Int] = layout._1
  protected lazy val bOff: Array[Int] = layout._2
  protected lazy val totalParams: Int = layout._3
  private lazy val layout: (Array[Int], Array[Int], Int) = {
    val w = new Array[Int](nLayers)
    val b = new Array[Int](nLayers)
    var off = 0
    var l = 0
    while (l < nLayers) {
      w(l) = off; off += dims(l + 1) * dims(l)
      b(l) = off; off += dims(l + 1)
      l += 1
    }
    (w, b, off)
  }
  /** Concrete constructors call this to fail fast on a bad flat vector. */
  protected final def checkLayout(): Unit =
    require(weights.flat.length == totalParams,
      s"weight layout mismatch: ${weights.flat.length} for dims ${dims.toSeq}")

  /** Forward pass keeping each layer's activations (backprop needs
    * them): acts(0) = x, acts(l+1) = layer l's output; the last is
    * [[activateOutput]]-transformed in place. Each sweep of a layer's
    * input feeds four output units: four independent add chains, each
    * summed in the same `i` order as the one-unit loop that finishes
    * the layer, so every unit's sum is bit-identical either way. */
  protected final def forward(x: Array[Double]): Array[Array[Double]] = {
    val f = weights.flat
    // locals for the lazy-val layout, hoisted out of the unit loops
    val dims = this.dims; val wOff = this.wOff; val bOff = this.bOff
    val nLayers = this.nLayers
    val acts = new Array[Array[Double]](nLayers + 1)
    acts(0) = x
    var l = 0
    while (l < nLayers) {
      val in = acts(l)
      val nIn = in.length
      val stride = dims(l)
      val b = bOff(l)
      val hidden = l < nLayers - 1 // raw logits on the last layer
      val out = new Array[Double](dims(l + 1))
      var j = 0
      while (j + 4 <= out.length) {
        val r0 = wOff(l) + j * stride
        val r1 = r0 + stride; val r2 = r1 + stride; val r3 = r2 + stride
        var s0 = f(b + j); var s1 = f(b + j + 1)
        var s2 = f(b + j + 2); var s3 = f(b + j + 3)
        var i = 0
        while (i < nIn) {
          val v = in(i)
          s0 += f(r0 + i) * v; s1 += f(r1 + i) * v
          s2 += f(r2 + i) * v; s3 += f(r3 + i) * v
          i += 1
        }
        out(j) = if (hidden) math.tanh(s0) else s0
        out(j + 1) = if (hidden) math.tanh(s1) else s1
        out(j + 2) = if (hidden) math.tanh(s2) else s2
        out(j + 3) = if (hidden) math.tanh(s3) else s3
        j += 4
      }
      while (j < out.length) {
        var s = f(b + j)
        val row = wOff(l) + j * stride
        var i = 0
        while (i < nIn) { s += f(row + i) * in(i); i += 1 }
        out(j) = if (hidden) math.tanh(s) else s
        j += 1
      }
      acts(l + 1) = out
      l += 1
    }
    activateOutput(acts(nLayers))
    acts
  }

  final def gradient(x: Array[Double], y: Double): Array[Double] = {
    val g = new Array[Double](weights.flat.length)
    addGradient(x, y, g)
    g
  }

  /** Backprop straight into `acc`: each layer's outer product δ·aᵀ and
    * its bias delta are added in place, with no per-example gradient
    * array. */
  override final def addGradient(x: Array[Double], y: Double,
                                 acc: Array[Double]): Unit = {
    val f = weights.flat
    val dims = this.dims; val wOff = this.wOff; val bOff = this.bOff
    val acts = forward(x)
    var delta = outputDelta(acts(nLayers), y)
    var l = nLayers - 1
    while (l >= 0) {
      val in = acts(l)
      var j = 0
      while (j < delta.length) {
        val row = wOff(l) + j * dims(l)
        val d = delta(j)
        var i = 0
        while (i < in.length) { acc(row + i) += d * in(i); i += 1 }
        acc(bOff(l) + j) += d
        j += 1
      }
      if (l > 0) {
        // δ_{l−1}[i] = (Σ_j W_l[j,i]·δ_j) · (1 − a_{l−1}[i]²)  (tanh′)
        val prev = new Array[Double](dims(l))
        var i = 0
        while (i < prev.length) {
          var s = 0.0
          var jj = 0
          while (jj < delta.length) {
            s += f(wOff(l) + jj * dims(l) + i) * delta(jj); jj += 1
          }
          prev(i) = s * (1.0 - in(i) * in(i))
          i += 1
        }
        delta = prev
      }
      l -= 1
    }
  }
}

private[ml] object LayeredNet {
  /** Shape list of the layered layout over `din +: hiddens :+ outUnits`:
    * per layer, the (out, in) weight matrix then the (out, 1) bias. */
  def shapes(din: Int, hiddens: Seq[Int], outUnits: Int): Seq[(Int, Int)] = {
    val dims = din +: hiddens :+ outUnits
    dims.zip(dims.tail).flatMap { case (in, out) => Seq((out, in), (out, 1)) }
  }
}

/** Configurable-depth MLP (any number of tanh hidden layers, logistic
  * output) — the ARBITRARY-ARCHITECTURE member of the model zoo, closing
  * the gap to the reference's "any compiled Keras model" contract
  * (`distkeras/trainers.py › Trainer.__init__ [H]`; `examples/mnist.py`
  * stacks multiple Dense layers [H]) within this sandbox's honest means
  * (no Keras/GPU: a pure-Scala N-layer net trained through the SAME
  * [[graft.ml.Trainers]] harness and update rules as every other model).
  *
  * Layout/forward/backprop live in [[LayeredNet]]. `hiddens = Seq(h)`
  * is the one-hidden-layer net of the reference's `examples/mnist.py`
  * Dense→Dense stack [H]: its shape list is the 4-shape layout
  * ((h, din), (h, 1), (1, h), (1, 1)), i.e. [W1 row-major, b1, w2, b2].
  * Output head: one sigmoid unit under log loss (δ_L = p − y);
  * gradient-checked against central finite differences per parameter
  * in DeepMlpSpec. */
final case class DeepMlpModel(weights: ModelWeights, din: Int,
                              hiddens: Seq[Int]) extends LayeredNet {
  require(hiddens.nonEmpty && hiddens.forall(_ > 0), s"bad hidden sizes: $hiddens")
  protected def outUnits: Int = 1
  checkLayout()

  def withWeights(w: ModelWeights): DeepMlpModel = copy(weights = w)

  protected def activateOutput(z: Array[Double]): Unit =
    z(0) = 1.0 / (1.0 + math.exp(-z(0)))

  // sigmoid + log-loss collapses the output delta to (p − y)
  protected def outputDelta(out: Array[Double], y: Double): Array[Double] =
    Array(out(0) - y)

  def predictProb(x: Array[Double]): Double = forward(x)(nLayers)(0)
}

object DeepMlpModel {
  /** Shape list: per layer, the (out, in) weight matrix then the
    * (out, 1) bias, ending at the one output unit. */
  def shapes(din: Int, hiddens: Seq[Int]): Seq[(Int, Int)] =
    LayeredNet.shapes(din, hiddens, 1)

  def init(din: Int, hiddens: Seq[Int], seed: Long = 42L): DeepMlpModel =
    DeepMlpModel(ModelWeights.uniform(shapes(din, hiddens), -0.5, 0.5, seed),
      din, hiddens)
}

/** Shared K-WAY SOFTMAX head semantics — what makes a [[DiffModel]]
  * multi-class regardless of what feeds the logits (the tanh stack of
  * [[SoftmaxMlpModel]] or the conv/pool block of [[ConvSoftmaxModel]]).
  * Labels travel through the unchanged [[DiffModel]]/[[Trainers]]
  * plumbing as the double-encoded class index (y ∈ {0..K−1}):
  *  - `logLoss(x, y)` = −log p_y (cross-entropy);
  *  - `predictLabel(x)` = argmax class, ties to the smallest index;
  *  - `predictProb(x)` = the max softmax probability (the confidence
  *    a binary-thresholding caller would read).
  * Implementations expose the full distribution via
  * [[predictClassProbs]] and backprop from [[softmaxDelta]]
  * (cross-entropy + softmax collapses the output delta to
  * p − onehot(y)). */
trait SoftmaxHead extends DiffModel {
  def nClasses: Int
  /** Full softmax distribution over the K classes (a fresh array). */
  def predictClassProbs(x: Array[Double]): Array[Double]

  final def predictProb(x: Array[Double]): Double = {
    val p = predictClassProbs(x)
    var best = p(0); var k = 1
    while (k < p.length) { if (p(k) > best) best = p(k); k += 1 }
    best
  }

  override final def predictLabel(x: Array[Double]): Double = {
    val p = predictClassProbs(x)
    var arg = 0; var k = 1
    while (k < p.length) { if (p(k) > p(arg)) arg = k; k += 1 }
    arg.toDouble
  }

  override final def logLoss(x: Array[Double], y: Double): Double = {
    val p = predictClassProbs(x)(y.toInt)
    -math.log(math.min(math.max(p, 1e-12), 1.0))
  }

  /** Output delta p − onehot(y) (a fresh array the caller may keep). */
  protected final def softmaxDelta(probs: Array[Double],
                                   y: Double): Array[Double] = {
    val d = probs.clone()
    d(y.toInt) -= 1.0
    d
  }
}

object SoftmaxHead {
  /** Softmax in place over the logits, max-subtracted so huge logits
    * can't overflow to NaN (spec-pinned). */
  def softmaxInPlace(z: Array[Double]): Unit = {
    var mx = z(0)
    var k = 1
    while (k < z.length) { if (z(k) > mx) mx = z(k); k += 1 }
    var tot = 0.0
    k = 0
    while (k < z.length) { z(k) = math.exp(z(k) - mx); tot += z(k); k += 1 }
    k = 0
    while (k < z.length) { z(k) /= tot; k += 1 }
  }
}

/** MULTI-CLASS MLP: tanh hidden layers, K-way softmax output under
  * cross-entropy — the head the reference's flagship example actually
  * trains (`examples/mnist.py` ends in Dense(10, softmax) [H]).
  * Layout/forward/backprop live in [[LayeredNet]]; the multi-class
  * prediction/loss surface lives in [[SoftmaxHead]]; an empty `hiddens`
  * is the plain multinomial logistic head. */
final case class SoftmaxMlpModel(weights: ModelWeights, din: Int,
                                 hiddens: Seq[Int], nClasses: Int)
    extends LayeredNet with SoftmaxHead {
  require(nClasses >= 2, s"need >= 2 classes, got $nClasses")
  require(hiddens.forall(_ > 0), s"bad hidden sizes: $hiddens")
  protected def outUnits: Int = nClasses
  checkLayout()

  def withWeights(w: ModelWeights): SoftmaxMlpModel = copy(weights = w)

  protected def activateOutput(z: Array[Double]): Unit =
    SoftmaxHead.softmaxInPlace(z)

  protected def outputDelta(out: Array[Double], y: Double): Array[Double] =
    softmaxDelta(out, y)

  def predictClassProbs(x: Array[Double]): Array[Double] =
    forward(x)(nLayers).clone()
}

object SoftmaxMlpModel {
  def shapes(din: Int, hiddens: Seq[Int], nClasses: Int): Seq[(Int, Int)] =
    LayeredNet.shapes(din, hiddens, nClasses)

  def init(din: Int, hiddens: Seq[Int], nClasses: Int,
           seed: Long = 42L): SoftmaxMlpModel =
    SoftmaxMlpModel(
      ModelWeights.uniform(shapes(din, hiddens, nClasses), -0.5, 0.5, seed),
      din, hiddens, nClasses)
}

/** Model persistence — the disk-format replacement for the reference's
  * pickled model files (`examples/mnist.py` saves/loads the trained
  * Keras model between runs [M]). Weights are written as ONE parquet
  * row (shape rows/cols arrays + the flat vector): engine-portable,
  * schema-checked, readable by any parquet tool — and round-trips
  * bit-exactly, since parquet doubles are IEEE754 verbatim. */
object ModelIO {
  def save(spark: org.apache.spark.sql.SparkSession, w: ModelWeights,
           path: String): Unit = {
    import spark.implicits._
    Seq((w.shapes.map(_._1), w.shapes.map(_._2), w.flat.toSeq))
      .toDF("shape_rows", "shape_cols", "flat")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): ModelWeights = {
    val r = spark.read.parquet(path).head()
    ModelWeights(
      r.getSeq[Int](r.fieldIndex("shape_rows"))
        .zip(r.getSeq[Int](r.fieldIndex("shape_cols"))),
      r.getSeq[Double](r.fieldIndex("flat")).toArray)
  }

  /** Architecture-aware loads: the shape list fully determines the model
    * family (a linear model is one (1, d+1) row; a layered MLP is the
    * chain of [[DeepMlpModel.shapes]], the 4-shape layout for one hidden
    * layer), so no side-channel metadata file is needed — a malformed
    * shape list fails fast instead of mis-scoring. */
  def loadLinear(spark: org.apache.spark.sql.SparkSession, path: String): LinearModel = {
    val w = load(spark, path)
    require(w.shapes.sizeIs == 1 && w.shapes.head._1 == 1,
      s"not a linear model shape list: ${w.shapes}")
    LinearModel(w)
  }

  /** N-layer MLP: the shape list is pairs ((out,in),(out,1)) chained so
    * each layer's `in` equals the previous layer's `out`, ending at the
    * single output unit — fully determines (din, hiddens). */
  def loadDeepMlp(spark: org.apache.spark.sql.SparkSession,
                  path: String): DeepMlpModel = {
    val w = load(spark, path)
    val pairs = w.shapes.grouped(2).toSeq
    val ok = pairs.nonEmpty && pairs.forall {
      case Seq((o1, _), (o2, 1)) => o1 == o2
      case _ => false
    } && pairs.sliding(2).forall {
      case Seq(a, b) => b.head._2 == a.head._1
      case _ => true
    } && pairs.last.head._1 == 1
    require(ok, s"not a layered MLP shape list: ${w.shapes}")
    val din = pairs.head.head._2
    val hiddens = pairs.dropRight(1).map(_.head._1)
    DeepMlpModel(w, din, hiddens)
  }

  /** Shared conv-family shape inference: the shape list is a leading
    * run of identical (kh,kw) kernels (length = nFilters), the
    * (nFilters,1) conv biases, the (K,nFeat) dense matrix and the (K,1)
    * dense biases. The image dims (h,w) are NOT in the shape list —
    * the caller supplies them and the inferred geometry is validated
    * against nFeat, so a wrong (h,w) fails fast instead of
    * mis-scoring. Returns (kh, kw, nFilters, nClasses, nFeat). */
  private def inferConv(shapes: Seq[(Int, Int)], h: Int,
                        w: Int): (Int, Int, Int, Int, Int) = {
    require(shapes.sizeIs >= 4, s"not a conv shape list: $shapes")
    val (kh, kw) = shapes.head
    // the list is STRUCTURALLY nf kernels + 3 tail entries, so count
    // from the length — a takeWhile on the kernel shape would absorb
    // the (nFilters,1) bias whenever (kh,kw) == (nFilters,1) (e.g. any
    // kw=1 net with kh == nFilters) and reject a valid saved model
    val nf = shapes.size - 3
    require(shapes.take(nf).forall(_ == (kh, kw)),
      s"not a conv shape list (mixed kernel shapes): $shapes")
    shapes.drop(nf) match {
      case Seq((`nf`, 1), (k1, nFeat), (k2, 1)) if k1 == k2 =>
        val ph = (h - kh + 1) / 2
        val pw = (w - kw + 1) / 2
        require(nFeat == nf * ph * pw,
          s"dense width $nFeat != $nf*$ph*$pw for ${h}x$w/${kh}x$kw")
        (kh, kw, nf, k1, nFeat)
      case other =>
        throw new IllegalArgumentException(s"not a conv shape list tail: $other")
    }
  }

  /** Binary convnet load: shapes infer (kh, kw, nFilters); the caller
    * supplies the image dims (see [[inferConv]]); the dense head must
    * be the single sigmoid row. */
  def loadConvNet(spark: org.apache.spark.sql.SparkSession, path: String,
                  h: Int, w: Int): ConvNetModel = {
    val wts = load(spark, path)
    val (kh, kw, nf, k, _) = inferConv(wts.shapes, h, w)
    require(k == 1, s"dense head has $k rows; use loadConvSoftmax")
    ConvNetModel(wts, h, w, kh, kw, nf)
  }

  /** Multi-class convnet load: like [[loadConvNet]] but the dense head
    * is the (K,nFeat) softmax block, K >= 2. */
  def loadConvSoftmax(spark: org.apache.spark.sql.SparkSession, path: String,
                      h: Int, w: Int): ConvSoftmaxModel = {
    val wts = load(spark, path)
    val (kh, kw, nf, k, _) = inferConv(wts.shapes, h, w)
    require(k >= 2, s"dense head has $k row(s); use loadConvNet")
    ConvSoftmaxModel(wts, h, w, kh, kw, nf, k)
  }
}

/** CONVOLUTIONAL nets — the last architecture family of the reference's
  * flagship example (`examples/mnist.py` builds Convolution2D → ReLU →
  * MaxPooling2D → Dense on 28×28×1 MNIST [H]) re-expressed within this
  * sandbox's honest means (no Keras/GPU): pure-Scala single-channel conv
  * nets trained through the SAME [[Trainers]] harness and update rules
  * as every other [[DiffModel]]. This trait is the shared conv/pool
  * block of the family: geometry checks, the conv+ReLU+max-pool forward
  * keeping backprop intermediates, and the backprop routing from
  * pooled-feature deltas through the pool argmax and ReLU mask into the
  * kernel/conv-bias gradients.
  *
  * Architecture: the flat `features` array is read as a row-major h×w
  * image; `nFilters` valid kh×kw convolutions with per-filter bias and
  * ReLU; 2×2 stride-2 max-pool; then a dense head the concrete model
  * supplies ([[ConvNetModel]]: one sigmoid unit under log loss;
  * [[ConvSoftmaxModel]]: K-way softmax under cross-entropy). Backprop
  * routes the pooled delta to the argmax cell and masks it by ReLU
  * (post-activation > 0 ⇔ pre-activation > 0), then accumulates kernel
  * gradients over every conv position — checked against central finite
  * differences in ConvNetSpec.
  *
  * Flat layout: per-filter kh×kw kernels row-major, then the nFilters
  * conv biases; the dense head — whatever its shape — follows at
  * [[ConvCore.offDense]] over the nFilters·(ch/2)·(cw/2) pooled
  * features (filter-major, then pool row, then pool col). */
private[ml] trait ConvCore extends DiffModel {
  def h: Int
  def w: Int
  def kh: Int
  def kw: Int
  def nFilters: Int

  /** Conv output dims (valid padding). */
  final lazy val ch: Int = h - kh + 1
  final lazy val cw: Int = w - kw + 1
  /** Pooled dims and the dense-feature count. */
  final lazy val ph: Int = ch / 2
  final lazy val pw: Int = cw / 2
  final lazy val nFeat: Int = nFilters * ph * pw
  protected final lazy val kSize: Int = kh * kw
  protected final lazy val offConvB: Int = nFilters * kSize
  /** Offset of the dense head's parameters in the flat vector. */
  protected final lazy val offDense: Int = offConvB + nFilters

  protected final def checkConvLayout(headParams: Int): Unit = {
    require(nFilters > 0 && kh > 0 && kw > 0, s"bad conv config: $kh x $kw x $nFilters")
    require(ch > 0 && cw > 0 && ch % 2 == 0 && cw % 2 == 0,
      s"conv output ${ch}x$cw must be positive and even for the 2x2 pool")
    require(weights.flat.length == offDense + headParams,
      s"flat length ${weights.flat.length} != ${offDense + headParams} for ${h}x$w/${kh}x$kw/$nFilters")
  }

  /** Conv+ReLU+max-pool forward keeping the intermediates backprop
    * needs: post-ReLU conv activations, per-pooled-cell argmax indices
    * into them (ties to the first cell in row-major scan order — `>`
    * keeps the earlier winner), and the pooled feature vector. */
  protected final def convForward(x: Array[Double])
      : (Array[Double], Array[Int], Array[Double]) = {
    val f = weights.flat
    // hoist the lazy-val geometry to locals: each lazy access is a
    // volatile bitmap check the JIT can't lift out of these per-row
    // training/scoring loops (round-13 review)
    val (ch, cw, ph, pw, nFeat) = (this.ch, this.cw, this.ph, this.pw, this.nFeat)
    val (kSize, offConvB) = (this.kSize, this.offConvB)
    val z = new Array[Double](nFilters * ch * cw)
    var fi = 0
    while (fi < nFilters) {
      val kOff = fi * kSize
      var r = 0
      while (r < ch) {
        var c = 0
        while (c < cw) {
          var s = 0.0
          var i = 0
          while (i < kh) {
            val xRow = (r + i) * w + c
            val kRow = kOff + i * kw
            var j = 0
            while (j < kw) { s += x(xRow + j) * f(kRow + j); j += 1 }
            i += 1
          }
          s += f(offConvB + fi)
          z(fi * ch * cw + r * cw + c) = if (s > 0.0) s else 0.0
          c += 1
        }
        r += 1
      }
      fi += 1
    }
    val feat = new Array[Double](nFeat)
    val argm = new Array[Int](nFeat)
    fi = 0
    while (fi < nFilters) {
      var pr = 0
      while (pr < ph) {
        var pc = 0
        while (pc < pw) {
          var best = Double.NegativeInfinity
          var bestIdx = -1
          var dr = 0
          while (dr < 2) {
            var dc = 0
            while (dc < 2) {
              val idx = fi * ch * cw + (2 * pr + dr) * cw + (2 * pc + dc)
              if (z(idx) > best) { best = z(idx); bestIdx = idx }
              dc += 1
            }
            dr += 1
          }
          val k = fi * ph * pw + pr * pw + pc
          feat(k) = best
          argm(k) = bestIdx
          pc += 1
        }
        pr += 1
      }
      fi += 1
    }
    (z, argm, feat)
  }

  /** Backprop from pooled-feature deltas into the conv-block gradients:
    * each dfeat(k) routes to its pool-argmax cell, masked by ReLU
    * (post-activation 0 means the cell contributed a flat 0), then the
    * kernel/conv-bias gradients accumulate over every conv position. */
  protected final def convBackprop(x: Array[Double], z: Array[Double],
                                   argm: Array[Int], dfeat: Array[Double],
                                   g: Array[Double]): Unit = {
    // locals for the lazy-val geometry — see convForward
    val (ch, cw, nFeat) = (this.ch, this.cw, this.nFeat)
    val (kSize, offConvB) = (this.kSize, this.offConvB)
    val dz = new Array[Double](z.length)
    var k = 0
    while (k < nFeat) {
      val idx = argm(k)
      if (z(idx) > 0.0) dz(idx) += dfeat(k)
      k += 1
    }
    var fi = 0
    while (fi < nFilters) {
      val kOff = fi * kSize
      var r = 0
      while (r < ch) {
        var c = 0
        while (c < cw) {
          val d = dz(fi * ch * cw + r * cw + c)
          if (d != 0.0) {
            var i = 0
            while (i < kh) {
              val xRow = (r + i) * w + c
              val kRow = kOff + i * kw
              var j = 0
              while (j < kw) { g(kRow + j) += d * x(xRow + j); j += 1 }
              i += 1
            }
            g(offConvB + fi) += d
          }
          c += 1
        }
        r += 1
      }
      fi += 1
    }
  }
}

/** The binary (sigmoid-head) convnet: conv block from [[ConvCore]],
  * dense row over the pooled features, sigmoid under log loss. Flat
  * layout after the conv block: the (1,nFeat) dense row, then the
  * dense bias. */
final case class ConvNetModel(weights: ModelWeights, h: Int, w: Int,
                              kh: Int, kw: Int, nFilters: Int)
    extends ConvCore {
  private lazy val offDenseB = offDense + nFeat
  checkConvLayout(nFeat + 1)

  def withWeights(wts: ModelWeights): ConvNetModel = copy(weights = wts)

  private def forwardFull(x: Array[Double])
      : (Array[Double], Array[Int], Array[Double], Double) = {
    val f = weights.flat
    val (z, argm, feat) = convForward(x)
    var logit = 0.0
    var k = 0
    while (k < nFeat) { logit += feat(k) * f(offDense + k); k += 1 }
    logit += f(offDenseB)
    (z, argm, feat, 1.0 / (1.0 + math.exp(-logit)))
  }

  def predictProb(x: Array[Double]): Double = forwardFull(x)._4

  def gradient(x: Array[Double], y: Double): Array[Double] = {
    val f = weights.flat
    val (z, argm, feat, p) = forwardFull(x)
    val g = new Array[Double](f.length)
    val delta = p - y
    g(offDenseB) = delta
    val dfeat = new Array[Double](nFeat)
    var k = 0
    while (k < nFeat) {
      g(offDense + k) = delta * feat(k)
      dfeat(k) = delta * f(offDense + k)
      k += 1
    }
    convBackprop(x, z, argm, dfeat, g)
    g
  }
}

object ConvNetModel {
  /** Shape list mirroring the flat layout: one (kh,kw) matrix per
    * filter, the (nFilters,1) conv biases, the (1,nFeat) dense row and
    * the (1,1) dense bias. */
  def shapes(h: Int, w: Int, kh: Int, kw: Int, nFilters: Int): Seq[(Int, Int)] = {
    val ph = (h - kh + 1) / 2
    val pw = (w - kw + 1) / 2
    Seq.fill(nFilters)((kh, kw)) ++
      Seq((nFilters, 1), (1, nFilters * ph * pw), (1, 1))
  }

  def init(h: Int, w: Int, kh: Int, kw: Int, nFilters: Int,
           seed: Long = 42L): ConvNetModel =
    ConvNetModel(ModelWeights.uniform(shapes(h, w, kh, kw, nFilters),
      -0.5, 0.5, seed), h, w, kh, kw, nFilters)
}

/** The MULTI-CLASS convnet — the EXACT architecture of the reference's
  * flagship example (`examples/mnist.py`: Convolution2D → ReLU →
  * MaxPooling2D → Flatten → Dense(10, softmax) on 28×28×1 MNIST [H]):
  * conv block from [[ConvCore]], a (nClasses × nFeat) dense layer over
  * the pooled features, softmax under cross-entropy from
  * [[SoftmaxHead]]. Flat layout after the conv block: the dense rows
  * class-major (class k's nFeat weights contiguous), then the nClasses
  * dense biases. Gradient: δ = p − onehot(y); dense grads are the
  * outer product δ·featᵀ; the pooled-feature delta
  * dfeat_j = Σ_k δ_k·W[k,j] routes through [[ConvCore.convBackprop]] —
  * checked against central finite differences in ConvNetSpec. */
final case class ConvSoftmaxModel(weights: ModelWeights, h: Int, w: Int,
                                  kh: Int, kw: Int, nFilters: Int,
                                  nClasses: Int)
    extends ConvCore with SoftmaxHead {
  require(nClasses >= 2, s"need >= 2 classes, got $nClasses")
  private lazy val offDenseB = offDense + nClasses * nFeat
  checkConvLayout(nClasses * (nFeat + 1))

  def withWeights(wts: ModelWeights): ConvSoftmaxModel = copy(weights = wts)

  private def forwardFull(x: Array[Double])
      : (Array[Double], Array[Int], Array[Double], Array[Double]) = {
    val f = weights.flat
    val (z, argm, feat) = convForward(x)
    val p = new Array[Double](nClasses)
    var k = 0
    while (k < nClasses) {
      var s = f(offDenseB + k)
      val row = offDense + k * nFeat
      var j = 0
      while (j < nFeat) { s += feat(j) * f(row + j); j += 1 }
      p(k) = s
      k += 1
    }
    SoftmaxHead.softmaxInPlace(p)
    (z, argm, feat, p)
  }

  def predictClassProbs(x: Array[Double]): Array[Double] = forwardFull(x)._4

  def gradient(x: Array[Double], y: Double): Array[Double] = {
    val f = weights.flat
    val (z, argm, feat, p) = forwardFull(x)
    val g = new Array[Double](f.length)
    val delta = softmaxDelta(p, y)
    val dfeat = new Array[Double](nFeat)
    var k = 0
    while (k < nClasses) {
      val dk = delta(k)
      g(offDenseB + k) = dk
      val row = offDense + k * nFeat
      var j = 0
      while (j < nFeat) {
        g(row + j) = dk * feat(j)
        dfeat(j) += dk * f(row + j)
        j += 1
      }
      k += 1
    }
    convBackprop(x, z, argm, dfeat, g)
    g
  }
}

object ConvSoftmaxModel {
  /** Shape list mirroring the flat layout: one (kh,kw) matrix per
    * filter, the (nFilters,1) conv biases, the (nClasses,nFeat) dense
    * matrix and the (nClasses,1) dense biases. */
  def shapes(h: Int, w: Int, kh: Int, kw: Int, nFilters: Int,
             nClasses: Int): Seq[(Int, Int)] = {
    val ph = (h - kh + 1) / 2
    val pw = (w - kw + 1) / 2
    Seq.fill(nFilters)((kh, kw)) ++
      Seq((nFilters, 1), (nClasses, nFilters * ph * pw), (nClasses, 1))
  }

  def init(h: Int, w: Int, kh: Int, kw: Int, nFilters: Int, nClasses: Int,
           seed: Long = 42L): ConvSoftmaxModel =
    ConvSoftmaxModel(ModelWeights.uniform(shapes(h, w, kh, kw, nFilters, nClasses),
      -0.5, 0.5, seed), h, w, kh, kw, nFilters, nClasses)
}
