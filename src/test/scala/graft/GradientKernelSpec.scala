package graft

import graft.ml._

/** The layered-net training kernel against its previous form: the
  * four-unit forward sweep and the in-place `addGradient` must give the
  * same probabilities and the same weights after minibatch SGD, bit for
  * bit, as the one-unit forward and the fresh-array gradient they
  * replaced (kept below verbatim as [[RefNet]]). Widths are chosen so
  * every layer hits the four-unit remainder path (5, 7, 3, 10 and 1
  * output units) as well as the pure block path (64). */
class GradientKernelSpec extends SparkSpec {
  import spark.implicits._

  private def bits(a: Iterable[Double]): Seq[Long] =
    a.map(java.lang.Double.doubleToRawLongBits).toSeq

  /** The previous `LayeredNet.forward` and `LayeredNet.gradient`, their
    * bodies copied verbatim; the class only binds the names they read
    * (the flat layout and the output head) for one net. `outUnits == 1`
    * is the sigmoid head of [[DeepMlpModel]], otherwise the softmax
    * head of [[SoftmaxMlpModel]]. */
  private final class RefNet(weights: ModelWeights, din: Int,
                             hiddens: Seq[Int], outUnits: Int) {
    private val dims: Array[Int] = (din +: hiddens :+ outUnits).toArray
    val nLayers: Int = dims.length - 1
    private val wOff = new Array[Int](nLayers)
    private val bOff = new Array[Int](nLayers)
    locally {
      var off = 0
      var l = 0
      while (l < nLayers) {
        wOff(l) = off; off += dims(l + 1) * dims(l)
        bOff(l) = off; off += dims(l + 1)
        l += 1
      }
    }
    private def activateOutput(z: Array[Double]): Unit =
      if (outUnits > 1) SoftmaxHead.softmaxInPlace(z)
      else z(0) = 1.0 / (1.0 + math.exp(-z(0)))
    private def outputDelta(out: Array[Double], y: Double): Array[Double] =
      if (outUnits > 1) { val d = out.clone(); d(y.toInt) -= 1.0; d }
      else Array(out(0) - y)

    def forward(x: Array[Double]): Array[Array[Double]] = {
      val f = weights.flat
      val acts = new Array[Array[Double]](nLayers + 1)
      acts(0) = x
      var l = 0
      while (l < nLayers) {
        val in = acts(l)
        val out = new Array[Double](dims(l + 1))
        var j = 0
        while (j < out.length) {
          var s = f(bOff(l) + j)
          val row = wOff(l) + j * dims(l)
          var i = 0
          while (i < in.length) { s += f(row + i) * in(i); i += 1 }
          out(j) = if (l == nLayers - 1) s else math.tanh(s) // raw logits last
          j += 1
        }
        acts(l + 1) = out
        l += 1
      }
      activateOutput(acts(nLayers))
      acts
    }

    def gradient(x: Array[Double], y: Double): Array[Double] = {
      val f = weights.flat
      val acts = forward(x)
      val g = new Array[Double](f.length)
      var delta = outputDelta(acts(nLayers), y)
      var l = nLayers - 1
      while (l >= 0) {
        val in = acts(l)
        var j = 0
        while (j < delta.length) {
          val row = wOff(l) + j * dims(l)
          var i = 0
          while (i < in.length) { g(row + i) = delta(j) * in(i); i += 1 }
          g(bOff(l) + j) = delta(j)
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
      g
    }
  }

  /** The previous minibatch loop: a fresh gradient per example summed
    * into a fresh batch array, then a new weight vector per step. */
  private def refSgd(ref: Array[Double] => RefNet, w0: Array[Double],
                     rows: Seq[(Array[Double], Double)], lr: Double,
                     batchSize: Int): Array[Double] = {
    var w = w0
    rows.grouped(batchSize).foreach { batch =>
      val net = ref(w)
      val g = new Array[Double](w.length)
      batch.foreach { case (x, y) =>
        val gi = net.gradient(x, y)
        var i = 0
        while (i < g.length) { g(i) += gi(i); i += 1 }
      }
      val scale = lr / batch.size
      val cur = w
      w = Array.tabulate(g.length)(i => cur(i) - scale * g(i))
    }
    w
  }

  /** The same steps through `addGradient`: one buffer, one weight copy
    * stepped in place. */
  private def addGradientSgd(m: DiffModel, rows: Seq[(Array[Double], Double)],
                             lr: Double, batchSize: Int): Array[Double] = {
    val w = m.weights.flat.clone()
    val local = m.withWeights(m.weights.copy(flat = w))
    val g = new Array[Double](w.length)
    rows.grouped(batchSize).foreach { batch =>
      batch.foreach { case (x, y) => local.addGradient(x, y, g) }
      val scale = lr / batch.size
      var i = 0
      while (i < w.length) { w(i) = w(i) - scale * g(i); g(i) = 0.0; i += 1 }
    }
    w
  }

  private val din = 9
  private val widths = Seq(Seq(5), Seq(7, 3), Seq(64))

  private def examples(n: Int, nClasses: Int, seed: Long): Seq[(Array[Double], Double)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { _ =>
      (Array.fill(din)(rnd.nextDouble() * 4 - 2), rnd.nextInt(nClasses).toDouble)
    }
  }

  /** (name, model, its reference over any flat vector, class count). */
  private def nets: Seq[(String, DiffModel, Array[Double] => RefNet, Int)] =
    widths.flatMap { hs =>
      Seq(3, 10).map { k =>
        val m = SoftmaxMlpModel.init(din, hs, k, seed = 31L + k)
        (s"softmax $hs x $k", m: DiffModel,
          (f: Array[Double]) => new RefNet(m.weights.copy(flat = f), din, hs, k), k)
      } :+ {
        val m = DeepMlpModel.init(din, hs, seed = 47L)
        (s"deep $hs", m: DiffModel,
          (f: Array[Double]) => new RefNet(m.weights.copy(flat = f), din, hs, 1), 2)
      }
    }

  test("layered forward == the one-unit reference, bit for bit") {
    nets.foreach { case (name, m, ref, k) =>
      val net = ref(m.weights.flat)
      examples(60, k, seed = 5L).foreach { case (x, _) =>
        val want = net.forward(x)(net.nLayers)
        m match {
          case s: SoftmaxMlpModel =>
            assert(bits(s.predictClassProbs(x)) == bits(want), name)
            assert(bits(Seq(s.predictProb(x))) == bits(Seq(want.max)), name)
          case d =>
            assert(bits(Seq(d.predictProb(x))) == bits(want.toSeq), name)
        }
      }
    }
  }

  test("layered addGradient == the reference gradient added into acc") {
    nets.foreach { case (name, m, ref, k) =>
      val net = ref(m.weights.flat)
      val rnd = new scala.util.Random(9)
      examples(20, k, seed = 6L).foreach { case (x, y) =>
        val g = net.gradient(x, y)
        // a gradient by value: a zeroed array plus the products, so a
        // −0.0 product reads back as +0.0 (equal under ==)
        assert(m.gradient(x, y).toSeq == g.toSeq, name)
        val acc = Array.fill(g.length)(rnd.nextGaussian())
        val want = Array.tabulate(g.length)(i => acc(i) + g(i))
        val before = bits(m.weights.flat)
        m.addGradient(x, y, acc)
        assert(bits(acc) == bits(want), name)
        assert(bits(m.weights.flat) == before, s"$name: addGradient moved the weights")
      }
    }
  }

  test("weights after minibatch steps via addGradient == the reference SGD") {
    nets.foreach { case (name, m, ref, k) =>
      val rows = examples(45, k, seed = 8L) // 5 full batches of 8, one of 5
      val want = refSgd(ref, m.weights.flat, rows, lr = 0.5, batchSize = 8)
      assert(bits(addGradientSgd(m, rows, lr = 0.5, batchSize = 8)) == bits(want), name)
    }
  }

  test("trainSingleModel == the reference SGD over the same rows") {
    val k = 3
    val rows = examples(70, k, seed = 12L)
    val df = rows.map { case (x, y) => (x.toSeq, y) }.toDF("features", "label")
    widths.foreach { hs =>
      val m = SoftmaxMlpModel.init(din, hs, k, seed = 3L)
      val trained = Trainers.trainSingleModel(df, "features", "label", m,
        epochs = 2, lr = 0.4, batchSize = 16)
      val ref = (f: Array[Double]) => new RefNet(m.weights.copy(flat = f), din, hs, k)
      val want = refSgd(ref, refSgd(ref, m.weights.flat, rows, 0.4, 16), rows, 0.4, 16)
      assert(bits(trained.weights.flat) == bits(want), s"hiddens $hs")
    }
  }

  test("linear and conv models use the default addGradient") {
    val rnd = new scala.util.Random(21)
    val models: Seq[(DiffModel, Int, Int)] = Seq(
      (LinearModel.init(5, seed = 2L), 5, 2),
      (ConvNetModel.init(6, 6, 3, 3, 2, seed = 2L), 36, 2),
      (ConvSoftmaxModel.init(6, 6, 3, 3, 2, 3, seed = 2L), 36, 3))
    models.foreach { case (m, dim, k) =>
      (0 until 8).foreach { _ =>
        val x = Array.fill(dim)(rnd.nextDouble() * 2 - 1)
        val y = rnd.nextInt(k).toDouble
        val acc = Array.fill(m.weights.flat.length)(rnd.nextGaussian())
        val g = m.gradient(x, y)
        val want = Array.tabulate(acc.length)(i => acc(i) + g(i))
        m.addGradient(x, y, acc)
        assert(bits(acc) == bits(want), m.getClass.getSimpleName)
      }
    }
  }
}
