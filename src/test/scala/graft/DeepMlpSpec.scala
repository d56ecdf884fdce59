package graft

import graft.ml._
import graft.vec.VectorOps

/** The arbitrary-depth MLP (round-13 verdict ask #5): correctness of the
  * layered backprop (finite differences), convergence of a ≥2-hidden-layer
  * net through the SAME distributed harness under every update rule,
  * seed determinism, persistence round-trip, and the pinning of the
  * q_mlp2_predict Catalyst expression form to the Scala forward pass. */
class DeepMlpSpec extends SparkSpec {
  import spark.implicits._

  /** linsep fixture twin of TrainersSpec's: y = 1 iff x0 + x1 > 1. */
  private lazy val linsep = {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 256).flatMap { _ =>
      val x0 = rnd.nextDouble() * 2
      val x1 = rnd.nextDouble() * 2
      val s = x0 + x1
      if (s > 0.9 && s < 1.1) None
      else Some((Seq(x0, x1), if (s >= 1.0) 1.0 else 0.0))
    }
    rows.toDF("features", "label")
  }

  private def accuracy(m: DiffModel, df: org.apache.spark.sql.DataFrame): Double = {
    val data = df.as[(Seq[Double], Double)].collect()
    data.count { case (x, y) => m.predictLabel(x.toArray) == y }
      .toDouble / data.length
  }

  test("deep MLP gradient matches finite differences (2 hidden layers)") {
    val m = DeepMlpModel.init(din = 3, hiddens = Seq(5, 4), seed = 99L)
    val x = Array(0.3, -1.2, 0.7)
    for (y <- Seq(0.0, 1.0)) {
      val g = m.gradient(x, y)
      val eps = 1e-6
      (0 until m.weights.flat.length).foreach { i =>
        val up = m.weights.flat.clone(); up(i) += eps
        val dn = m.weights.flat.clone(); dn(i) -= eps
        val num = (m.withWeights(m.weights.copy(flat = up)).logLoss(x, y) -
          m.withWeights(m.weights.copy(flat = dn)).logLoss(x, y)) / (2 * eps)
        assert(math.abs(num - g(i)) < 1e-5,
          s"grad mismatch at $i (y=$y): analytic ${g(i)} vs numeric $num")
      }
    }
  }

  test("gradient also checks at 3 hidden layers") {
    val m = DeepMlpModel.init(din = 2, hiddens = Seq(4, 3, 3), seed = 7L)
    val x = Array(-0.8, 1.4)
    val g = m.gradient(x, 1.0)
    val eps = 1e-6
    (0 until m.weights.flat.length).foreach { i =>
      val up = m.weights.flat.clone(); up(i) += eps
      val dn = m.weights.flat.clone(); dn(i) -= eps
      val num = (m.withWeights(m.weights.copy(flat = up)).logLoss(x, 1.0) -
        m.withWeights(m.weights.copy(flat = dn)).logLoss(x, 1.0)) / (2 * eps)
      assert(math.abs(num - g(i)) < 1e-5, s"grad mismatch at $i")
    }
  }

  test("deep MLP converges on separable data under EVERY update rule") {
    val rules: Seq[(String, Trainers.UpdateRule)] = Seq(
      "averaging" -> Trainers.Averaging,
      "downpour" -> Trainers.Downpour,
      "elastic" -> Trainers.ElasticAverage(0.5),
      "eamsgd" -> Trainers.ElasticAverageMomentum(0.5, 0.5),
      "adag" -> Trainers.Adag(),
      "dynsgd" -> Trainers.DynSgd)
    rules.foreach { case (name, rule) =>
      val m = Trainers.trainDistributedModel(linsep, "features", "label",
        DeepMlpModel.init(din = 2, hiddens = Seq(6, 4), seed = 5L),
        numWorkers = 4, epochs = 30, lr = 0.8, rule = rule)
      val acc = accuracy(m, linsep)
      assert(acc > 0.9, s"deep-MLP $name accuracy $acc")
    }
  }

  test("deep MLP training is deterministic given a seed") {
    def run() = Trainers.trainDistributedModel(linsep, "features", "label",
      DeepMlpModel.init(2, Seq(4, 3), seed = 11L),
      numWorkers = 4, epochs = 3, lr = 0.5).weights.flat.toSeq
    assert(run() == run())
  }

  test("distributed deep MLP with 1 partition == single trainer") {
    val init = DeepMlpModel.init(2, Seq(4, 3), seed = 17L)
    val single = Trainers.trainSingleModel(linsep, "features", "label", init,
      epochs = 3, lr = 0.5)
    val dist = Trainers.trainDistributedModel(linsep, "features", "label", init,
      numWorkers = 1, epochs = 3, lr = 0.5, rule = Trainers.Averaging)
    assert(single.weights.flat.zip(dist.weights.flat).forall {
      case (a, b) => math.abs(a - b) < 1e-12
    })
  }

  test("ModelIO: deep MLP round-trips bit-exactly and shape-infers (din, hiddens)") {
    val m = Trainers.trainDistributedModel(linsep, "features", "label",
      DeepMlpModel.init(2, Seq(5, 3), seed = 23L),
      numWorkers = 2, epochs = 2, lr = 0.5)
    val path = java.nio.file.Files.createTempDirectory("graft_deepmlp").toString
    ModelIO.save(spark, m.weights, path)
    val back = ModelIO.loadDeepMlp(spark, path)
    assert(back.din == 2 && back.hiddens == Seq(5, 3))
    assert(back.weights.flat.toSeq == m.weights.flat.toSeq)
    // and the linear loader refuses this shape list
    intercept[IllegalArgumentException](ModelIO.loadLinear(spark, path))
  }

  test("q_mlp2_predict expression form equals the Scala DeepMlpModel forward pass") {
    val model = VectorOps.mlp2Model
    val expr = VectorOps.qMlp2Predict(spark, sfDir)
      .select("vec_id", "mlp2_prob").as[(Long, Double)].collect().toMap
    val emb = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
    assert(emb.nonEmpty && expr.size == emb.length)
    emb.foreach { case (id, v) =>
      val p = model.predictProb(v.map(_.toDouble).toArray)
      // the expression uses tanh-via-exp and a ROUND(,6) emit; the Scala
      // model uses math.tanh — agreement to the rounding grid is the pin
      assert(math.abs(expr(id) - p) < 2e-6,
        s"vec $id: expr ${expr(id)} vs model $p")
    }
  }

  test("depth matters on the ring fixture: 2-hidden net beats the linear model") {
    // ring: label 1 inside an annulus — not linearly separable
    val rnd = new scala.util.Random(31)
    val ring = (0 until 320).map { _ =>
      val x0 = rnd.nextDouble() * 2 - 1
      val x1 = rnd.nextDouble() * 2 - 1
      val r = math.sqrt(x0 * x0 + x1 * x1)
      (Seq(x0, x1), if (r < 0.55) 1.0 else 0.0)
    }.toDF("features", "label")
    val linear = Trainers.trainDistributed(ring, "features", "label", 2,
      numWorkers = 4, epochs = 60, lr = 0.8)
    val linAcc = accuracy(linear, ring)
    val deep = Trainers.trainDistributedModel(ring, "features", "label",
      DeepMlpModel.init(2, Seq(8, 6), seed = 5L),
      numWorkers = 4, epochs = 200, lr = 0.8, rule = Trainers.Averaging)
    val deepAcc = accuracy(deep, ring)
    assert(deepAcc > 0.9, s"deep accuracy $deepAcc")
    assert(deepAcc > linAcc + 0.05,
      s"depth must beat linear on the ring: $deepAcc vs $linAcc")
  }
}
