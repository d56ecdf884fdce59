package graft

import org.apache.spark.sql.functions._

import graft.ml._

/** The model → expression compiler ([[graft.ml.ModelExpressions]]):
  * every family of the zoo, compiled from RANDOM (seeded) weights —
  * not the fixed demo literals of the ladder keys — must score
  * identically to its own Scala forward pass, inside whole-stage
  * codegen, with no UDF and no mapPartitions. */
class ExpressionCompilerSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb: Seq[(Long, Array[Double])] =
    Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
      .map { case (id, v) => (id, v.map(_.toDouble).toArray) }

  private def frame = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"), col("embedding"))

  /** tanh-via-exp vs math.tanh differ in ulps; layered nets amplify a
    * little — 1e-9 absolute is far below any decision boundary. */
  private val eps = 1e-9

  private def checkProb(m: DiffModel): Unit = {
    val got = frame
      .select(col("vec_id"), ModelExpressions.probColumn(m, col("embedding")).as("p"))
      .as[(Long, Double)].collect().toMap
    emb.foreach { case (id, x) =>
      assert(math.abs(got(id) - m.predictProb(x)) < eps,
        s"${m.getClass.getSimpleName} vec $id: ${got(id)} vs ${m.predictProb(x)}")
    }
  }

  test("linear model compiles to its predictProb") {
    checkProb(LinearModel.init(64, seed = 101L))
  }

  test("1-hidden MLP compiles to its predictProb") {
    checkProb(DeepMlpModel.init(din = 64, hiddens = Seq(5), seed = 103L))
  }

  test("deep MLP (3 hidden layers) compiles to its predictProb") {
    checkProb(DeepMlpModel.init(64, Seq(6, 4, 3), seed = 107L))
  }

  test("softmax MLP: class prob columns, max-prob and argmax label all match") {
    val m = SoftmaxMlpModel.init(din = 64, hiddens = Seq(5), nClasses = 4, seed = 109L)
    val cols = ModelExpressions.classProbColumns(m, col("embedding"))
    val got = frame
      .select(col("vec_id") +:
        ModelExpressions.probColumn(m, col("embedding")).as("p") +:
        ModelExpressions.labelColumn(m, col("embedding")).as("cls") +:
        cols.zipWithIndex.map { case (c, k) => c.as(s"p$k") }: _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    emb.foreach { case (id, x) =>
      val r = got(id)
      val probs = m.predictClassProbs(x)
      assert(math.abs(r.getAs[Double]("p") - m.predictProb(x)) < eps)
      assert(r.getAs[Double]("cls") == m.predictLabel(x), s"vec $id class")
      (0 until 4).foreach { k =>
        assert(math.abs(r.getAs[Double](s"p$k") - probs(k)) < eps, s"vec $id p$k")
      }
    }
  }

  test("binary convnet compiles (staged) to its predictProb") {
    val m = ConvNetModel.init(8, 8, 3, 3, nFilters = 2, seed = 113L)
    val got = ModelExpressions.scoreProb(frame, m, "embedding", "p")
      .select("vec_id", "p").as[(Long, Double)].collect().toMap
    emb.foreach { case (id, x) =>
      assert(math.abs(got(id) - m.predictProb(x)) < eps, s"vec $id")
    }
  }

  test("conv-softmax compiles (staged) to its predictLabel") {
    val m = ConvSoftmaxModel.init(8, 8, 3, 3, nFilters = 2, nClasses = 3, seed = 127L)
    val got = ModelExpressions.scoreLabel(frame, m, "embedding", "cls")
      .select("vec_id", "cls").as[(Long, Double)].collect().toMap
    emb.foreach { case (id, x) =>
      assert(got(id) == m.predictLabel(x), s"vec $id: ${got(id)} vs ${m.predictLabel(x)}")
    }
    // scoreProb on the SAME softmax model has probability semantics
    // (max class probability), never a class id — the r13-advice split:
    // outCol meaning is fixed by the API, not the model's runtime type
    val probs = ModelExpressions.scoreProb(frame, m, "embedding", "p")
      .select("vec_id", "p").as[(Long, Double)].collect().toMap
    emb.foreach { case (id, x) =>
      val want = m.predictClassProbs(x).max
      assert(math.abs(probs(id) - want) < eps, s"vec $id maxprob")
      assert(probs(id) >= 1.0 / 3 - eps && probs(id) <= 1.0 + eps)
    }
  }

  test("binary labelColumn is the 0.5-thresholded predictLabel") {
    val m = LinearModel.init(64, seed = 131L)
    val got = frame
      .select(col("vec_id"), ModelExpressions.labelColumn(m, col("embedding")).as("l"))
      .as[(Long, Double)].collect().toMap
    emb.foreach { case (id, x) => assert(got(id) == m.predictLabel(x)) }
  }

  test("a TRAINED model round-trips through the compiler (train -> compile -> score)") {
    // the production loop: distributed training, then the trained
    // weights compiled straight into the plan
    val rnd = new scala.util.Random(17)
    val fixture = (0 until 200).map { i =>
      val y = i % 2
      val x = Array.fill(8)(rnd.nextDouble() + (if (y == 1) 0.8 else 0.0))
      (x.toSeq, y.toDouble)
    }.toDF("features", "label")
    val m = Trainers.trainDistributedModel(fixture, "features", "label",
      LinearModel.init(8, seed = 7L), numWorkers = 4, epochs = 20, lr = 0.5)
    val scored = fixture
      .select(col("label"), ModelExpressions.labelColumn(m, col("features")).as("pred"))
      .as[(Double, Double)].collect()
    val acc = scored.count { case (y, p) => y == p }.toDouble / scored.length
    assert(acc > 0.9, s"compiled trained model accuracy $acc")
  }

  test("the FULL production loop: distributed train -> save -> arch-infer load -> compile -> score") {
    // the complete user story the reference serves with pickled Keras
    // models + rdd.map scoring, end to end on the Spark-native path
    val rnd = new scala.util.Random(23)
    val fixture = rnd.shuffle((0 until 384).map { i =>
      val img = Array.fill(64)(rnd.nextDouble() * 0.3)
      val y = i % 3
      if (y > 0) {
        val r = if (y == 1) rnd.nextInt(2) else 4 + rnd.nextInt(2)
        val c = rnd.nextInt(6)
        for (dr <- 0 until 3; dc <- 0 until 3)
          img((r + dr) * 8 + (c + dc)) = 0.8 + rnd.nextDouble() * 0.2
      }
      (img.toSeq, y.toDouble)
    }).toDF("features", "label")
    val trained = Trainers.trainDistributedModel(fixture, "features", "label",
      ConvSoftmaxModel.init(8, 8, 3, 3, nFilters = 2, nClasses = 3, seed = 5L),
      numWorkers = 4, epochs = 40, lr = 0.3)
    val path = java.nio.file.Files.createTempDirectory("graft_loop").toString
    ModelIO.save(spark, trained.weights, path)
    val loaded = ModelIO.loadConvSoftmax(spark, path, 8, 8)
    val scored = ModelExpressions.scoreLabel(fixture, loaded, "features", "pred")
      .select(col("label"), col("pred")).as[(Double, Double)].collect()
    val acc = scored.count { case (y, p) => y == p }.toDouble / scored.length
    assert(acc > 0.85, s"full-loop accuracy $acc")
    // the compiled scorer agrees with the loaded model's own argmax
    val sample = fixture.limit(50).select("features").as[Seq[Double]].collect()
    val byExpr = ModelExpressions.scoreLabel(fixture.limit(50), loaded, "features", "p")
      .select("p").as[Double].collect()
    sample.zip(byExpr).foreach { case (x, p) =>
      assert(p == loaded.predictLabel(x.toArray))
    }
  }

  test("compiled scorers stay inside whole-stage codegen (no UDF, no mapPartitions)") {
    val m = ConvSoftmaxModel.init(8, 8, 3, 3, 2, 3, seed = 137L)
    val plan = ModelExpressions.scoreLabel(frame, m, "embedding", "cls")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython") &&
      !plan.contains("MapPartitions"), s"non-codegen stage in:\n$plan")
    val plan2 = frame.select(ModelExpressions.probColumn(
        DeepMlpModel.init(64, Seq(4, 3), seed = 139L), col("embedding")))
      .queryExecution.executedPlan.toString
    assert(!plan2.contains("ScalaUDF") && !plan2.contains("MapPartitions"))
  }
}
