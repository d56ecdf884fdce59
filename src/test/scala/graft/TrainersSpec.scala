package graft

import graft.ml._

/** Training semantics (SURVEY.md §5.2 item 4): convergence on a
  * linearly-separable fixture, determinism given a seed, and the
  * degenerate equivalences that pin the sync-averaging redesign to the
  * reference's semantics. */
class TrainersSpec extends SparkSpec {
  import spark.implicits._

  /** linsep fixture: y = 1 iff x0 + x1 > 1 (margin 0.2 around boundary). */
  private lazy val linsep = {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 256).map { _ =>
      val x0 = rnd.nextDouble() * 2
      val x1 = rnd.nextDouble() * 2
      val s = x0 + x1
      if (s > 0.9 && s < 1.1) None
      else Some((Seq(x0, x1), if (s >= 1.0) 1.0 else 0.0))
    }.flatten
    rows.toDF("features", "label")
  }

  test("SingleTrainer converges: accuracy > 0.95 on separable data") {
    val m = Trainers.trainSingle(linsep, "features", "label", dim = 2, epochs = 40, lr = 0.8, batchSize = 16)
    val scored = Predictor.predictLinear(linsep, m, "features", "margin")
      .selectExpr("CASE WHEN margin >= 0 THEN 1.0 ELSE 0.0 END AS pred", "label")
    val acc = Evaluator.accuracy(scored, "pred", "label")
    assert(acc > 0.95, s"accuracy $acc")
  }

  test("SingleTrainer loss decreases over epochs") {
    def loss(m: LinearModel): Double = {
      val data = linsep.as[(Seq[Double], Double)].collect()
      data.map { case (x, y) => m.logLoss(x.toArray, y) }.sum / data.length
    }
    val l0 = loss(Trainers.trainSingle(linsep, "features", "label", 2, epochs = 1, lr = 0.5))
    val l5 = loss(Trainers.trainSingle(linsep, "features", "label", 2, epochs = 5, lr = 0.5))
    val l20 = loss(Trainers.trainSingle(linsep, "features", "label", 2, epochs = 20, lr = 0.5))
    assert(l5 < l0 && l20 < l5, s"loss not decreasing: $l0 -> $l5 -> $l20")
  }

  test("distributed averaging with 1 partition == SingleTrainer") {
    val single = Trainers.trainSingle(linsep, "features", "label", 2, epochs = 3, lr = 0.5)
    val dist = Trainers.trainDistributed(linsep, "features", "label", 2,
      numWorkers = 1, epochs = 3, lr = 0.5, rule = Trainers.Averaging)
    assert(single.weights.flat.zip(dist.weights.flat).forall {
      case (a, b) => math.abs(a - b) < 1e-12
    })
  }

  test("every update rule converges on separable data") {
    val rules: Seq[(String, Trainers.UpdateRule)] = Seq(
      "averaging" -> Trainers.Averaging,
      "downpour" -> Trainers.Downpour,
      "elastic" -> Trainers.ElasticAverage(0.5),
      "eamsgd" -> Trainers.ElasticAverageMomentum(0.5, 0.5),
      "adag" -> Trainers.Adag(),
      "dynsgd" -> Trainers.DynSgd)
    rules.foreach { case (name, rule) =>
      val m = Trainers.trainDistributed(linsep, "features", "label", 2,
        numWorkers = 4, epochs = 25, lr = 0.8, rule = rule)
      val scored = Predictor.predictLinear(linsep, m, "features", "margin")
        .selectExpr("CASE WHEN margin >= 0 THEN 1.0 ELSE 0.0 END AS pred", "label")
      val acc = Evaluator.accuracy(scored, "pred", "label")
      assert(acc > 0.9, s"$name accuracy $acc")
    }
  }

  test("training is deterministic given a seed") {
    def run() = Trainers.trainDistributed(linsep, "features", "label", 2,
      numWorkers = 4, epochs = 3, lr = 0.5, seed = 11L).weights.flat.toSeq
    assert(run() == run())
  }

  test("averaging identical models is the identity") {
    val m = ModelWeights(Seq((2, 3)), Array(1.0, 2, 3, 4, 5, 6))
    assert(ModelWeights.average(Seq(m, m, m)).flat.toSeq == m.flat.toSeq)
  }

  test("ModelIO: trained MLP weights round-trip bit-exactly through parquet") {
    val trained = Trainers.trainDistributedModel(xor, "features", "label",
      DeepMlpModel.init(2, Seq(4), seed = 7L), numWorkers = 2, epochs = 3, lr = 0.5)
    val dir = java.nio.file.Files.createTempDirectory("graft_model").toString + "/m"
    ModelIO.save(spark, trained.weights, dir)
    val back = ModelIO.load(spark, dir)
    assert(back.shapes == trained.weights.shapes)
    assert(back.flat.toSeq == trained.weights.flat.toSeq) // bit-exact doubles
    // a model rebuilt from disk scores identically
    val rebuilt = trained.withWeights(back)
    val x = Array(0.3, 0.7)
    assert(rebuilt.predictProb(x) == trained.predictProb(x))
    // a file in the 4-shape one-hidden-layer layout, written from its
    // explicit shape list, loads through the layered loader bit-exactly
    val fourShape = ModelWeights(Seq((4, 2), (4, 1), (1, 4), (1, 1)), trained.weights.flat)
    ModelIO.save(spark, fourShape, dir)
    val typed = ModelIO.loadDeepMlp(spark, dir)
    assert(typed.din == 2 && typed.hiddens == Seq(4))
    assert(typed.weights.shapes == fourShape.shapes)
    assert(bits(typed.weights.flat) == bits(trained.weights.flat))
    assert(typed.predictProb(x) == trained.predictProb(x))
    // and refuses a mismatched family
    intercept[IllegalArgumentException] {
      ModelIO.loadLinear(spark, dir)
    }
  }

  test("ModelWeights layer round-trip and serializability") {
    val m = ModelWeights(Seq((2, 3), (1, 2)), Array(1.0, 2, 3, 4, 5, 6, 7, 8))
    val layers = m.layers
    assert(layers.head.map(_.toSeq).toSeq == Seq(Seq(1.0, 2, 3), Seq(4.0, 5, 6)))
    assert(layers(1).head.toSeq == Seq(7.0, 8))
    // closure-serializable (ships into tasks the way broadcasts do)
    val bytes = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bytes).writeObject(m)
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray)).readObject().asInstanceOf[ModelWeights]
    assert(back.flat.toSeq == m.flat.toSeq && back.shapes == m.shapes)
  }

  test("ensemble trainer: members differ, ensemble accuracy high") {
    val models = Trainers.trainEnsemble(linsep, "features", "label", 2,
      numModels = 4, epochs = 10, lr = 0.8)
    assert(models.size == 4)
    val data = linsep.as[(Seq[Double], Double)].collect()
    val acc = data.count { case (x, y) =>
      (if (Trainers.ensemblePredict(models, x.toArray) >= 0.5) 1.0 else 0.0) == y
    }.toDouble / data.length
    assert(acc > 0.9, s"ensemble accuracy $acc")
  }

  /** XOR fixture: NOT linearly separable — the canonical case a linear
    * model cannot learn (accuracy stuck ≈ 0.5) and a 1-hidden-layer MLP
    * can. 256 points around the four corners, small uniform jitter. */
  private lazy val xor = {
    val rnd = new scala.util.Random(13)
    val rows = (0 until 256).map { _ =>
      val cx = rnd.nextInt(2)
      val cy = rnd.nextInt(2)
      val x0 = cx + (rnd.nextDouble() - 0.5) * 0.3
      val x1 = cy + (rnd.nextDouble() - 0.5) * 0.3
      (Seq(x0, x1), if (cx != cy) 1.0 else 0.0)
    }
    rows.toDF("features", "label")
  }

  private def xorAccuracy(m: ml.DiffModel): Double = {
    val data = xor.as[(Seq[Double], Double)].collect()
    data.count { case (x, y) => m.predictLabel(x.toArray) == y }
      .toDouble / data.length
  }

  test("MLP learns XOR with sync averaging (linear model provably cannot)") {
    val linear = Trainers.trainDistributed(xor, "features", "label", 2,
      numWorkers = 4, epochs = 60, lr = 0.8, rule = Trainers.Averaging)
    val linAcc = xorAccuracy(linear)
    assert(linAcc < 0.8, s"linear model should NOT learn XOR, got $linAcc")

    val mlp = Trainers.trainDistributedModel(xor, "features", "label",
      DeepMlpModel.init(din = 2, hiddens = Seq(8), seed = 5L),
      numWorkers = 4, epochs = 150, lr = 0.8, rule = Trainers.Averaging)
    val acc = xorAccuracy(mlp)
    assert(acc > 0.95, s"MLP XOR accuracy $acc")
  }

  test("MLP learns XOR with an async-derived rule (Adag)") {
    val mlp = Trainers.trainDistributedModel(xor, "features", "label",
      DeepMlpModel.init(din = 2, hiddens = Seq(8), seed = 5L),
      numWorkers = 4, epochs = 150, lr = 0.8, rule = Trainers.Adag())
    val acc = xorAccuracy(mlp)
    assert(acc > 0.95, s"MLP+Adag XOR accuracy $acc")
  }

  test("MLP training is deterministic given a seed") {
    def run() = Trainers.trainDistributedModel(xor, "features", "label",
      DeepMlpModel.init(2, Seq(4), seed = 11L), numWorkers = 4, epochs = 3, lr = 0.5)
      .weights.flat.toSeq
    assert(run() == run())
  }

  test("MLP gradient matches finite differences") {
    val m = DeepMlpModel.init(din = 3, hiddens = Seq(4), seed = 99L)
    val x = Array(0.3, -1.2, 0.7)
    val y = 1.0
    val g = m.gradient(x, y)
    val eps = 1e-6
    (0 until m.weights.flat.length).foreach { i =>
      val up = m.weights.flat.clone(); up(i) += eps
      val dn = m.weights.flat.clone(); dn(i) -= eps
      val num = (m.withWeights(m.weights.copy(flat = up)).logLoss(x, y) -
        m.withWeights(m.weights.copy(flat = dn)).logLoss(x, y)) / (2 * eps)
      assert(math.abs(num - g(i)) < 1e-5,
        s"grad mismatch at $i: analytic ${g(i)} vs numeric $num")
    }
  }

  test("training report: per-epoch loss history descends, wall time recorded") {
    val report = Trainers.trainDistributedWithHistory(linsep, "features", "label",
      LinearModel.init(2, seed = 42L), numWorkers = 4, epochs = 10, lr = 0.8)
    assert(report.epochLoss.length == 10)
    assert(report.epochLoss.last < report.epochLoss.head,
      s"loss did not decrease: ${report.epochLoss}")
    assert(report.seconds > 0.0)
    // the reported model matches plain training with identical settings
    val plain = Trainers.trainDistributed(linsep, "features", "label", 2,
      numWorkers = 4, epochs = 10, lr = 0.8)
    assert(report.model.weights.flat.toSeq == plain.weights.flat.toSeq)
  }

  test("batched predictor scores an MLP (model-agnostic plumbing)") {
    val mlp = DeepMlpModel.init(din = 2, hiddens = Seq(4), seed = 7L)
    val bc = spark.sparkContext.broadcast(mlp)
    val scored = Predictor.predictBatched(xor, bc, "features", "p")
      .select("p").as[Double].collect()
    val local = xor.as[(Seq[Double], Double)].collect()
      .map { case (x, _) => mlp.predictProb(x.toArray) }
    assert(scored.sorted.zip(local.sorted).forall {
      case (a, b) => math.abs(a - b) < 1e-12
    })
  }

  test("batched predictor matches expression predictor") {
    val m = Trainers.trainSingle(linsep, "features", "label", 2, epochs = 3, lr = 0.5)
    val bc = spark.sparkContext.broadcast(m)
    val viaExpr = Predictor.predictLinear(linsep, m, "features", "margin")
      .selectExpr("1.0/(1.0+exp(-margin)) AS p").as[Double].collect().sorted
    val viaBatch = Predictor.predictBatched(linsep, bc, "features", "p")
      .select("p").as[Double].collect().sorted
    viaExpr.zip(viaBatch).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  test("applyStats ≡ apply for every rule (the merged-path contract)") {
    val rnd = new scala.util.Random(19)
    val dim = 7
    val center = ModelWeights(Seq((1, dim)), Array.fill(dim)(rnd.nextGaussian()))
    val locals = (0 until 5).map { _ =>
      (ModelWeights(Seq((1, dim)), Array.fill(dim)(rnd.nextGaussian())),
        (rnd.nextInt(40) + 1).toLong)
    }
    val stats = locals.map { case (w, n) => Trainers.MergeStats.of(w, n) }
      .reduce(_.merge(_))
    val rules: Seq[(String, Trainers.UpdateRule)] = Seq(
      "averaging" -> Trainers.Averaging,
      "downpour" -> Trainers.Downpour,
      "elastic" -> Trainers.ElasticAverage(0.4),
      "eamsgd" -> Trainers.ElasticAverageMomentum(0.4, 0.7),
      "adag" -> Trainers.Adag(),
      "dynsgd" -> Trainers.DynSgd)
    rules.foreach { case (name, rule) =>
      // rule state is mutated by both paths: give each its own copy
      val viaSeq = rule(center, locals, Array.fill(dim)(0.25))
      val viaStats = rule.applyStats(center, stats, Array.fill(dim)(0.25))
      viaSeq.flat.zip(viaStats.flat).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-12, s"$name: $a vs $b")
      }
    }
  }

  test("treeFold: ≤ mergeFanIn partials on the driver, in-order fold, reproducible") {
    val sc = spark.sparkContext
    val p = 64
    val rdd = sc.parallelize((0 until p).map(i => (i, Seq(i))), p)
    val (fold, nPartials) =
      Trainers.treeFold[Seq[Int]](rdd, p, (a, b) => a ++ b)
    // the driver never materializes one payload per partition
    assert(nPartials <= Trainers.mergeFanIn,
      s"driver saw $nPartials partials for $p partitions")
    // the grouped fold preserves partition-index order end to end
    assert(fold.get == (0 until p))
    // empty contributions disappear without poisoning the fold
    val sparse = sc.parallelize(Seq(5, 17, 40).map(i => (i, Seq(i))), 3)
    assert(Trainers.treeFold[Seq[Int]](sparse, p, (a, b) => a ++ b)
      ._1.get == Seq(5, 17, 40))
    assert(Trainers.treeFold[Seq[Int]](
      sc.emptyRDD[(Int, Seq[Int])], p, (a, b) => a ++ b)._1.isEmpty)
  }

  test("early stop on a NaN/Inf validation curve still returns a valid bestEpoch") {
    // lr absurdly large: weights overflow, validation loss goes Inf/NaN
    // from epoch 0 — bestEpoch must be a real index (the first epoch),
    // never -1 / the silent untrained init (r13 advice)
    val r = Trainers.trainWithEarlyStopping(linsep, "features", "label",
      linsep, LinearModel.init(2, seed = 3L),
      numWorkers = 4, maxEpochs = 10, lr = 1e12, patience = 2)
    assert(r.bestEpoch >= 0 && r.bestEpoch < r.valLoss.length,
      s"bestEpoch ${r.bestEpoch}, curve ${r.valLoss}")
  }

  private def bits(a: Iterable[Double]): Seq[Long] =
    a.map(java.lang.Double.doubleToRawLongBits).toSeq

  /** 30 rows in 3 classes: small enough that 40 workers leave some
    * partitions empty. */
  private lazy val small = {
    val rnd = new scala.util.Random(23)
    (0 until 30).map { i =>
      val k = i % 3
      (Seq(k + rnd.nextDouble() * 0.6, rnd.nextDouble() - k * 0.5), k.toDouble)
    }.toDF("features", "label")
  }

  test("fused loss probe == epochRound then a separate meanLoss, bit for bit") {
    val init = SoftmaxMlpModel.init(2, Seq(5), 3, seed = 11L)
    val (epochs, lr, batch) = (4, 0.5, 4)
    for (nw <- Seq(1, 3, 4, 40)) {
      val fused = Trainers.trainDistributedWithHistory(small, "features", "label",
        init, numWorkers = nw, epochs = epochs, lr = lr, batchSize = batch)
      val data = Trainers.toExamples(small, "features", "label")
        .repartition(nw).persist()
      try {
        if (nw == 40) {
          assert(data.mapPartitions(it => Iterator(it.size)).collect().contains(0),
            "40 workers over 30 rows must leave a partition empty")
          assert(nw > Trainers.mergeFanIn, "40 workers must take the bucketed tree")
        }
        var center: DiffModel = init
        val state = new Array[Double](init.weights.flat.length)
        val losses = (0 until epochs).map { _ =>
          center = Trainers.epochRound(data, center, Trainers.Averaging, state,
            lr, batch)._1
          Trainers.meanLoss(data, center)
        }
        assert(bits(fused.epochLoss) == bits(losses), s"numWorkers=$nw")
        assert(bits(fused.model.weights.flat) == bits(center.weights.flat),
          s"numWorkers=$nw")
      } finally data.unpersist()
    }
  }

  test("E epochs with history run E+1 jobs; treeFold under mergeFanIn shuffles nothing") {
    for (epochs <- Seq(1, 3)) {
      val jobs = jobsOf(Trainers.trainDistributedWithHistory(linsep, "features",
        "label", LinearModel.init(2, seed = 42L), numWorkers = 4, epochs = epochs))
      assert(jobs.size == epochs + 1, s"$epochs epochs ran ${jobs.size} jobs")
    }
    val sc = spark.sparkContext
    for (p <- Seq(1, 4, Trainers.mergeFanIn)) {
      val rdd = sc.parallelize((0 until p).map(i => (i, Seq(i))), p)
      var fold: Option[Seq[Int]] = None
      val jobs = jobsOf {
        fold = Trainers.treeFold[Seq[Int]](rdd, p, (a, b) => a ++ b)._1
      }
      assert(fold.contains(0 until p))
      assert(jobs.size == 1, s"P=$p ran ${jobs.size} jobs")
      // a job's stages are its result stage plus one per shuffle it runs
      assert(jobs.head.stageInfos.size == 1, s"P=$p ran a shuffle-map stage")
    }
    // past mergeFanIn the bucketed tree keeps its shuffle
    val p = 64
    val rdd = sc.parallelize((0 until p).map(i => (i, Seq(i))), p)
    val jobs = jobsOf(Trainers.treeFold[Seq[Int]](rdd, p, (a, b) => a ++ b))
    assert(jobs.map(_.stageInfos.size) == Seq(2))
  }

  test("E epochs without history run E jobs") {
    for (epochs <- Seq(1, 3)) {
      val jobs = jobsOf(Trainers.trainDistributedModel(linsep, "features",
        "label", LinearModel.init(2, seed = 42L), numWorkers = 4, epochs = epochs))
      assert(jobs.size == epochs, s"$epochs epochs ran ${jobs.size} jobs")
    }
  }

  test("early stopping runs 2 jobs per epoch it trains") {
    // lr = 1e12 overflows the loss from epoch 0 on, so patience = 1
    // fires after the second epoch
    for ((lr, stops) <- Seq((0.5, false), (1e12, true))) {
      var r: Trainers.EarlyStopReport[LinearModel] = null
      val jobs = jobsOf {
        r = Trainers.trainWithEarlyStopping(linsep, "features", "label", linsep,
          LinearModel.init(2, seed = 3L), numWorkers = 4, maxEpochs = 3, lr = lr,
          patience = 1)
      }
      assert(r.stoppedEarly == stops, s"lr $lr: curve ${r.valLoss}")
      assert(jobs.size == 2 * r.valLoss.length,
        s"lr $lr: ${r.valLoss.length} epochs ran ${jobs.size} jobs")
    }
  }

  test("no trainer mutates the init model's weights") {
    // in local mode every task of an epoch reads the SAME broadcast
    // object, so a trainer that stepped the broadcast weights in place
    // would corrupt the center (and the caller's init) mid-epoch
    val init = SoftmaxMlpModel.init(2, Seq(5), 2, seed = 13L)
    val before = bits(init.weights.flat)
    def unchanged(trainer: String): Unit =
      assert(bits(init.weights.flat) == before, s"$trainer mutated init")
    Trainers.trainSingleModel(linsep, "features", "label", init, epochs = 2)
    unchanged("single")
    Trainers.trainDistributedModel(linsep, "features", "label", init,
      numWorkers = 4, epochs = 2)
    unchanged("distributed")
    Trainers.trainDistributedWithHistory(linsep, "features", "label", init,
      numWorkers = 4, epochs = 2)
    unchanged("with-history")
    Trainers.trainEnsembleModel(linsep, "features", "label", init,
      numModels = 3, epochs = 2)
    unchanged("ensemble")
    Trainers.trainWithEarlyStopping(linsep, "features", "label", linsep, init,
      numWorkers = 4, maxEpochs = 3)
    unchanged("early stopping")
  }
}
