package graft

import graft.ml._

/** Early-stopped validation training — the reference workflow's
  * model-selection loop (train split / held-out split, stop when the
  * held-out loss stops improving, keep the best epoch's weights). */
class EarlyStoppingSpec extends SparkSpec {
  import spark.implicits._

  /** Separable 2-D blobs split 80/20 by row index (deterministic). */
  private lazy val (train, valid) = {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      val y = i % 2
      val cx = if (y == 1) 1.5 else -1.5
      (Seq(cx + rnd.nextGaussian() * 0.6, cx + rnd.nextGaussian() * 0.6), y.toDouble)
    }
    val (t, v) = rows.zipWithIndex.partition(_._2 % 5 != 0)
    (t.map(_._1).toDF("features", "label"),
      v.map(_._1).toDF("features", "label"))
  }

  test("a divergent run stops early and returns the BEST epoch, not the last") {
    // lr = 30 on this fixture oscillates: the validation loss bottoms
    // out early then blows up, so patience must fire and the returned
    // model must be the argmin of the recorded curve
    val r = Trainers.trainWithEarlyStopping(train, "features", "label",
      valid, LinearModel.init(2, seed = 3L),
      numWorkers = 4, maxEpochs = 40, lr = 30.0, patience = 3)
    assert(r.stoppedEarly, s"expected early stop; curve ${r.valLoss}")
    assert(r.valLoss.length < 40)
    assert(r.bestEpoch == r.valLoss.indexOf(r.valLoss.min))
    // the returned weights really are the best epoch's: re-evaluating
    // them on the validation set reproduces the recorded minimum
    val rows = valid.as[(Seq[Double], Double)].collect()
    val replayed = rows.map { case (x, y) =>
      r.model.logLoss(x.toArray, y)
    }.sum / rows.length
    assert(math.abs(replayed - r.valLoss.min) < 1e-9,
      s"returned model loss $replayed vs recorded best ${r.valLoss.min}")
  }

  test("a converging run is not cut off prematurely and reaches high accuracy") {
    val r = Trainers.trainWithEarlyStopping(train, "features", "label",
      valid, LinearModel.init(2, seed = 3L),
      numWorkers = 4, maxEpochs = 15, lr = 0.5, patience = 5)
    val rows = valid.as[(Seq[Double], Double)].collect()
    val acc = rows.count { case (x, y) =>
      r.model.predictLabel(x.toArray) == y
    }.toDouble / rows.length
    assert(acc > 0.9, s"early-stopped accuracy $acc; curve ${r.valLoss}")
    // the best epoch is a real index into the curve
    assert(r.bestEpoch >= 0 && r.bestEpoch < r.valLoss.length)
  }

  test("early stopping is deterministic given the seed") {
    def run() = {
      val r = Trainers.trainWithEarlyStopping(train, "features", "label",
        valid, LinearModel.init(2, seed = 11L),
        numWorkers = 4, maxEpochs = 10, lr = 0.5, patience = 3)
      (r.valLoss, r.bestEpoch, r.stoppedEarly, r.model.weights.flat.toSeq)
    }
    assert(run() == run())
  }

  test("works for the nonlinear members of the zoo through the same harness") {
    val r = Trainers.trainWithEarlyStopping(train, "features", "label",
      valid, DeepMlpModel.init(din = 2, hiddens = Seq(4), seed = 5L),
      numWorkers = 4, maxEpochs = 20, lr = 0.5, patience = 5)
    val rows = valid.as[(Seq[Double], Double)].collect()
    val acc = rows.count { case (x, y) =>
      r.model.predictLabel(x.toArray) == y
    }.toDouble / rows.length
    assert(acc > 0.9, s"MLP early-stopped accuracy $acc")
  }
}
