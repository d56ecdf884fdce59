package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Data-parallel trainers — the redesign of the reference's trainer zoo
  * (`distkeras/trainers.py [H]`, `workers.py [H]`,
  * `parameter_servers.py [H]`).
  *
  * The reference runs an ASYNC parameter server: a driver-hosted TCP
  * socket server, one thread per worker, workers pushing pickled weight
  * deltas mid-epoch (`networking.py [H]`). That transport is
  * nondeterministic, unfaultolerant, and caps out at O(10) workers. Our
  * design keeps the *update mathematics* of each algorithm but runs them
  * as SYNCHRONOUS epochs (SURVEY.md §2.A DistributedTrainer row):
  *
  *   per epoch:  broadcast center weights
  *               → mapPartitions: local minibatch SGD per partition,
  *                 on a task-local copy of the weights stepped in place
  *               → [[treeFold]] the per-partition results in partition
  *                 order: collected and folded on the driver when there
  *                 are ≤ [[mergeFanIn]] partitions, else first folded
  *                 into ≤ [[mergeFanIn]] contiguous buckets on executors
  *               → driver applies the [[UpdateRule]] to move the center
  *
  * That is one Spark job per epoch, run by ONE loop, [[trainLoop]], for
  * every trainer that merges; the dist-keras entry points are thin
  * wrappers over it. Recording the loss curve adds no job per epoch:
  * each epoch's pass also scores the center it broadcasts (the previous
  * epoch's result), and one loss pass after the last epoch scores the
  * final center — E+1 jobs for E epochs.
  *
  * Every boundary is a Spark-managed stage, so training is
  * deterministic given a seed, straggler-tolerant (speculation), and
  * scales with the shuffle system rather than a single PS socket. The
  * async rules (DOWNPOUR, AEASGD/EAMSGD, ADAG, DynSGD) survive as
  * pluggable center-update rules — documented divergence, not a port
  * gap (their async-staleness behavior is intentionally not reproduced;
  * DynSGD's staleness term degenerates to 0 in sync form).
  */
object Trainers {

  /** Associative sufficient statistics of the per-partition training
    * results — everything any [[UpdateRule]] consumes: Σ wᵢ, Σ nᵢ·wᵢ,
    * Σ nᵢ, and the participating-partition count. Folding THESE instead
    * of collecting one weight vector per partition keeps the driver's
    * merge memory at O([[mergeFanIn]]·|w|) regardless of cluster size
    * (r13 verdict item 5: the old per-partition collect was O(P·|w|)
    * at 10⁴–10⁵ partitions). */
  final case class MergeStats(sumW: Array[Double], sumNW: Array[Double],
                              nExamples: Long, nParts: Long) {
    /** In-place element-wise fold (left operand mutated and returned —
      * each merge node owns its accumulator). */
    def merge(o: MergeStats): MergeStats = {
      var i = 0
      while (i < sumW.length) {
        sumW(i) += o.sumW(i); sumNW(i) += o.sumNW(i); i += 1
      }
      MergeStats(sumW, sumNW, nExamples + o.nExamples, nParts + o.nParts)
    }
  }

  object MergeStats {
    def of(w: ModelWeights, n: Long): MergeStats = {
      val f = w.flat
      MergeStats(f.clone(), Array.tabulate(f.length)(i => f(i) * n), n, 1L)
    }
  }

  /** How the driver folds per-partition results into the center —
    * the sync forms of `distkeras/trainers.py` algorithms. */
  sealed trait UpdateRule {
    /** Semantic definition over the explicit per-partition list (the
      * spec surface; the distributed path uses [[applyStats]]).
      * @param center  weights broadcast at epoch start
      * @param locals  per-partition (trained weights, example count)
      * @param state   accumulated rule state (e.g. Adag magnitudes) */
    def apply(center: ModelWeights, locals: Seq[(ModelWeights, Long)],
              state: Array[Double]): ModelWeights

    /** The same update from the tree-merged sufficient statistics —
      * equal to [[apply]] up to float re-association (each rule is a
      * function of Σwᵢ / Σnᵢwᵢ / Σnᵢ / P only; pinned by spec). */
    def applyStats(center: ModelWeights, stats: MergeStats,
                   state: Array[Double]): ModelWeights
  }

  /** Plain parameter averaging, example-count weighted —
    * `AveragingTrainer/EnsembleTrainer (~L150-260) [H]`. */
  case object Averaging extends UpdateRule {
    def apply(c: ModelWeights, locals: Seq[(ModelWeights, Long)],
              state: Array[Double]): ModelWeights = {
      val total = locals.map(_._2).sum.toDouble.max(1.0)
      locals.map { case (m, n) => m * (n / total) }.reduce(_ + _)
    }
    def applyStats(c: ModelWeights, s: MergeStats,
                   state: Array[Double]): ModelWeights = {
      val total = s.nExamples.toDouble.max(1.0)
      c.copy(flat = s.sumNW.map(_ / total))
    }
  }

  /** DOWNPOUR (Dean et al. 2012; `trainers.py ~L380-420 [H]`): sync form
    * applies the mean of local deltas to the center. */
  case object Downpour extends UpdateRule {
    def apply(c: ModelWeights, locals: Seq[(ModelWeights, Long)],
              state: Array[Double]): ModelWeights = {
      val mean = ModelWeights.average(locals.map { case (m, _) => m - c })
      c + mean
    }
    def applyStats(c: ModelWeights, s: MergeStats,
                   state: Array[Double]): ModelWeights = {
      val p = s.nParts.toDouble
      // mean delta = Σwᵢ/P − c
      c.copy(flat = Array.tabulate(c.flat.length)(i =>
        c.flat(i) + (s.sumW(i) / p - c.flat(i))))
    }
  }

  /** Elastic averaging (Zhang/Choromanska/LeCun 2015; `trainers.py
    * ~L430-520 [H]`): center moves toward the local average with
    * elasticity alpha. */
  final case class ElasticAverage(alpha: Double = 0.5) extends UpdateRule {
    def apply(c: ModelWeights, locals: Seq[(ModelWeights, Long)],
              state: Array[Double]): ModelWeights = {
      val avg = ModelWeights.average(locals.map(_._1))
      c + (avg - c) * alpha
    }
    def applyStats(c: ModelWeights, s: MergeStats,
                   state: Array[Double]): ModelWeights = {
      val p = s.nParts.toDouble
      c.copy(flat = Array.tabulate(c.flat.length)(i =>
        c.flat(i) + (s.sumW(i) / p - c.flat(i)) * alpha))
    }
  }

  /** EAMSGD (`trainers.py ~L430-520 [H]`, `workers.py › EAMSGDWorker
    * [H]`): elastic averaging plus center-side momentum — the rule
    * state carries the velocity vector. */
  final case class ElasticAverageMomentum(alpha: Double = 0.5,
                                          momentum: Double = 0.9) extends UpdateRule {
    def apply(c: ModelWeights, locals: Seq[(ModelWeights, Long)],
              state: Array[Double]): ModelWeights = {
      val avg = ModelWeights.average(locals.map(_._1))
      val out = new Array[Double](c.flat.length)
      var i = 0
      while (i < out.length) {
        state(i) = momentum * state(i) + alpha * (avg.flat(i) - c.flat(i))
        out(i) = c.flat(i) + state(i)
        i += 1
      }
      c.copy(flat = out)
    }
    def applyStats(c: ModelWeights, s: MergeStats,
                   state: Array[Double]): ModelWeights = {
      val p = s.nParts.toDouble
      val out = new Array[Double](c.flat.length)
      var i = 0
      while (i < out.length) {
        state(i) = momentum * state(i) + alpha * (s.sumW(i) / p - c.flat(i))
        out(i) = c.flat(i) + state(i)
        i += 1
      }
      c.copy(flat = out)
    }
  }

  /** ADAG (accumulated-gradient normalization, Hermans;
    * `trainers.py ~L530-580 [H]` + `ADAGParameterServer [H]`): delta
    * scaled by 1/sqrt(accumulated squared delta + eps), element-wise. */
  final case class Adag(eps: Double = 1e-8) extends UpdateRule {
    def applyStats(c: ModelWeights, s: MergeStats,
                   state: Array[Double]): ModelWeights = {
      val p = s.nParts.toDouble
      var i = 0
      val out = new Array[Double](c.flat.length)
      while (i < out.length) {
        val d = s.sumW(i) / p - c.flat(i)
        state(i) += d * d
        out(i) = c.flat(i) + d / math.sqrt(state(i) + eps)
        i += 1
      }
      c.copy(flat = out)
    }
    def apply(c: ModelWeights, locals: Seq[(ModelWeights, Long)],
              state: Array[Double]): ModelWeights = {
      val delta = ModelWeights.average(locals.map { case (m, _) => m - c })
      var i = 0
      val out = new Array[Double](c.flat.length)
      while (i < out.length) {
        state(i) += delta.flat(i) * delta.flat(i)
        out(i) = c.flat(i) + delta.flat(i) / math.sqrt(state(i) + eps)
        i += 1
      }
      c.copy(flat = out)
    }
  }

  /** DynSGD (Jiang et al., SIGMOD'17; `trainers.py ~L590-640 [H]`):
    * staleness-aware 1/(staleness+1) scaling — staleness ≡ 0 at a sync
    * barrier, so this is Downpour with scale 1; kept for rule parity. */
  case object DynSgd extends UpdateRule {
    def apply(c: ModelWeights, locals: Seq[(ModelWeights, Long)],
              state: Array[Double]): ModelWeights =
      Downpour(c, locals, state)
    def applyStats(c: ModelWeights, s: MergeStats,
                   state: Array[Double]): ModelWeights =
      Downpour.applyStats(c, s, state)
  }

  /** One local-SGD pass over a partition's rows, for ANY [[DiffModel]]
    * (the reference's worker loop, `workers.py › SGDWorker [H]`, is
    * likewise model-agnostic — it calls into the compiled model's
    * gradient). Deterministic: rows are consumed in partition order.
    * `init` is never mutated (in local mode it is the broadcast object
    * every task shares): the pass steps a task-local copy of its
    * weights in place, one minibatch at a time, and reuses one
    * gradient buffer for the whole pass. */
  private def localSgd(
      init: DiffModel, rows: Iterator[(Array[Double], Double)],
      lr: Double, batchSize: Int): (ModelWeights, Long) = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val w = init.weights.flat.clone()
    val m = init.withWeights(init.weights.copy(flat = w))
    val g = new Array[Double](w.length)
    var n = 0L
    var inBatch = 0
    def step(): Unit = {
      val scale = lr / inBatch
      var i = 0
      while (i < w.length) { w(i) = w(i) - scale * g(i); g(i) = 0.0; i += 1 }
      inBatch = 0
    }
    rows.foreach { case (x, y) =>
      m.addGradient(x, y, g)
      n += 1
      inBatch += 1
      if (inBatch == batchSize) step()
    }
    if (inBatch > 0) step()
    (m.weights, n)
  }

  /** Bounded fan-in for the distributed merge: at most this many
    * partial payloads (weight vectors / loss tuples) ever reach the
    * driver, regardless of cluster size. */
  val mergeFanIn = 32

  /** Deterministic two-level tree fold of per-partition contributions
    * (r13 verdict item 5 — the old path collected one weight vector PER
    * PARTITION to the driver: O(P·|w|) memory at 10⁴–10⁵ partitions).
    * Partitions group by index into ≤ [[mergeFanIn]] CONTIGUOUS buckets
    * (`bucket = pi·G/P`, monotone); each bucket folds its members IN
    * PARTITION-INDEX ORDER on an executor (the sort in
    * repartitionAndSortWithinPartitions); the driver folds the bucket
    * partials in bucket order. Every fold order is a pure function of
    * (P, G), so the float result is bit-reproducible run to run — the
    * property a plain treeAggregate (task-arrival combine order) does
    * NOT give, and the early-stop determinism contract needs.
    * With P ≤ [[mergeFanIn]] every bucket holds one partition, so the
    * partials are collected without the shuffle and folded on the
    * driver in partition-index order — the same fold, one stage fewer.
    * `contrib` holds at most one (partition index, value) per partition.
    * Returns (fold, number of partials materialized on the driver). */
  private[graft] def treeFold[T](
      contrib: RDD[(Int, T)], numParts: Int,
      merge: (T, T) => T)(
      implicit ct: scala.reflect.ClassTag[T]): (Option[T], Int) = {
    val g = math.max(1, math.min(numParts, mergeFanIn))
    val part = new org.apache.spark.Partitioner {
      def numPartitions: Int = g
      def getPartition(key: Any): Int =
        (key.asInstanceOf[Int].toLong * g / math.max(numParts, 1)).toInt
    }
    import org.apache.spark.rdd.RDD.rddToOrderedRDDFunctions
    val partials =
      if (g == numParts) contrib.collect()
      else contrib.repartitionAndSortWithinPartitions(part)
        .mapPartitionsWithIndex { (gi, it) =>
          if (it.isEmpty) Iterator.empty
          else {
            var acc = it.next()._2
            it.foreach { kv => acc = merge(acc, kv._2) }
            Iterator.single((gi, acc))
          }
        }.collect()
    (partials.sortBy(_._1).map(_._2).reduceOption(merge), partials.length)
  }

  /** One partition's share of an epoch: its SGD result (None when the
    * partition held no rows) and the broadcast center's summed log-loss
    * over the same rows (zero unless the round probes). */
  private final case class RoundStats(sgd: Option[MergeStats],
                                      lossSum: Double, lossN: Long) {
    def merge(o: RoundStats): RoundStats = RoundStats(
      (sgd, o.sgd) match {
        case (Some(a), Some(b)) => Some(a.merge(b))
        case (a, b) => a.orElse(b)
      },
      lossSum + o.lossSum, lossN + o.lossN)
  }

  /** ONE synchronous epoch of the distributed loop: broadcast the
    * center model, local minibatch SGD per partition, tree-fold the
    * per-partition [[MergeStats]] (never one vector per partition on
    * the driver), apply the update rule to move the center. Only
    * [[trainLoop]] calls it, so the SGD round exists exactly once.
    *
    * With `probe`, the same pass also sums the frozen broadcast
    * center's log-loss over each partition's rows, in row order, and
    * folds those sums exactly as [[meanLoss]] does: the second result
    * is then bit-identical to `meanLoss(data, center)`, without its
    * job. Without `probe` it is NaN. */
  private[graft] def epochRound(
      data: RDD[(Array[Double], Double)],
      center: DiffModel, rule: UpdateRule, state: Array[Double], lr: Double,
      batchSize: Int, probe: Boolean = false): (DiffModel, Double) = {
    val bc = data.sparkContext.broadcast(center)
    val contrib = data.mapPartitionsWithIndex { (pi, it) =>
      val frozen = bc.value
      var s = 0.0; var k = 0L
      val rows = if (!probe) it else it.map { r =>
        s += frozen.logLoss(r._1, r._2); k += 1; r
      }
      val (w, n) = localSgd(frozen, rows, lr, batchSize)
      Iterator.single((pi,
        RoundStats(if (n == 0) None else Some(MergeStats.of(w, n)), s, k)))
    }
    val (merged, _) = treeFold[RoundStats](contrib, data.getNumPartitions, _.merge(_))
    bc.destroy()
    val next = merged.flatMap(_.sgd).fold(center)(s =>
      center.withWeights(rule.applyStats(center.weights, s, state)))
    val loss =
      if (!probe) Double.NaN
      else merged.filter(_.lossN > 0).fold(0.0)(r => r.lossSum / r.lossN)
    (next, loss)
  }

  /** Mean log-loss of `model` over `data` through the same
    * deterministic [[treeFold]] — per-partition (sum, count) tuples
    * combined in a fixed order, so the float total (and with it an
    * early-stop decision at the ulp margin) cannot vary run-to-run on
    * identical data. */
  private[graft] def meanLoss(
      data: RDD[(Array[Double], Double)],
      model: DiffModel): Double = {
    val bc = data.sparkContext.broadcast(model)
    val contrib = data.mapPartitionsWithIndex { (pi, it) =>
      val m = bc.value
      var s = 0.0; var k = 0L
      it.foreach { case (x, y) => s += m.logLoss(x, y); k += 1 }
      Iterator.single((pi, (s, k)))
    }
    val (merged, _) = treeFold[(Double, Long)](contrib, data.getNumPartitions,
      (a, b) => (a._1 + b._1, a._2 + b._2))
    bc.destroy()
    merged match {
      case Some((s, k)) if k > 0 => s / k
      case _ => 0.0
    }
  }

  private[graft] def toExamples(df: DataFrame, featuresCol: String, labelCol: String) = {
    df.select(col(featuresCol), col(labelCol).cast("double"))
      .rdd.map { r: Row => (Predictor.decodeFeatures(r.getSeq[Any](0)), r.getDouble(1)) }
  }

  /** Runs `body` on the examples of `df` in `numWorkers` persisted
    * partitions, and unpersists them after. */
  private def withExamples[T](df: DataFrame, featuresCol: String, labelCol: String,
                              numWorkers: Int)(body: RDD[(Array[Double], Double)] => T): T = {
    val data = toExamples(df, featuresCol, labelCol).repartition(numWorkers).persist()
    try body(data) finally data.unpersist()
  }

  /** The epoch loop of every merging trainer ([[trainSingleModel]] and
    * [[trainEnsembleModel]] never merge and keep their own): up to
    * `maxEpochs` [[epochRound]]s from `init`, and after each one
    * `onEpoch(epoch, center)` says whether to go on. With `recordLoss`,
    * epoch e's training loss rides in epoch e+1's pass and one
    * [[meanLoss]] pass scores the last center: E+1 jobs for E epochs,
    * else E. Returns the last center and the loss history. */
  private def trainLoop(
      data: RDD[(Array[Double], Double)], init: DiffModel, rule: UpdateRule,
      lr: Double, batchSize: Int, maxEpochs: Int, recordLoss: Boolean,
      onEpoch: (Int, DiffModel) => Boolean = (_, _) => true): (DiffModel, Seq[Double]) = {
    // epochRound broadcasts the whole (immutable) model, not just the
    // weights: the architecture (shapes, hyperparams) travels with them
    var center = init
    val state = new Array[Double](init.weights.flat.length)
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    var epoch = 0
    var goOn = true
    while (epoch < maxEpochs && goOn) {
      val probe = recordLoss && epoch > 0
      val (next, prevLoss) = epochRound(data, center, rule, state, lr, batchSize, probe)
      if (probe) losses += prevLoss
      center = next
      goOn = onEpoch(epoch, center)
      epoch += 1
    }
    if (recordLoss && epoch > 0) losses += meanLoss(data, center)
    (center, losses.toSeq)
  }

  /** SingleTrainer (`trainers.py ~L90-140 [H]`): all data to one
    * partition, sequential SGD — the determinism baseline. Generic over
    * the model architecture; `withWeights` is contracted to return the
    * same concrete type, so the cast is safe. */
  def trainSingleModel[M <: DiffModel](
      df: DataFrame, featuresCol: String, labelCol: String, init: M,
      epochs: Int = 5, lr: Double = 0.5, batchSize: Int = 32): M = {
    val data = toExamples(df, featuresCol, labelCol).coalesce(1)
    var model: DiffModel = init
    for (_ <- 0 until epochs) {
      val frozen = model
      val (w, _) = data.mapPartitions(it =>
        Iterator.single(localSgd(frozen, it, lr, batchSize))).collect().head
      model = model.withWeights(w)
    }
    model.asInstanceOf[M]
  }

  def trainSingle(df: DataFrame, featuresCol: String, labelCol: String,
                  dim: Int, epochs: Int = 5, lr: Double = 0.5,
                  batchSize: Int = 32, seed: Long = 42L): LinearModel =
    trainSingleModel(df, featuresCol, labelCol, LinearModel.init(dim, seed),
      epochs, lr, batchSize)

  /** EnsembleTrainer (`distkeras/trainers.py ~L150-260 [H]`): one model
    * per partition, no merge — returned as an ensemble whose prediction
    * averages member probabilities. Architecture-generic like the
    * reference's (it trained any compiled model): every member starts
    * from the same `init` and trains fully locally on its partition. */
  def trainEnsembleModel[M <: DiffModel](
      df: DataFrame, featuresCol: String, labelCol: String, init: M,
      numModels: Int = 4, epochs: Int = 5, lr: Double = 0.5,
      batchSize: Int = 32): Seq[M] = {
    toExamples(df, featuresCol, labelCol)
      .repartition(numModels)
      .mapPartitions { it =>
        // each member trains fully locally, so the partition is buffered
        // for multi-epoch passes (member data fits one worker by design)
        val data = it.toArray
        if (data.isEmpty) Iterator.empty
        else {
          var m: DiffModel = init
          (0 until epochs).foreach { _ =>
            m = m.withWeights(localSgd(m, data.iterator, lr, batchSize)._1)
          }
          Iterator.single(m.weights.flat)
        }
      }
      .collect().toSeq
      .map(f => init.withWeights(init.weights.copy(flat = f)).asInstanceOf[M])
  }

  def trainEnsemble(df: DataFrame, featuresCol: String, labelCol: String,
                    dim: Int, numModels: Int = 4, epochs: Int = 5,
                    lr: Double = 0.5, batchSize: Int = 32,
                    seed: Long = 42L): Seq[LinearModel] =
    trainEnsembleModel(df, featuresCol, labelCol, LinearModel.init(dim, seed),
      numModels, epochs, lr, batchSize)

  /** Average-probability ensemble prediction. */
  def ensemblePredict(models: Seq[_ <: DiffModel], x: Array[Double]): Double =
    models.map(_.predictProb(x)).sum / models.size

  /** Multi-class ensemble vote: average the members' full softmax
    * distributions, then argmax (ties to the smallest class) — the
    * standard soft-voting committee over [[SoftmaxMlpModel]] members. */
  def ensemblePredictClass(models: Seq[SoftmaxMlpModel],
                           x: Array[Double]): Double = {
    require(models.nonEmpty)
    val k = models.head.nClasses
    val acc = new Array[Double](k)
    models.foreach { m =>
      val p = m.predictClassProbs(x)
      var i = 0
      while (i < k) { acc(i) += p(i); i += 1 }
    }
    var arg = 0; var i = 1
    while (i < k) { if (acc(i) > acc(arg)) arg = i; i += 1 }
    arg.toDouble
  }

  /** The synchronous data-parallel trainer (DistributedTrainer redesign,
    * `trainers.py ~L270-360 [H]`). One Spark job per epoch; the driver
    * holds at most [[mergeFanIn]] partial [[MergeStats]] (see
    * [[treeFold]]), never one weight vector per partition. */
  def trainDistributedModel[M <: DiffModel](
      df: DataFrame, featuresCol: String, labelCol: String, init: M,
      numWorkers: Int = 4, epochs: Int = 5, lr: Double = 0.5,
      batchSize: Int = 32, rule: UpdateRule = Averaging): M =
    withExamples(df, featuresCol, labelCol, numWorkers) { data =>
      trainLoop(data, init, rule, lr, batchSize, epochs, recordLoss = false)
        ._1.asInstanceOf[M]
    }

  def trainDistributed(
      df: DataFrame, featuresCol: String, labelCol: String, dim: Int,
      numWorkers: Int = 4, epochs: Int = 5, lr: Double = 0.5,
      batchSize: Int = 32, rule: UpdateRule = Averaging,
      seed: Long = 42L): LinearModel =
    trainDistributedModel(df, featuresCol, labelCol, LinearModel.init(dim, seed),
      numWorkers, epochs, lr, batchSize, rule)

  /** Training record — the reference Trainer's bookkeeping surface
    * (`trainers.py › Trainer.get_training_time / .get_history [H]`):
    * wall-clock seconds plus the mean log-loss over the training set
    * after each epoch. Epoch e's loss is probed inside epoch e+1's SGD
    * pass (the center it broadcasts is epoch e's result), and the last
    * epoch's by one (sum, count) pass after training: E+1 jobs for E
    * epochs, O(1) loss rows to the driver per job, never the data. */
  final case class TrainingReport[M <: DiffModel](
      model: M, epochLoss: Seq[Double], seconds: Double)

  def trainDistributedWithHistory[M <: DiffModel](
      df: DataFrame, featuresCol: String, labelCol: String, init: M,
      numWorkers: Int = 4, epochs: Int = 5, lr: Double = 0.5,
      batchSize: Int = 32, rule: UpdateRule = Averaging): TrainingReport[M] = {
    val t0 = System.nanoTime()
    withExamples(df, featuresCol, labelCol, numWorkers) { data =>
      val (center, losses) =
        trainLoop(data, init, rule, lr, batchSize, epochs, recordLoss = true)
      TrainingReport(center.asInstanceOf[M], losses, (System.nanoTime() - t0) / 1e9)
    }
  }

  /** Early-stopping record: the per-epoch VALIDATION loss curve, the
    * epoch whose weights are returned, and whether the patience budget
    * fired before `maxEpochs`. */
  final case class EarlyStopReport[M <: DiffModel](
      model: M, valLoss: Seq[Double], bestEpoch: Int, stoppedEarly: Boolean)

  /** Early-stopped distributed training — the reference workflow's
    * model-selection loop (`examples/mnist.py` holds out a test split
    * and evaluates the trained model on it [M]; Keras's
    * `EarlyStopping(monitor='val_loss', restore_best_weights=True)` is
    * the canonical form): per epoch, one distributed SGD round of
    * [[trainLoop]], then, in its `onEpoch` callback, ONE (sum, count)
    * log-loss aggregate over the VALIDATION partitions — O(1) rows to
    * the driver per epoch, never the data, and 2 jobs per epoch
    * trained. (Fusing that probe into the next epoch's pass, as the
    * training-loss probe is, would run one extra SGD epoch whenever
    * patience fires.) Training stops after `patience`
    * consecutive epochs without a validation improvement > `minDelta`,
    * and the returned model is the BEST epoch's (not the last — a
    * divergent tail cannot poison the result). Deterministic given the
    * init seed: same partitioning, same merge, same stop decision. */
  def trainWithEarlyStopping[M <: DiffModel](
      df: DataFrame, featuresCol: String, labelCol: String,
      valDf: DataFrame, init: M,
      numWorkers: Int = 4, maxEpochs: Int = 50, lr: Double = 0.5,
      batchSize: Int = 32, rule: UpdateRule = Averaging,
      patience: Int = 3, minDelta: Double = 0.0): EarlyStopReport[M] = {
    require(patience >= 1, s"patience must be >= 1, got $patience")
    withExamples(df, featuresCol, labelCol, numWorkers) { data =>
      withExamples(valDf, featuresCol, labelCol, numWorkers) { valData =>
        val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
        var best: DiffModel = init
        var bestLoss = Double.PositiveInfinity
        var bestEpoch = -1
        var sinceBest = 0
        var stopped = false
        trainLoop(data, init, rule, lr, batchSize, maxEpochs, recordLoss = false,
          onEpoch = { (epoch, center) =>
            val vl = meanLoss(valData, center)
            losses += vl
            // epoch 0 is the initial best UNCONDITIONALLY: a NaN validation
            // loss (or one that never improves) must still leave bestEpoch a
            // valid index and the model a trained one, never the silent
            // untrained init (r13 advice). A later FINITE loss always beats
            // a NaN best (NaN compares false to everything).
            if (epoch == 0 || vl < bestLoss - minDelta ||
                (bestLoss.isNaN && !vl.isNaN)) {
              bestLoss = vl; best = center; bestEpoch = epoch; sinceBest = 0
            } else {
              sinceBest += 1
              if (sinceBest >= patience) stopped = true
            }
            !stopped
          })
        EarlyStopReport(best.asInstanceOf[M], losses.toSeq, bestEpoch, stopped)
      }
    }
  }
}
