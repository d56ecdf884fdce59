package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.vec.VectorOps

/** §2.A operator unit + property tests (FIXTURES.md §B vecs4 fixture +
  * ScalaCheck generators sampled with a fixed seed — no scalatestplus
  * bridge in the offline cache). */
class VectorOpsSpec extends SparkSpec {

  /** Minimal deterministic property runner. */
  private def forAllSeeded[A](gen: Gen[A], n: Int = 20)(check: A => Unit): Unit =
    (0 until n).foreach { i =>
      check(gen.apply(Gen.Parameters.default, Seed(42L + i)).get)
    }
  import spark.implicits._

  private val vecs4 = Seq(
    (1, Seq(0.1, 0.9, 0.3, 0.2), 1),
    (2, Seq(0.5, 0.5, 0.5, 0.5), 0),  // all-equal: argmax -> first
    (3, Seq(-1.0, -2.0, -0.5, -3.0), 2),
    (4, Seq(0.0, 0.0, 0.0, 1.0), 3)
  ).toDF("id", "v", "label")

  test("argMax picks first max, 0-based") {
    val got = vecs4.select($"id", VectorOps.argMax($"v").as("am"))
      .as[(Int, Long)].collect().toMap
    assert(got == Map(1 -> 1L, 2 -> 0L, 3 -> 2L, 4 -> 3L))
  }

  test("oneHot ∘ argMax is identity on valid labels") {
    forAllSeeded(Gen.chooseNum(0, 9)) { label =>
      val df = Seq(label).toDF("label")
      val rt = df.select(VectorOps.argMax(VectorOps.oneHot($"label", 10)).as("rt"))
        .head().getLong(0)
      assert(rt == label.toLong)
    }
  }

  test("argMaxThreshold falls back below the activation threshold") {
    val got = vecs4.select($"id",
      VectorOps.argMaxThreshold($"v", 0.55, -1L).as("am"))
      .as[(Int, Long)].collect().toMap
    assert(got(1) == 1L)   // max 0.9 >= 0.55
    assert(got(2) == -1L)  // max 0.5 < 0.55
    assert(got(3) == -1L)  // negative vector
  }

  test("minMaxScale output lies in [0,1] and is monotone") {
    val df = Seq(1.0, 5.0, 3.0, 9.0).toDF("x")
    val stats = df.agg(min($"x").as("mn"), max($"x").as("mx"))
    val out = df.crossJoin(stats)
      .select($"x", VectorOps.minMaxScaleScalar($"x", $"mn", $"mx").as("s"))
      .as[(Double, Double)].collect().sortBy(_._1)
    assert(out.head._2 == 0.0 && out.last._2 == 1.0)
    assert(out.map(_._2).sliding(2).forall(p => p(0) <= p(1)))
  }

  test("minMaxScale vector variant rescales element-wise") {
    val df = Seq(Seq(0.0, 128.0, 255.0)).toDF("v")
    val out = df.select(
      VectorOps.minMaxScale($"v", lit(0.0), lit(255.0)).as("s"))
      .head().getSeq[Double](0)
    assert(out(0) == 0.0 && out(2) == 1.0 && math.abs(out(1) - 128.0 / 255.0) < 1e-12)
  }

  test("sparseToDense scatters (indices, values) into a dense vector") {
    val df = Seq((Seq(0, 2), Seq(1.5, 2.5), 4)).toDF("idx", "vals", "sz")
    val out = df.select(VectorOps.sparseToDense($"idx", $"vals", $"sz").as("d"))
      .head().getSeq[Double](0)
    assert(out == Seq(1.5, 0.0, 2.5, 0.0))
  }

  test("ScatterToDense expression ≡ HOF spec, incl. duplicate and out-of-range indices") {
    // duplicates (first occurrence must win, like array_position),
    // out-of-range indices (ignored), unsorted order, empty pairs
    val rows = Seq(
      (Seq(0, 2, 0), Seq(1.0, 2.0, 9.0), 4),   // dup index 0: 1.0 wins
      (Seq(3, 7, -1), Seq(5.0, 6.0, 7.0), 4),  // 7 and -1 out of range
      (Seq(2, 1), Seq(8.0, 9.0), 3),           // unsorted
      (Seq.empty[Int], Seq.empty[Double], 3))  // all zeros
    val df = rows.toDF("idx", "vals", "sz")
    val both = df.select(
      VectorOps.sparseToDense($"idx", $"vals", $"sz").as("expr"),
      VectorOps.sparseToDenseHof($"idx", $"vals", $"sz").as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Double](0) == r.getSeq[Double](1),
        s"expr ${r.getSeq[Double](0)} != hof ${r.getSeq[Double](1)}")
    }
    assert(both(0).getSeq[Double](0) == Seq(1.0, 0.0, 2.0, 0.0))
    assert(both(1).getSeq[Double](0) == Seq(0.0, 0.0, 0.0, 5.0))
  }

  test("dotLit equals a hand-computed dot product, in array order") {
    forAllSeeded(Gen.listOfN(8, Gen.chooseNum(-1e3, 1e3))) { xs =>
      val w = (1 to 8).map(_ * 0.1)
      val expected = xs.zip(w).foldLeft(0.0) { case (a, (x, y)) => a + x * y }
      val got = Seq(Tuple1(xs)).toDF("v")
        .select(VectorOps.dotLit($"v", w).as("d")).head().getDouble(0)
      assert(got == expected) // bit-identical: same fold order
    }
  }

  test("dot of an L2-normalized vector with itself is ~1 (real data)") {
    val one = Tables.embeddings(spark, sfDir).limit(5)
      .select(VectorOps.dot($"embedding", $"embedding").as("d"))
      .as[Double].collect()
    one.foreach(d => assert(math.abs(d - 1.0) < 1e-6))
  }

  test("q_accuracy yields a single fraction in [0,1]") {
    val acc = VectorOps.qAccuracy(spark, sfDir).head().getDouble(0)
    assert(acc >= 0.0 && acc <= 1.0)
  }

  test("DotProduct codegen expression matches the HOF spec bit-for-bit") {
    val pairs = Tables.embeddings(spark, sfDir).limit(50)
      .select($"embedding".as("a"), reverse($"embedding").as("b"))
    val diff = pairs.select(
      (graft.plans.DotProduct($"a", $"b") - VectorOps.dotHof($"a", $"b")).as("d"))
      .as[Double].collect()
    assert(diff.forall(_ == 0.0)) // identical fold order -> bit-identical
  }

  test("DotProduct handles nulls: null array -> null, null elems skipped") {
    val df = Seq(
      (Some(Seq(Some(1.0), None, Some(3.0))), Some(Seq(Some(2.0), Some(5.0), Some(4.0)))),
      (None, Some(Seq(Some(1.0))))
    ).toDF("a", "b")
    val out = df.select(graft.plans.DotProduct($"a", $"b").as("d")).collect()
    assert(out(0).getDouble(0) == 1.0 * 2.0 + 3.0 * 4.0)
    assert(out(1).isNullAt(0))
  }

  test("graft_dot is SQL-callable via GraftExtensions injection") {
    // nothing registered by hand: the suite's session comes from
    // GraftSession, whose GraftExtensions inject both functions
    val d = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(d == 11.0)
    val v = spark.sql("SELECT graft_scatter(array(0, 2), array(1.0d, 5.0d), 4) AS v")
      .head().getSeq[Double](0)
    assert(v == Seq(1.0, 0.0, 5.0, 0.0))
  }

  test("reshape: shape metadata survives, flatten(reshape2d) == original") {
    val df = Seq(Tuple1((1 to 12).map(_.toDouble))).toDF("v")
    val tagged = VectorOps.withShape(df, "v", Seq(3, 4))
    assert(VectorOps.shapeOf(tagged, "v").contains(Seq(3L, 4L)))
    val back = tagged.select(flatten(VectorOps.reshape2d($"v", 3, 4)).as("f"))
      .head().getSeq[Double](0)
    assert(back == (1 to 12).map(_.toDouble))
    val nested = tagged.select(VectorOps.reshape2d($"v", 3, 4).as("m"))
      .head().getSeq[scala.collection.Seq[Double]](0)
    assert(nested.head.toSeq == Seq(1.0, 2.0, 3.0, 4.0) &&
      nested.last.toSeq == Seq(9.0, 10.0, 11.0, 12.0))
  }

  test("q_mlp_predict (Catalyst expression form) == MlpModel forward pass") {
    // the gate query computes the MLP in pure codegen expressions; the
    // trainer-side MlpModel computes it in Scala — same weights, so the
    // probabilities must agree to float-input precision
    val flat = (VectorOps.mlpW1.flatten ++ VectorOps.mlpB1 ++
      VectorOps.mlpW2 :+ VectorOps.mlpB2).toArray
    val model = graft.ml.MlpModel(
      graft.ml.ModelWeights(graft.ml.MlpModel.shapes(64, VectorOps.mlpHidden), flat),
      din = 64, hidden = VectorOps.mlpHidden)
    val viaExpr = VectorOps.qMlpPredict(spark, sfDir)
      .as[(Long, Double)].collect().toMap
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    assert(viaExpr.size == emb.length)
    emb.foreach { case (id, e) =>
      val p = model.predictProb(e.map(_.toDouble).toArray)
      // the query rounds to 6 decimals; the model doesn't — agree within
      // the rounding half-step
      assert(math.abs(viaExpr(id) - p) < 5.1e-7,
        s"vec $id: expr ${viaExpr(id)} vs model $p")
    }
  }

  test("stringIndexTable: frequency-desc indices, ties broken by value") {
    val df = Seq("b", "b", "b", "a", "a", "c", "d", "d")
      .toDF("cat")
    val idx = VectorOps.stringIndexTable(df, "cat", "idx")
      .as[(String, Long)].collect().toMap
    // b(3) -> 0; a(2) and d(2) tie -> value order a then d; c(1) last
    assert(idx == Map("b" -> 0L, "a" -> 1L, "d" -> 2L, "c" -> 3L))
  }

  test("bucketize: [lo, hi) boundaries, closed last interval (MLlib parity), outliers -1") {
    val df = Seq(-5.0, 0.0, 9.99, 10.0, 19.9, 20.0, 25.0).toDF("x")
    val got = df.select($"x",
        VectorOps.bucketize($"x", Seq(0.0, 10.0, 20.0)).as("b"))
      .as[(Double, Long)].collect().toMap
    // x == 20.0 (the last split) belongs to the last bucket — MLlib's
    // Bucketizer closes the final interval; an exclusive bound would
    // silently drop exact-boundary values from ported pipelines
    assert(got == Map(-5.0 -> -1L, 0.0 -> 0L, 9.99 -> 0L, 10.0 -> 1L,
      19.9 -> 1L, 20.0 -> 1L, 25.0 -> -1L))
    intercept[IllegalArgumentException] {
      VectorOps.bucketize($"x", Seq(10.0, 0.0))
    }
  }

  test("binaryMetrics: precision/recall/F1 exact, binned AUC ~= exact Mann-Whitney") {
    val row = VectorOps.qEvalMetrics(spark, sfDir).head()
    // recompute everything locally from the same deterministic scoring
    val data = Tables.embeddings(spark, sfDir)
      .select($"embedding", VectorOps.argMax($"embedding").as("am"))
      .as[(Seq[Float], Long)].collect()
      .map { case (e, am) =>
        val margin = e.map(_.toDouble).zip(VectorOps.demoWeights)
          .map { case (x, w) => x * w }.sum + VectorOps.demoBias
        val p = BigDecimal(1.0 / (1.0 + math.exp(-margin)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (p, (am % 2).toInt)
      }
    val tp = data.count { case (p, y) => p >= 0.5 && y == 1 }
    val fp = data.count { case (p, y) => p >= 0.5 && y == 0 }
    val fn = data.count { case (p, y) => p < 0.5 && y == 1 }
    assert(math.abs(row.getAs[Double]("prec") - tp.toDouble / (tp + fp)) < 1e-6)
    assert(math.abs(row.getAs[Double]("recall") - tp.toDouble / (tp + fn)) < 1e-6)
    assert(math.abs(row.getAs[Double]("f1") - 2.0 * tp / (2.0 * tp + fp + fn)) < 1e-6)
    // exact Mann-Whitney AUC (pairwise, ties = 1/2)
    val pos = data.filter(_._2 == 1).map(_._1)
    val neg = data.filter(_._2 == 0).map(_._1)
    val exact = pos.map(pp => neg.map(pn =>
      if (pp > pn) 1.0 else if (pp == pn) 0.5 else 0.0).sum).sum / (pos.length.toDouble * neg.length)
    assert(math.abs(row.getAs[Double]("auc") - exact) < 2e-3,
      s"binned auc ${row.getAs[Double]("auc")} vs exact $exact")
    // the scoring must actually separate the classes better than chance
    // in at least SOME direction for the metric test to be meaningful
    assert(row.getAs[Double]("auc") > 0.0 && row.getAs[Double]("auc") < 1.0)
  }

  test("q_vec_avg_by_label emits 64 positions per label") {
    val counts = VectorOps.qVecAvgByLabel(spark, sfDir)
      .groupBy("label").count().as[(Int, Long)].collect()
    assert(counts.nonEmpty && counts.forall(_._2 == 64L))
  }

  test("confusion matrix partitions the corpus and diagonal equals accuracy") {
    val out = VectorOps.qConfusionMatrix(spark, sfDir).collect()
    val total = out.map(_.getAs[Long]("n")).sum
    assert(total == Tables.embeddings(spark, sfDir).count())
    // row shares sum to 1 within each true label
    out.groupBy(_.getAs[Long]("label")).foreach { case (_, rows) =>
      assert(math.abs(rows.map(_.getAs[Double]("row_share")).sum - 1.0) < 1e-4)
    }
    // diagonal mass / total == q_accuracy's scalar
    val diag = out.filter(r => r.getAs[Long]("label") == r.getAs[Long]("pred"))
      .map(_.getAs[Long]("n")).sum
    val acc = VectorOps.qAccuracy(spark, sfDir).head().getAs[Double]("acc")
    assert(math.abs(diag.toDouble / total - acc) < 1e-5)
  }

  test("norm audit: bounds hold and one label's mean matches a local fold") {
    val out = VectorOps.qEmbeddingNormAudit(spark, sfDir).collect()
    assert(out.map(_.getAs[Long]("n")).sum ==
      Tables.embeddings(spark, sfDir).count())
    out.foreach { r =>
      assert(r.getAs[Double]("min_norm") <= r.getAs[Double]("mean_norm") + 1e-9)
      assert(r.getAs[Double]("mean_norm") <= r.getAs[Double]("max_norm") + 1e-9)
      assert(r.getAs[Double]("min_norm") > 0.0, "no collapsed vectors expected")
    }
    val lbl = out.head.getAs[Int]("label")
    val local = Tables.embeddings(spark, sfDir).filter(col("label") === lbl)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).foldLeft(0.0)((a, v) => a + v.toDouble * v.toDouble))
      .map(s => math.rint(math.sqrt(s) * 1e6) / 1e6)
    val expect = local.sum / local.length
    assert(math.abs(out.head.getAs[Double]("mean_norm") - expect) < 1e-5)
  }

  test("robust scale: median maps to zero, IQR to one, order preserved") {
    val out = VectorOps.qRobustScale(spark, sfDir).cache()
    try {
      val o = Tables.orders(spark, sfDir)
      assert(out.count() == o.count())
      val cuts = o.agg(
        percentile(col("o_totalprice"), lit(0.25)),
        percentile(col("o_totalprice"), lit(0.5)),
        percentile(col("o_totalprice"), lit(0.75))).head()
      val (p25, p50, p75) = (cuts.getDouble(0), cuts.getDouble(1), cuts.getDouble(2))
      // a row at the median scales to ~0; quartile width normalizes to 1
      val near = out.filter(abs(col("o_totalprice") - p50) < 1.0)
        .select("scaled").collect()
      near.foreach(r => assert(math.abs(r.getDouble(0)) < 0.001))
      assert(math.abs((p75 - p50) / (p75 - p25) + (p50 - p25) / (p75 - p25) - 1.0) < 1e-9)
      // monotone: scaled preserves the value order
      assert(out.agg(corr(col("o_totalprice"), col("scaled"))).head().getDouble(0) > 0.999999)
    } finally out.unpersist()
  }

  test("leakage corr agrees with the built-in corr per dimension") {
    val out = VectorOps.qLeakageCorr(spark, sfDir).collect()
    assert(out.length == 64)
    out.foreach(r => assert(math.abs(r.getAs[Double]("corr_with_label")) <= 1.0 + 1e-9))
    // spot-check three dims against Spark's built-in corr on raw floats
    val raw = Tables.embeddings(spark, sfDir)
      .select(col("label").cast("double").as("y"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
    for (d <- Seq(0, 17, 63)) {
      val ref = raw.filter(col("dim") === d)
        .agg(corr(col("v").cast("double"), col("y"))).head().getDouble(0)
      val got = out.find(_.getAs[Int]("dim") == d).get.getAs[Double]("corr_with_label")
      assert(math.abs(got - ref) < 1e-3, s"dim $d: $got vs $ref")
    }
  }

  test("gains curve: capture is monotone to 1.0 and deciles cover the corpus") {
    val out = VectorOps.qGainsCurve(spark, sfDir).collect()
    assert(out.length == 10)
    assert(out.map(_.getAs[Long]("n")).sum ==
      Tables.embeddings(spark, sfDir).count())
    val caps = out.sortBy(_.getAs[Int]("decile")).map(_.getAs[Double]("cum_capture"))
    caps.sliding(2).foreach { case Array(a, b) => assert(b >= a - 1e-9) }
    assert(math.abs(caps.last - 1.0) < 1e-6, "all positives captured by decile 10")
    // lift at decile 10 is exactly 1 (capture/1.0)
    val d10 = out.find(_.getAs[Int]("decile") == 10).get
    assert(math.abs(d10.getAs[Double]("lift") - 1.0) < 1e-6)
  }

  test("calibration bins cover every row and the gap reconciles") {
    val out = VectorOps.qCalibration(spark, sfDir).collect()
    assert(out.map(_.getAs[Long]("n")).sum ==
      Tables.embeddings(spark, sfDir).count())
    out.foreach { r =>
      val bin = r.getAs[Int]("bin")
      assert(bin >= 0 && bin < VectorOps.calibBins)
      val (mp, fp, gap) = (r.getAs[Double]("mean_p"),
        r.getAs[Double]("frac_pos"), r.getAs[Double]("gap"))
      assert(math.abs(gap - math.abs(mp - fp)) < 2e-6, s"gap $gap vs |$mp-$fp|")
      assert(fp >= 0.0 && fp <= 1.0)
      // mean predicted prob must sit inside (or within rounding of)
      // its own bin's range — the binning is consistent with the score
      assert(mp >= bin / 10.0 - 1e-6 && mp <= (bin + 1) / 10.0 + 1e-6)
    }
  }

  test("qAucExact equals the brute-force tie-corrected pairwise AUC") {
    val r = VectorOps.qAucExact(spark, sfDir).head()
    val auc = r.getAs[Double]("auc")
    assert(auc >= 0.0 && auc <= 1.0)
    // brute force: P(p⁺ > p⁻) + ½·P(p⁺ = p⁻) over every (pos, neg) pair
    val scored = graft.Tables.embeddings(spark, sfDir).select(
      round(lit(1.0) / (lit(1.0) +
        exp(-(VectorOps.dotLit(col("embedding"), VectorOps.demoWeights) +
          lit(VectorOps.demoBias)))), 6).as("p"),
      (VectorOps.argMax(col("embedding")) % 2).cast("int").as("y"))
      .collect().map(x => (x.getAs[Double]("p"), x.getAs[Int]("y")))
    val pos = scored.filter(_._2 == 1).map(_._1)
    val neg = scored.filter(_._2 == 0).map(_._1)
    assert(r.getAs[Long]("n_pos") == pos.length.toLong &&
      r.getAs[Long]("n_neg") == neg.length.toLong)
    val wins = (for (a <- pos; b <- neg)
      yield if (a > b) 1.0 else if (a == b) 0.5 else 0.0).sum
    val brute = wins / (pos.length.toDouble * neg.length.toDouble)
    assert(math.abs(auc - brute) < 1e-9, s"$auc vs brute $brute")
  }
}
