package graft

import org.apache.spark.sql.functions._

import graft.sim.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine top-k: scores descend, ranks contiguous, k respected") {
    val out = Similarity.qCosineTopK(spark, sfDir).collect()
    val byQ = out.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == 8)
    byQ.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rn"))
      assert(sorted.map(_.getAs[Int]("rn")).toSeq == (1 to rows.length))
      assert(rows.length <= 3)
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
  }

  test("knnLabelNoise: planted mislabel flagged, clean labels pass") {
    // two tight clusters on orthogonal axes; probe 0 sits in cluster A
    // with the right label, probe 1 sits in cluster A mislabeled as B
    def v(axis: Int, eps: Double) =
      Seq.tabulate(4)(i => (if (i == axis) 1.0f else 0.0f) + (if (i == 3) eps.toFloat else 0.0f))
    val emb = (Seq(
      (0L, v(0, 0.01), 7), (1L, v(0, 0.02), 9)) ++      // probes (bound 64)
      (64L to 69L).map(i => (i, v(0, 0.001 * i), 7)) ++  // cluster A, label 7
      (70L to 75L).map(i => (i, v(1, 0.001 * i), 9))     // cluster B, label 9
      ).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelNoise(emb).collect()
      .map(r => r.getAs[Long]("qid") ->
        (r.getAs[Int]("majority_label"), r.getAs[Int]("n_agree"), r.getAs[Int]("flagged"))).toMap
    assert(out(0L) == ((7, 5, 0)), s"${out(0L)}")   // clean: 5/5 agree
    assert(out(1L) == ((7, 0, 1)), s"${out(1L)}")   // mislabel: majority 7, flagged
  }

  test("ANN via LSH recalls most brute-force neighbors (multi-probe)") {
    val exact = Similarity.qCosineTopK(spark, sfDir)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val ann = Similarity.qAnnTopK(spark, sfDir)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = exact.count(ann.contains).toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall too low") // LSH on near-random vectors
  }

  test("lshBuckets assigns equal vectors to equal buckets") {
    val emb = Tables.embeddings(spark, sfDir).limit(10)
      .select($"vec_id", $"embedding")
    val planes = Similarity.hyperplanes(6, 64)
    val b1 = emb.select($"vec_id", Similarity.lshBuckets($"embedding", planes).as("b"))
      .as[(Long, Int)].collect().toMap
    val b2 = emb.select($"vec_id", Similarity.lshBuckets($"embedding", planes).as("b"))
      .as[(Long, Int)].collect().toMap
    assert(b1 == b2)
    assert(b1.values.forall(b => b >= 0 && b < 64))
  }

  test("IVF ANN recalls most brute-force neighbors") {
    val (queries, cands) = Similarity.querySplit(Tables.embeddings(spark, sfDir))
    val exact = Similarity.cosineTopK(queries, cands, 3)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(queries, cands, 3, nCentroids = 8, nProbe = 3)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall $recall too low")
  }

  test("IVF index persists: save/load/probe == inline build, lists partitioned by centroid") {
    val (queries, cands) = Similarity.querySplit(Tables.embeddings(spark, sfDir))
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    Similarity.saveIvfIndex(cands, dir, nCentroids = 8)
    val (centroids, lists) = Similarity.loadIvfIndex(spark, dir)
    val probe = Similarity.ivfProbe(queries, centroids, lists, 3, nProbe = 3)
    val fromDisk = probe.collect()
    val inlineDf = Similarity.ivfTopK(queries, cands, 3, nCentroids = 8, nProbe = 3)
    val inline = inlineDf.collect()
    assert(fromDisk.sameElements(inline),
      "probing the persisted index must equal the inline build")
    // the inline build has no partitioned lists to prune, so it never
    // pays the probed-ids collect: no centroid_id IN filter in its plan
    val inlineIn = inlineDf.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.flatMap(_.collect {
      case p @ (_: org.apache.spark.sql.catalyst.expressions.In |
                _: org.apache.spark.sql.catalyst.expressions.InSet)
        if p.references.exists(_.name == "centroid_id") => p
    })
    assert(inlineIn.isEmpty, s"inline ivfTopK prunes its lists: $inlineIn")
    // the probed-ids partition filter reaches the lists scan (static
    // pruning — the probe reads only the probed centroid directories)
    val listScans = PlanAudit.nodes(PlanAudit.executedPlan(probe)).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("lists")) => f
    }
    assert(listScans.nonEmpty && listScans.forall(_.partitionFilters.nonEmpty),
      s"lists scan not partition-pruned: ${listScans.map(_.partitionFilters)}")
    // the on-disk layout IS the inverted file: one directory per centroid
    val parts = new java.io.File(s"$dir/lists").listFiles()
      .filter(_.getName.startsWith("centroid_id="))
    assert(parts.length > 1 && parts.length <= 8, s"got ${parts.length} list partitions")
  }

  test("IVF returns full top-k even when candidates < 2x centroids") {
    // regression: the old stride-sampled seeding produced ZERO seeds
    // (and silently zero results) whenever the corpus was smaller than
    // ~2x nCentroids
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val cands = emb.filter($"vec_id" >= 4 && $"vec_id" < 24)  // 20 cands, 16 centroids
      .select($"vec_id".as("cid"), $"embedding".as("ce"))
    val ivf = Similarity.ivfTopK(queries, cands, 3, nCentroids = 16, nProbe = 16)
    assert(ivf.count() == 4 * 3, "IVF dropped results on a small corpus")
  }

  test("embedding near-dup pairs are symmetric-free (a<b) and thresholded") {
    val rows = Similarity.qDedupEmbedding(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
      assert(r.getAs[Double]("score") > 0.25)
    }
  }

  test("LSH all-pairs near-dup: exact precision, measured recall vs brute force") {
    val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val a = emb.select($"vec_id".as("id_a"), $"embedding".as("ea"))
    val b = emb.select($"vec_id".as("id_b"), $"embedding".as("eb"))
    val brute = b.crossJoin(broadcast(a))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b",
        graft.vec.VectorOps.dot($"ea", $"eb").as("score"))
      .filter($"score" > 0.25)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.embeddingNearDupPairs(emb, 0.25)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // every LSH pair is exact-verified, so it must be a brute-force pair
    assert(lsh.subsetOf(brute), s"false positives: ${lsh.diff(brute)}")
    assert(brute.nonEmpty)
    val recall = brute.count(lsh.contains).toDouble / brute.size
    // near-random vectors barely above threshold are the hardest case
    // for hyperplane LSH; planted near-dups (high cosine) land at ~1.0
    assert(recall >= 0.3, s"LSH near-dup recall $recall too low")
  }

  test("uncapped LSH density guard: passes real data, fails fast on a planted pile") {
    val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    // the default guard is invisible on every test corpus (this is the
    // oracle-stability contract: the guard never changes green output)
    assert(Similarity.embeddingNearDupPairs(emb, 0.25).count() > 0)
    // a 100-deep pile of the SAME vector (the ×100 rehearsal's planted
    // density, miniaturized) lands in one bucket and must abort in the
    // cheap count aggregate — BEFORE the quadratic pair join — naming
    // the capped operator
    val one = emb.limit(1).collect().head.getSeq[Float](1)
    val pile = spark.range(100).select($"id".as("vec_id"),
      typedLit(one).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.embeddingNearDupPairs(pile, 0.25, maxBucket = 64L)
    }
    assert(e.getMessage.contains("embeddingNearDupPairsCapped"),
      s"guard message should route to the capped operator: ${e.getMessage}")
  }

  test("lshRefineRound: hot buckets split with the loop's exact arithmetic, cold pass through") {
    val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val out = Similarity.qLshRefineRound(spark, sfDir).collect()
    assert(out.length == emb.count())
    // reconstruct level-0 buckets and the hot set independently
    val b0 = emb.select($"vec_id",
        Similarity.lshBuckets($"embedding", Similarity.hyperplanes(4, 64))
          .cast("long").as("b"))
      .as[(Long, Long)].collect().toMap
    val hot0 = b0.values.groupBy(identity).collect {
      case (b, xs) if xs.size > 64 => b }.toSet
    out.foreach { r =>
      val (id, lvl, bucket) = (r.getAs[Long]("vec_id"), r.getAs[Int]("lvl"),
        r.getAs[Long]("bucket"))
      if (hot0.contains(b0(id))) {
        assert(lvl == 1, s"vec $id in a hot bucket must be refined")
        // refined bucket embeds its parent: bucket div 8 == level-0 id
        assert(bucket / 8 == b0(id), s"vec $id: $bucket not child of ${b0(id)}")
      } else {
        assert(lvl == 0 && bucket == b0(id), s"vec $id cold bucket must pass through")
      }
      // the residual flag is consistent with the emitted population
      assert((r.getAs[Long]("n_bucket") > 64) == (r.getAs[Int]("still_hot") == 1))
    }
    // the round must exercise BOTH paths at the test SF (profiled
    // geometry), or the oracle pins only half the machinery
    assert(out.exists(_.getAs[Int]("lvl") == 1), "no hot bucket fired")
    assert(out.exists(_.getAs[Int]("lvl") == 0), "no cold bucket passed")
  }

  test("LSH near-dup recalls planted high-similarity pairs") {
    // a vector and a tiny perturbation of it: angle ≈ 0 → every
    // hyperplane puts them on the same side → recall must be 1.0
    val base = (0 until 64).map(i => math.sin(i + 1).toFloat)
    val norm = math.sqrt(base.map(x => x * x).sum).toFloat
    val v = base.map(_ / norm)
    val nearly = v.updated(0, v(0) + 0.001f)
    val far = (0 until 64).map(i => if (i % 2 == 0) v(i) else -v(i))
    val df = Seq((1L, v), (2L, nearly), (3L, far))
      .toDF("vec_id", "embedding")
    val got = Similarity.embeddingNearDupPairs(df, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"planted pair missed or false positive: $got")
  }

  test("embedding cluster dedup: pairs land in one cluster, min-id keeps") {
    val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val clusters = Similarity.qDedupEmbeddingCluster(spark, sfDir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep"))).toMap
    // total: every vector gets exactly one assignment
    assert(clusters.size == emb.count())
    // keep ⇔ the vector IS its cluster's min id; labels never exceed ids
    clusters.foreach { case (id, (lbl, keep)) =>
      assert(lbl <= id, s"cluster label $lbl above member $id")
      assert(keep == (lbl == id), s"keep flag wrong for $id")
    }
    // every LSH near-dup pair must share a cluster (edges are the input)
    val pairs = Similarity.embeddingNearDupPairs(emb, 0.25)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(clusters(a)._1 == clusters(b)._1, s"pair ($a,$b) split across clusters")
    }
    // exactly one keeper per cluster
    val byCluster = clusters.values.groupBy(_._1)
    byCluster.foreach { case (lbl, ms) =>
      assert(ms.count(_._2) == 1, s"cluster $lbl has ${ms.count(_._2)} keepers")
    }
  }

  test("autoPlanes sizes the signature from corpus count") {
    assert(Similarity.autoPlanes(1000000L, 4096L) == 8)   // ceil(log2(244))
    assert(Similarity.autoPlanes(500L, 64L) == 3)
    assert(Similarity.autoPlanes(10L, 64L) == 2)          // min clamp
    assert(Similarity.autoPlanes(Long.MaxValue, 1L) == 24) // max clamp
    // monotone in n
    val sizes = Seq(1L, 1000L, 100000L, 10000000L).map(Similarity.autoPlanes(_, 64L))
    assert(sizes == sizes.sorted)
  }

  /** 600 near-identical vectors (one degenerate pile no refinement can
    * split) + 100 spread vectors. */
  private def skewedFixture = {
    val base = (0 until 64).map(i => math.sin(i + 1))
    val norm = math.sqrt(base.map(x => x * x).sum)
    val v = base.map(x => (x / norm).toFloat)
    val pile = (0L until 600L).map { i =>
      (i, v.updated((i % 64).toInt, v((i % 64).toInt) + 1e-4f * ((i % 7) + 1)))
    }
    val rnd = new scala.util.Random(17)
    val spread = (600L until 700L).map { i =>
      val raw = Array.fill(64)(rnd.nextGaussian())
      val n2 = math.sqrt(raw.map(x => x * x).sum)
      (i, raw.map(x => (x / n2).toFloat).toSeq)
    }
    (pile ++ spread).toDF("vec_id", "embedding")
  }

  test("capped LSH: degenerate pile stays flagged hot, emitted pairs are O(n) not n^2") {
    val df = skewedFixture
    val pairs = Similarity.embeddingNearDupPairsCapped(df, 0.9,
      targetBucketSize = 64L, cap = 50L, nTables = 2)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect()
    // star expansion: the 600-pile must yield ~599 pairs per table (pre-
    // dedup), NOT 600*599/2 ≈ 180k — assert well under the quadratic blowup
    assert(got.length < 5000, s"pair count ${got.length} suggests |b|^2 blowup")
    // component-lossless: every pile member reaches the representative,
    // so the whole pile is one connected component of the pair graph
    val adj = got.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val seen = collection.mutable.Set(0L)
    val stack = collection.mutable.Stack(0L)
    while (stack.nonEmpty) {
      adj.getOrElse(stack.pop(), Set.empty).foreach { n =>
        if (seen.add(n)) stack.push(n)
      }
    }
    assert((0L until 600L).forall(seen.contains),
      s"pile split: only ${seen.count(_ < 600)} of 600 connected")
  }

  test("capped LSH: refinement bounds diverse buckets at <= cap") {
    // tiny primary signature (2 planes, 4 buckets) over 500 spread real
    // embeddings forces every primary bucket over cap — refinement must
    // split them below cap without flagging them degenerate
    val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val bk = Similarity.cappedLshBuckets(emb, "vec_id", "embedding",
      nPlanes = 2, dim = 64, cap = 50L, subPlanes = 3, maxDepth = 3)
    val counts = bk.groupBy($"lvl", $"bucket").count()
      .select("lvl", "count").as[(Int, Long)].collect()
    // refinement only stops splitting at maxDepth: a bucket above cap at
    // any shallower level was never refined
    assert(counts.nonEmpty && counts.forall { case (lvl, n) => n <= 50L || lvl == 3 },
      s"unrefined bucket above cap: ${counts.filter(_._2 > 50L).toSeq}")
    // degenerate = still above cap after maxDepth
    val hotRows = counts.collect { case (_, n) if n > 50L => n }.sum
    assert(hotRows < 100, s"$hotRows diverse rows wrongly left degenerate")
  }

  test("capped LSH recalls planted high-similarity pairs") {
    val base = (0 until 64).map(i => math.sin(i + 1).toFloat)
    val norm = math.sqrt(base.map(x => x * x).sum).toFloat
    val v = base.map(_ / norm)
    val nearly = v.updated(0, v(0) + 0.001f)
    val far = (0 until 64).map(i => if (i % 2 == 0) v(i) else -v(i))
    val df = Seq((1L, v), (2L, nearly), (3L, far))
      .toDF("vec_id", "embedding")
    val got = Similarity.embeddingNearDupPairsCapped(df, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), s"planted pair missed or false positive: $got")
  }

  test("capped LSH precision: every emitted pair is a true above-threshold pair") {
    val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val a = emb.select($"vec_id".as("id_a"), $"embedding".as("ea"))
    val b = emb.select($"vec_id".as("id_b"), $"embedding".as("eb"))
    val brute = b.crossJoin(broadcast(a))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b", graft.vec.VectorOps.dot($"ea", $"eb").as("score"))
      .filter($"score" > 0.25)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = Similarity.embeddingNearDupPairsCapped(emb, 0.25,
      targetBucketSize = 64L, cap = 100L)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped.subsetOf(brute), s"false positives: ${capped.diff(brute)}")
  }

  test("q_dedup_embedding_lsh_capped gate key: nonempty, canonical, thresholded") {
    val rows = Similarity.qDedupEmbeddingLshCapped(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
      assert(r.getAs[Double]("score") > 0.25)
    }
  }

  test("fixed capped LSH: precision exact, both cold and star paths carry rows") {
    val emb = Tables.embeddings(spark, sfDir).select($"vec_id", $"embedding")
    val a = emb.select($"vec_id".as("id_a"), $"embedding".as("ea"))
    val b = emb.select($"vec_id".as("id_b"), $"embedding".as("eb"))
    val brute = b.crossJoin(broadcast(a))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b", graft.vec.VectorOps.dot($"ea", $"eb").as("score"))
      .filter($"score" > 0.25)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val fixed = Similarity.qDedupEmbeddingLshCappedFixed(spark, sfDir)
    val rows = fixed.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
      assert(r.getAs[Double]("score") > 0.25)
    }
    val pairs = rows.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.subsetOf(brute), s"false positives: ${pairs.diff(brute)}")
    // the profiled constants (nPlanes=4, cap=64) must exercise BOTH
    // branches on the shipped data, or the oracle only tests one path:
    // at least one bucket in table 0 is hot and at least one is cold
    val bk = emb.select($"vec_id",
      Similarity.lshBuckets($"embedding", Similarity.hyperplanes(4, 64)).as("bucket"))
      .groupBy("bucket").count().select("count").as[Long].collect()
    assert(bk.exists(_ > 64), "no hot bucket — star path untested")
    assert(bk.exists(_ <= 64), "no cold bucket — pair path untested")
  }

  test("q_ivf_topk_fixed: matches brute force restricted to probed lists, full top-k") {
    val df = Similarity.qIvfTopKFixed(spark, sfDir)
    assert(df.count() == 8 * 3)
    val rows = df.collect()
    // ranks contiguous per query, scores descend
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("rn"))
      assert(sorted.map(_.getAs[Int]("rn")).toSeq == Seq(1, 2, 3))
      val scores = sorted.map(_.getAs[Double]("score")).toSeq
      assert(scores == scores.sorted.reverse)
    }
    // no global window in the fixed-seed plan either
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty)
  }

  test("q_ivf_topk: full top-k rows and NO global (empty-partition) window") {
    val df = Similarity.qIvfTopK(spark, sfDir)
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      "ivfTopK plan contains a window without partitionBy — a single-" +
        "reducer exchange over the corpus at scale")
    assert(df.count() == 8 * 3)
  }

  test("int8 quantization: codes in range, reconstruction within 0.5/127 per element") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val qz = Similarity.quantized(emb) // array form; the key serializes q
    assert(Similarity.qEmbeddingQuantize(spark, sfDir).count() == emb.count())
    // max |x − q/scale| over every element of every vector: quantization
    // error is bounded by half a code step = 0.5/scale ≤ 0.5/127 · max|x|
    val err = qz.join(emb, "vec_id")
      .select(max(array_max(zip_with(col("embedding"), col("q"),
        (x, q) => abs(x.cast("double") - q.cast("double") / col("scale"))))).as("e"))
      .head().getDouble(0)
    assert(err <= 0.5 / 127 + 1e-9, s"max reconstruction error $err")
    val bounds = qz.select(
      max(array_max(col("q"))).as("hi"), min(array_min(col("q"))).as("lo")).head()
    assert(bounds.getInt(0) <= 127 && bounds.getInt(1) >= -127)
  }

  test("PQ ANN: structural contract + recall against the exact top-3") {
    val pq = Similarity.qPqTopK(spark, sfDir).collect()
    val byQ = pq.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == 8)
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rn"))
      assert(sorted.map(_.getAs[Int]("rn")).toSeq == Seq(1, 2, 3))
      val scores = sorted.map(_.getAs[Double]("score")).toSeq
      assert(scores == scores.sorted.reverse)
    }
    // lossy by design — and the fixture corpus (500 near-orthogonal
    // unit vectors, no cluster structure) is PQ's WORST case for a
    // 16-centroid sampled codebook. The property worth pinning is that
    // ADC ranking still carries signal: exact top-3 ∩ PQ top-3 nonempty
    // for ≥ 2 of 8 queries (measured 3/8 here; random overlap of two
    // 3-sets among 492 candidates would hit ~0.15 queries of 8, so 2 is
    // far outside chance). Real embedding corpora cluster, where both
    // recall and the trained-codebook variant do far better.
    val exact = Similarity.qCosineTopK(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("cid")).toSet }
    val hits = byQ.count { case (q, rs) =>
      rs.map(_.getAs[Long]("cid")).toSet.intersect(exact(q)).nonEmpty }
    assert(hits >= 2, s"PQ top-3 disjoint from exact top-3 on ${8 - hits}/8 queries")
  }

  test("q_ivf_pq_topk: scored candidates come ONLY from probed lists; recall carries signal") {
    val out = Similarity.qIvfPqTopK(spark, sfDir).collect()
    assert(out.length == 8 * 3)
    val byQ = out.groupBy(_.getAs[Long]("qid"))
    assert(byQ.size == 8)
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rn"))
      assert(sorted.map(_.getAs[Int]("rn")).toSeq == Seq(1, 2, 3))
      val scores = sorted.map(_.getAs[Double]("score")).toSeq
      assert(scores == scores.sorted.reverse)
    }
    // the composed key's contract: after the probe join, no stage sees
    // the full corpus — every (qid, cid) in the output must lie in
    // probes ⋈ lists (the candidate set the IVF pruning admits), which
    // is an execution-level proof, not a plan-shape heuristic
    val (queries, cands) = Similarity.querySplit(graft.Tables.embeddings(spark, sfDir))
    val (lists, probes) = Similarity.ivfPqParts(queries, cands, 16, 4)
    val admitted = probes.join(lists, Seq("centroid_id"))
      .select("qid", "cid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val scoredPairs = out.map(r =>
      (r.getAs[Long]("qid"), r.getAs[Long]("cid"))).toSet
    assert(scoredPairs.subsetOf(admitted),
      s"candidates outside probed lists: ${scoredPairs.diff(admitted)}")
    // pruning must actually prune on the fixture (else the test is
    // vacuous): the admitted set is a strict subset of all (q, c) pairs
    assert(admitted.size < 8 * cands.count(),
      "probe join admitted the whole corpus — nProbe covers every list")
    // doubly-lossy (IVF pruning + PQ codes) — measured 4/8 queries with
    // exact-top-3 overlap and 6/24 total hits at sf0.001; pinned with a
    // one-notch margin (chance overlap would be ~0.15 queries of 8)
    val exact = Similarity.qCosineTopK(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("cid")).toSet }
    val hits = byQ.count { case (q, rs) =>
      rs.map(_.getAs[Long]("cid")).toSet.intersect(exact(q)).nonEmpty }
    assert(hits >= 3, s"IVF+PQ top-3 disjoint from exact top-3 on ${8 - hits}/8 queries")
    // no global (empty-partition) window anywhere in the composed plan
    val df = Similarity.qIvfPqTopK(spark, sfDir)
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty)
  }

  test("IVF+PQ index persists: save/load/probe == inline serving, codes partitioned by centroid") {
    val (queries, cands) = Similarity.querySplit(graft.Tables.embeddings(spark, sfDir))
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    Similarity.saveIvfPqIndex(cands, dir)
    // the inverted-file layout is real: one directory per centroid list
    val parts = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.getName.startsWith("centroid_id="))
    assert(parts.nonEmpty && parts.length <= 16,
      s"expected <=16 centroid_id= partition dirs, found ${parts.length}")
    val (centroids, codebook, codes) = Similarity.loadIvfPqIndex(spark, dir)
    assert(codebook.count() == 8 * 16)
    val probe = Similarity.ivfPqProbe(queries, centroids, codebook, codes, 3)
    val fromDisk = probe.collect().map(_.toString).sorted.toSeq
    val inline = Similarity.qIvfPqTopK(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(fromDisk == inline, "persisted-index probe diverged from the inline serving plan")
    // the probed-ids partition filter must reach the code scan: the
    // probe job lists/reads ONLY the probed centroid_id= directories —
    // this static pruning is the point of the partitioned layout
    val codeScans = PlanAudit.nodes(PlanAudit.executedPlan(probe)).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("codes")) => f
    }
    assert(codeScans.nonEmpty, "no file scan over the codes table found")
    assert(codeScans.forall(_.partitionFilters.nonEmpty),
      s"codes scan has no partition filters: ${codeScans.map(_.partitionFilters)}")
  }

  test("q_pq_topk_trained: Lloyd codebook keeps k codewords and beats the sampled book") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val cands = emb.filter(col("vec_id") >= 8)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    // no codeword collapse: all 8×16 (m, k) cells survive training
    val book = Similarity.pqCodebookTrained(cands)
    assert(book.count() == 8 * 16)
    assert(book.select("m", "k").distinct().count() == 8 * 16)
    val out = Similarity.qPqTopKTrained(spark, sfDir).collect()
    assert(out.length == 8 * 3)
    // trained codebook must not LOSE recall vs the deterministic
    // first-16 book on the fixture (measured 7 vs 4 total hits): Lloyd
    // re-centering fits the corpus where the sampled book is arbitrary
    val exact = Similarity.qCosineTopK(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("cid")).toSet }
    def totalHits(rows: Array[org.apache.spark.sql.Row]): Int =
      rows.groupBy(_.getAs[Long]("qid")).toSeq.map { case (q, rs) =>
        rs.map(_.getAs[Long]("cid")).toSet.intersect(exact(q)).size }.sum
    val trained = totalHits(out)
    val sampled = totalHits(Similarity.qPqTopK(spark, sfDir).collect())
    assert(trained >= sampled,
      s"trained codebook recall $trained < sampled $sampled")
    // the 100 TB training knob: fitting on a 25% deterministic hash
    // sample (training cost decoupled from corpus size) must still
    // yield a full non-collapsed codebook and a full-shape ADC result —
    // recall on THIS clusterless fixture is allowed to dip (measured 3
    // hits vs 7 full-corpus; real corpora cluster and sample well)
    val sampledBook = Similarity.pqCodebookTrained(cands, trainFraction = 0.25)
    assert(sampledBook.count() == 8 * 16)
    assert(sampledBook.select("m", "k").distinct().count() == 8 * 16)
  }

  test("q_random_projection: exact fixed-point recompute; JL correlation with true dot products") {
    val out = Similarity.qRandomProjection(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2))).toMap
    assert(out.nonEmpty)
    val emb = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // exact recompute of the left-associated chain + fixed-point emit
    emb.foreach { case (id, x) =>
      (0 until Similarity.rpOutDims).foreach { j =>
        var acc = 0.0
        (0 until Similarity.rpInDims).foreach { d =>
          acc = acc + Similarity.rpSigns(j)(d) * x(d).toDouble }
        val exp = math.floor(acc * Similarity.rpScale + 0.5).toLong
        assert(out((id, j)) == exp, s"vec $id dim $j")
      }
    }
    // JL property on the fixture: projected dots (scaled by 1/k) track
    // true dots across pairs — correlation must be clearly positive
    val ids = emb.keys.toArray.sorted.take(40)
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (u, v) => u.toDouble * v.toDouble }.sum
    def pdot(i: Long, k: Long): Double =
      (0 until Similarity.rpOutDims).map(j =>
        out((i, j)).toDouble * out((k, j)).toDouble).sum /
        (Similarity.rpScale * Similarity.rpScale * Similarity.rpOutDims)
    val pairs = for (a <- ids; b <- ids if a < b) yield (dot(emb(a), emb(b)), pdot(a, b))
    val (xs, ys) = (pairs.map(_._1), pairs.map(_._2))
    val (mx, my) = (xs.sum / xs.length, ys.sum / ys.length)
    val cov = xs.zip(ys).map { case (u, v) => (u - mx) * (v - my) }.sum
    val corr = cov / math.sqrt(
      xs.map(u => (u - mx) * (u - mx)).sum * ys.map(v => (v - my) * (v - my)).sum)
    // k=16 from 64 dims carries JL variance ~1/sqrt(16) per pair and the
    // fixture's true dots span a narrow range, so the realized (fully
    // deterministic) correlation sits near 0.46 — the bar pins "clearly
    // positive geometry preservation", not a concentration bound
    assert(corr > 0.35, s"JL correlation too weak: $corr")
  }

  test("int8 ANN agrees with the float path on top-1 per query") {
    val exact = Similarity.qCosineTopK(spark, sfDir).filter(col("rn") === 1)
      .select(col("qid"), col("cid")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val int8 = Similarity.qAnnTopKInt8(spark, sfDir).filter(col("rn") === 1)
      .select(col("qid"), col("cid")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.keySet == int8.keySet)
    // ≤ 0.4% per-element rounding error: top-1 must survive quantization
    // on every query (ties between near-identical scores would be a data
    // accident; none exist in the fixture corpus)
    assert(exact == int8, s"top-1 drift: ${exact.toSeq.diff(int8.toSeq)}")
  }

  test("silhouette: every point counted once, scores in [-1,1], centroids self-assign") {
    val out = Similarity.qSilhouette(spark, sfDir).collect()
    assert(out.nonEmpty && out.length <= Similarity.silhouetteK)
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.map(_.getAs[Long]("n_points")).sum == n,
      "cluster sizes must partition the corpus")
    out.foreach { r =>
      val s = r.getAs[Double]("mean_silhouette")
      assert(s >= -1.0 && s <= 1.0, s"mean silhouette $s outside [-1,1]")
    }
    // every cluster id is one of the seed vec_ids (a seed whose vector
    // duplicates an earlier seed loses all points to the min-id twin,
    // so subset — not equality — is the invariant)
    val clusters = out.map(_.getAs[Long]("centroid_id")).toSet
    val seeds = Tables.embeddings(spark, sfDir)
      .orderBy(col("vec_id")).limit(Similarity.silhouetteK)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(clusters.subsetOf(seeds), s"clusters $clusters not within seeds $seeds")
  }

  test("lloyd round: full 64-dim grid per cluster, points conserved, centroids move") {
    val out = Similarity.qLloydRound(spark, sfDir).collect()
    val byCluster = out.groupBy(_.getAs[Long]("centroid_id"))
    assert(byCluster.nonEmpty && byCluster.size <= Similarity.silhouetteK)
    val n = Tables.embeddings(spark, sfDir).count()
    byCluster.foreach { case (cid, rows) =>
      assert(rows.map(_.getAs[Int]("dim")).sorted.toSeq == (0 until 64),
        s"cluster $cid missing dims")
      // n_points and movement are cluster-level, identical across dims
      assert(rows.map(_.getAs[Long]("n_points")).distinct.length == 1)
      assert(rows.map(_.getAs[Double]("movement")).distinct.length == 1)
      assert(rows.head.getAs[Double]("movement") >= 0.0)
    }
    assert(byCluster.values.map(_.head.getAs[Long]("n_points")).sum == n,
      "cluster sizes must partition the corpus")
    // at least one centroid must actually move (seeds are raw points,
    // their cell means differ unless every cell is a single point)
    assert(out.exists(_.getAs[Double]("movement") > 0.0))
  }

  test("pq lloyd round key equals one iteration of the real PQ trainer") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sfDir)
    val cands = emb.filter(col("vec_id") >= 8)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    // the float trainer after exactly one Lloyd iteration
    val trained = Similarity.pqCodebookTrained(cands, iters = 1).collect()
      .map(r => ((r.getAs[Int]("m"), r.getAs[Int]("k")),
        r.getSeq[Double](r.fieldIndex("cv")).toArray)).toMap
    val out = Similarity.qPqLloydRound(spark, sfDir).collect()
    assert(out.nonEmpty)
    // every oracled (m, k, dim) coord matches the trainer's codeword to
    // the decimal device's tolerance; assigned counts are positive for
    // non-empty codewords and seeds survive for empty ones
    out.foreach { r =>
      val (m, k, dim) = (r.getAs[Int]("m"), r.getAs[Int]("k"), r.getAs[Int]("dim"))
      val coord = r.getAs[Double]("coord")
      val cv = trained((m, k))(dim)
      assert(math.abs(coord - cv) < 1e-5,
        s"(m=$m,k=$k,dim=$dim): key $coord vs trainer $cv")
      assert(r.getAs[Double]("movement") >= 0.0)
    }
    // full (m, k, dim) grid present: 8 subspaces × 16 codewords × 8 dims
    assert(out.length == 8 * 16 * 8)
  }

  test("pca power: unit-norm output matching a driver-side recompute") {
    val out = Similarity.qPcaPower(spark, sfDir).collect()
      .map(r => (r.getAs[Int]("dim"), r.getAs[Double]("u"), r.getAs[Double]("v1")))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == (0 until 64))
    val norm2 = out.map(t => t._3 * t._3).sum
    assert(math.abs(norm2 - 1.0) < 1e-4, s"|v1|^2 = $norm2")
    // brute recompute of u = X'(X·1) on the collected fixture corpus
    val vecs = Tables.embeddings(spark, sfDir).select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val brute = Array.fill(64)(0.0)
    vecs.foreach { x => val s = x.sum; (0 until 64).foreach(d => brute(d) += s * x(d)) }
    out.foreach { case (d, u, _) =>
      assert(math.abs(u - brute(d)) < math.abs(brute(d)) * 1e-6 + 1e-3,
        s"dim $d: $u vs brute ${brute(d)}")
    }
  }
}
