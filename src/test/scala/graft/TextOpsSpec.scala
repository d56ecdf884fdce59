package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointDirs.withCheckpointDir

import graft.plans.NgramStats
import graft.text.TextOps

/** Dedup + text-analysis behavior on planted fixtures (FIXTURES.md §B
  * dupDocs): exact dup pair, near-dup pair (small edit), distinct pair. */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def sentence(seed: Int, n: Int): String = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val rnd = new scala.util.Random(seed)
    (0 until n).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
  }

  private lazy val dupDocs = {
    val base = sentence(1, 60)
    val nearDup = base.split(" ").updated(5, "changed").mkString(" ")
    Seq(
      (1L, base), (2L, base),          // exact dup pair
      (3L, nearDup),                   // near-dup of 1/2
      (4L, sentence(99, 60)),          // distinct
      (5L, sentence(123, 60))          // distinct
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts and keeps min id") {
    val out = dupDocs.groupBy(md5($"text").as("h"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n"))
    val byKeep = out.select("keep_id", "n").as[(Long, Long)].collect().toMap
    assert(byKeep(1L) == 2L)             // docs 1,2 merged
    assert(byKeep.values.sum == 5L)
    assert(!byKeep.contains(2L))
  }

  test("minhash near-dup catches planted pairs, rejects distant ones") {
    val pairs = TextOps.nearDupPairs(dupDocs, w = 3, minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "exact dup pair missed")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)), "near-dup pair missed")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), s"false positive: $pairs")
  }

  test("minhash dedup is idempotent: survivors have no remaining near-dups") {
    val pairs = TextOps.nearDupPairs(dupDocs, w = 3, minJaccard = 0.5)
      .select("id_b").as[Long].collect().toSet
    val survivors = dupDocs.filter(!$"doc_id".isin(pairs.toSeq: _*))
    val again = TextOps.nearDupPairs(survivors, w = 3, minJaccard = 0.5).count()
    assert(again == 0)
  }

  test("simhash is identical for identical docs, differs for distinct docs") {
    val sh = dupDocs.select($"doc_id", concat_ws("", TextOps.simhash(TextOps.tokens($"text"))).as("sh"))
      .as[(Long, String)].collect().toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L) != sh(4L))
  }

  test("simhashFingerprints (agg form) == simhash column expression") {
    val viaExpr = dupDocs
      .select($"doc_id", concat_ws("", TextOps.simhash(TextOps.tokens(lower($"text")))).as("sh"))
      .as[(Long, String)].collect().toMap
    val viaAgg = TextOps.simhashFingerprints(dupDocs)
      .as[(Long, String)].collect().toMap
    assert(viaExpr == viaAgg)
  }

  test("fingerprint is word-order-insensitive (bag semantics)") {
    val shuffled = dupDocs.filter($"doc_id" === 1L)
      .select(lit(9L).as("doc_id"),
        concat_ws(" ", reverse(split($"text", " "))).as("text"))
    val both = dupDocs.filter($"doc_id" === 1L).unionByName(shuffled)
      .select(md5(concat_ws(" ", array_sort(array_distinct(TextOps.tokens($"text"))))).as("fp"))
      .as[String].collect()
    assert(both.distinct.length == 1)
  }

  test("langId detects real-language samples via marker terms") {
    val samples = Seq(
      (1L, "the cat sat on the mat and the dog is here"),
      (2L, "der hund ist gross und die katze ist klein"),
      (3L, "el perro es grande y la casa es blanca"),
      (4L, "qqq www eee rrr")).toDF("doc_id", "text")
    val got = samples.select($"doc_id", TextOps.langId($"text").as("l"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "en" && got(2L) == "de" && got(3L) == "es" && got(4L) == "und")
  }

  test("quality score components are consistent") {
    val row = TextOps.qQualityScore(spark, sfDir).head()
    val q = row.getAs[Double]("quality")
    val dr = row.getAs[Double]("distinct_ratio")
    val sr = row.getAs[Double]("stop_ratio")
    assert(q >= 0 && q <= 1 && dr > 0 && dr <= 1 && sr >= 0 && sr <= 1)
    assert(math.abs(q - (dr * 0.5 + (1 - sr) * 0.5)) < 1e-5)
  }

  test("shingles produce size-w windows in order") {
    val out = Seq("a b c d").toDF("text")
      .select(TextOps.shingles(TextOps.tokens($"text"), 3).as("sh"))
      .head().getSeq[String](0)
    assert(out == Seq("a b c", "b c d"))
  }

  /** The HOF form [[TextOps.shingles]] had before the native kernel,
    * verbatim: the reference spec the kernel must reproduce exactly. */
  private def shinglesHof(toks: Column, w: Int): Column =
    transform(
      sequence(lit(0), greatest(size(toks) - w, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(w))))

  private val shingleWidths = Seq(1, 2, 3, 5, 20)

  /** Edge-case texts plus a 500-document seeded corpus: varied lengths
    * (0 to 60 tokens), repeats, multi-byte tokens and stray spaces. */
  private lazy val shingleCorpus = {
    val edge = Seq(
      Option.empty[String], Some(""), Some(" "), Some("  "),
      Some(" lead"), Some("trail "), Some("double  space"),
      Some(" both  ends "), Some("one"), Some("a b"), Some("a b c"),
      Some("a b c d e"), Some("ünï cödé 日本語 テキスト 🙂 emoji 🙂"),
      Some((1 to 20).mkString(" ")), Some((1 to 19).mkString(" ")))
    val vocab = Vector("the", "a", "spam", "ham", "ß", "日本", "🙂", "x", "")
    val rnd = new scala.util.Random(4242)
    val seeded = (0 until 500).map { _ =>
      Some((0 until rnd.nextInt(61)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(if (rnd.nextInt(10) == 0) "  " else " "))
    }
    (edge ++ seeded).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      // above an exchange, so the projection is planned, not folded into
      // the local relation by the optimizer
      .repartition(3)
  }

  /** Runs `body` with expression codegen on (the default) and off. */
  private def inBothEvalModes(body: String => Unit): Unit =
    Seq("CODEGEN_ONLY", "NO_CODEGEN").foreach { mode =>
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", mode == "CODEGEN_ONLY")
      try body(mode)
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }

  test("Shingles kernel == the HOF shingles spec on edge cases and a seeded corpus") {
    val toks = TextOps.tokens($"text")
    inBothEvalModes { mode =>
      shingleWidths.foreach { w =>
        val rows = shingleCorpus
          .select($"doc_id", $"text", TextOps.shingles(toks, w).as("k"),
            shinglesHof(toks, w).as("h"))
          .as[(Long, Option[String], Seq[String], Seq[String])].collect()
        assert(rows.length == 515)
        val bad = rows.filter(r => r._3 != r._4)
        assert(bad.isEmpty, s"$mode w=$w: ${bad.take(3).mkString("\n")}")
      }
    }
    // the documented shapes, spelled out
    val one = Seq(Option.empty[String], Some(""), Some("a b")).toDF("text")
      .select(TextOps.shingles(toks, 3).as("k")).as[Seq[String]].collect()
    assert(one.toSeq == Seq(Seq(""), Seq(""), Seq("a b")))
  }

  test("Shingles kernel skips null tokens like concat_ws") {
    // not foldable, so the generated code runs, not constant folding
    val toks = array(lit("a"), when($"id" > 0, lit("z")), lit("b"), lit("c"))
    shingleWidths.foreach { w =>
      val r = spark.range(1).repartition(1)
        .select(TextOps.shingles(toks, w).as("k"), shinglesHof(toks, w).as("h"))
        .as[(Seq[String], Seq[String])].head()
      assert(r._1 == r._2, s"w=$w")
    }
    assert(spark.range(1).select(TextOps.shingles(lit(null).cast("array<string>"), 2))
      .as[Seq[String]].head() == Seq(""))
    assert(intercept[IllegalArgumentException](TextOps.shingles(toks, 0))
      .getMessage.contains("width"))
  }

  test("NgramStats == counts over the HOF shingles") {
    val toks = TextOps.tokens($"text")
    inBothEvalModes { mode =>
      shingleWidths.foreach { w =>
        val sh = shinglesHof(toks, w)
        val top = array_max(transform(array_distinct(sh),
          g => size(filter(sh, x => x === g)))).cast("long")
        val rows = shingleCorpus
          .select($"doc_id", NgramStats(toks, w).as("s"),
            struct(size(sh).cast("long"), size(array_distinct(sh)).cast("long"), top)
              .as("h"))
          .select($"doc_id", $"s.n_grams", $"s.n_distinct", $"s.top_count",
            $"h.col1", $"h.col2", $"h.col3")
          .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
        assert(rows.length == 515)
        val bad = rows.filter(r => (r._2, r._3, r._4) != (r._5, r._6, r._7))
        assert(bad.isEmpty, s"$mode w=$w: ${bad.take(3).mkString("\n")}")
      }
    }
  }

  test("graft_shingles and graft_ngram_stats are SQL-callable via GraftExtensions") {
    // nothing registered by hand: GraftSession installs GraftExtensions
    val r = spark.sql(
      "SELECT graft_shingles(split(t, ' '), 2) AS sh, " +
        "graft_ngram_stats(split(t, ' '), 2) AS st FROM VALUES ('a b a b') AS v(t)").head()
    assert(r.getSeq[String](0) == Seq("a b", "b a", "a b"))
    val st = r.getStruct(1)
    assert((st.getAs[Long]("n_grams"), st.getAs[Long]("n_distinct"),
      st.getAs[Long]("top_count")) == (3L, 2L, 2L))
    val e = intercept[Exception](spark.sql(
      "SELECT graft_shingles(split(t, ' '), n) FROM VALUES ('a b', 2) AS v(t, n)").collect())
    assert(e.getMessage.contains("int literal"), e.getMessage)
  }

  test("df cap drops a planted hot shingle and bounds the pair join") {
    // 40 otherwise-distinct docs all share one boilerplate trigram;
    // without the cap the shingle join fans out 40×40 on that key
    val boiler = "common legal footer"
    val docs = (1 to 40).map(i => (i.toLong, s"${sentence(i * 7, 30)} $boiler"))
      .toDF("doc_id", "text")
    val capped = TextOps.shingleRows(docs, 3, maxDf = 10)
    assert(capped.filter($"s" === boiler).count() == 0, "hot shingle not dropped")
    // discriminative shingles survive
    assert(capped.count() > 0)
    // with the hot key gone, the full-corpus pair join yields no
    // near-dup pairs among distinct docs (bounded fan-out, no 40² blowup)
    val pairs = TextOps.ngramJaccardPairs(docs, 3, 0.5, None, maxDf = 10)
    assert(pairs.count() == 0)
    // uncapped control: the hot shingle is present
    assert(TextOps.shingleRows(docs, 3, maxDf = 0).filter($"s" === boiler).count() == 40)
  }

  test("connected components assign min-id cluster labels, singletons kept") {
    // components: {1,2,3} (path), {4,5}, singleton {6}
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    val got = graft.graph.ConnectedComponents.run(edges, nodes)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("qDedupCluster collapses planted dup chain to one survivor") {
    // 1≈2≈3 near-dup cluster via transitive edges; 4,5 distinct
    val docs = dupDocs
    val edges = TextOps.ngramJaccardPairs(docs, 3, 0.5, None)
      .select($"id_a".as("src"), $"id_b".as("dst"))
    val labels = graft.graph.ConnectedComponents.run(
      edges, docs.select($"doc_id".as("id")))
      .as[(Long, Long)].collect().toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    assert(labels(4L) == 4L && labels(5L) == 5L)
  }

  test("qDedupCluster end-to-end under Reliable checkpointing == Local output") {
    // each key's iterative loop (df-capped shingle streams, CC rounds,
    // PQ Lloyd rounds and codebook, the v2 pipeline's gate chain) run
    // with a checkpoint dir set, i.e. reliable (HDFS-style) checkpoints:
    // output identical to the no-dir (local checkpoint) run, and the
    // scoped dir must actually have been written by every key
    def fileCount(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(fileCount).sum else 1
    val keys: Seq[(String, () => DataFrame)] = Seq(
      "qDedupCluster" -> (() => TextOps.qDedupCluster(spark, sfDir)),
      "qPqTopKTrained" -> (() => graft.sim.Similarity.qPqTopKTrained(spark, sfDir)),
      "llmPipelineV2" -> (() => TextOps.llmPipelineV2(Tables.documents(spark, sfDir))))
    keys.foreach { case (name, run) =>
      def rows(): Seq[String] = run().collect().map(_.toString).toSeq.sorted
      val local = rows()
      val dir = java.nio.file.Files.createTempDirectory("graft_reliable").toFile
      val reliable = withCheckpointDir(dir.toString)(rows())
      assert(local.nonEmpty && local == reliable, s"$name: reliable output differs")
      assert(fileCount(dir) > 0, s"$name: reliable run never wrote a checkpoint")
    }
  }

  test("banded cluster assignment: MinHash edges collapse the planted cluster") {
    // the 100 TB path: document-linear MinHash band edges (not the
    // token-linear exact shingle self-join) feeding the same CC run
    val edges = TextOps.nearDupPairs(dupDocs, 3, 0.5)
      .select($"id_a".as("src"), $"id_b".as("dst"))
    val labels = graft.graph.ConnectedComponents.run(
      edges, dupDocs.select($"doc_id".as("id")))
      .as[(Long, Long)].collect().toMap
    assert(labels(1L) == 1L && labels(2L) == 1L && labels(3L) == 1L)
    assert(labels(4L) == 4L && labels(5L) == 5L)
  }

  test("q_dedup_cluster_banded gate key: one row per doc, keep = min-id survivor") {
    val rows = TextOps.qDedupClusterBanded(spark, sfDir).collect()
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.length == nDocs)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val cl = r.getAs[Long]("cluster_id")
      assert(cl <= id)
      assert(r.getAs[Boolean]("keep") == (id == cl))
    }
    val nClusters = rows.map(_.getAs[Long]("cluster_id")).distinct.length
    assert(rows.count(_.getAs[Boolean]("keep")) == nClusters)
  }

  test("q_dedup_cluster_star gate key == banded key (same edges, star CC core)") {
    val star = TextOps.qDedupClusterStar(spark, sfDir).collect().toSeq
    val banded = TextOps.qDedupClusterBanded(spark, sfDir).collect().toSeq
    assert(star.nonEmpty && star == banded,
      "star CC must produce identical cluster assignment over the same edges")
  }

  test("q_dedup_simhash_banded gate key: verified pairs within hamming bound") {
    val rows = TextOps.qDedupSimhashBanded(spark, sfDir).collect()
    assert(rows.nonEmpty, "no near-dup pairs found on testdata")
    rows.foreach { r =>
      assert(r.getAs[Long]("id_a") < r.getAs[Long]("id_b"))
      assert(r.getAs[Int]("hamming") <= 3)
    }
  }

  test("capped simhash banding: ≡ uncapped when nothing is hot; O(n) pairs on a planted pile") {
    val fps = TextOps.simhashFingerprintsLong(dupDocs)
    // a cap no real bucket reaches → capped must equal the exact form
    val exact = TextOps.simhashBandPairs(fps, 3, 4)
      .as[(Long, Long, Int)].collect().toSet
    val cappedHigh = TextOps.simhashBandPairsCapped(fps, 3, 4, cap = 1L << 40)
      .as[(Long, Long, Int)].collect().toSet
    assert(cappedHigh == exact, "high-cap capped form must equal the uncapped pairing")
    // a 100-deep pile of ONE fingerprint (the ×100 rehearsal's planted
    // density, miniaturized): the uncapped form owes C(100,2)=4950
    // pairs; the capped form star-expands to 99 rep-member pairs
    val pile = spark.range(100).select($"id".as("doc_id"), lit(0x0F0F0F0FL).as("fp"))
    val got = TextOps.simhashBandPairsCapped(pile, 3, 4, cap = 16L)
      .as[(Long, Long, Int)].collect()
    assert(got.length == 99, s"star expansion must emit O(n) pairs, got ${got.length}")
    assert(got.forall(p => p._1 == 0L && p._3 == 0), "every pair anchors at the min-id rep")
    // the gate key exercises BOTH paths at the test SF (or the oracle
    // pins only half the machinery)
    val corpus = TextOps.simhashFingerprintsLong(
      Tables.documents(spark, sfDir))
    val counts = corpus.select($"doc_id",
        posexplode(array((0 until 4).map(b =>
          shiftright($"fp", b * 8).bitwiseAND(lit(255L))): _*)))
      .toDF("doc_id", "band", "bits")
      .groupBy("band", "bits").count()
      .select("count").as[Long].collect()
    assert(counts.exists(_ > TextOps.simhashBucketCap), "no hot bucket at test SF")
    assert(counts.exists(_ <= TextOps.simhashBucketCap), "no cold bucket at test SF")
  }

  test("capped minhash banding: ≡ uncapped when nothing is hot; O(n) candidates on a planted pile") {
    val docs = Tables.documents(spark, sfDir)
    // a cap no real bucket reaches → capped must equal the exact form
    val exact = TextOps.nearDupPairs(docs)
      .as[(Long, Long, Double)].collect().toSet
    val cappedHigh = TextOps.nearDupPairsCapped(docs, cap = 1L << 40)
      .as[(Long, Long, Double)].collect().toSet
    assert(cappedHigh == exact, "high-cap capped form must equal the uncapped pairing")
    // a 100-deep pile of ONE signature (identical text → identical
    // bands): the uncapped band join owes C(100,2)=4950 candidates per
    // band; the capped form star-expands to 99 rep-member candidates,
    // every one verifying at jaccard 1.0 (exact-dup piles stay
    // component-lossless through the rep)
    val pile = spark.range(100).select($"id".as("doc_id"),
      lit("alpha beta gamma delta epsilon zeta eta theta").as("text"))
    val got = TextOps.nearDupPairsCapped(pile, cap = 16L)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 99, s"star expansion must emit O(n) pairs, got ${got.length}")
    assert(got.forall(p => p._1 == 0L && p._3 == 1.0), "every pair anchors at the min-id rep")
    // the gate key exercises BOTH paths at the test SF
    val counts = TextOps.minhashSignatures(docs, 3)
      .select($"doc_id", explode(TextOps.bandKeys($"sig")).as("k"))
      .groupBy($"k").count()
      .select("count").as[Long].collect()
    assert(counts.exists(_ > TextOps.minhashBandBucketCap), "no hot bucket at test SF")
    assert(counts.exists(c => c > 1 && c <= TextOps.minhashBandBucketCap),
      "no pair-carrying cold bucket at test SF")
  }

  test("uncapped band-join density guards fail fast on a planted pile, naming the capped sibling") {
    // the default guards are invisible on every test corpus (the
    // oracle-stability contract: a guard never changes green output) —
    // sf0.1 measures: max exact-dup pile depth 2 (minhash guard 128),
    // max (band, bits) bucket 748 (simhash guard 16384)
    assert(TextOps.nearDupPairs(Tables.documents(spark, sfDir)).count() > 0)
    // a 100-deep exact-duplicate pile (the ×100 rehearsal's planted
    // density, miniaturized) must abort in the cheap md5-multiplicity /
    // band-count aggregate — BEFORE any quadratic pair work — routing
    // to the capped operator
    val pile = spark.range(100).select($"id".as("doc_id"),
      lit("alpha beta gamma delta epsilon zeta eta theta").as("text"))
    val e1 = intercept[IllegalArgumentException] {
      TextOps.nearDupPairs(pile, guard = 16L)
    }
    assert(e1.getMessage.contains("q_dedup_minhash_capped"),
      s"guard must route to the capped operator: ${e1.getMessage}")
    val fpsPile = spark.range(100)
      .select($"id".as("doc_id"), lit(0x0F0F0F0FL).as("fp"))
    val e2 = intercept[IllegalArgumentException] {
      TextOps.simhashBandPairs(fpsPile, 3, 4, guard = 16L)
    }
    assert(e2.getMessage.contains("q_dedup_simhash_capped"),
      s"guard must route to the capped operator: ${e2.getMessage}")
  }

  test("capped minhash banding broadcasts ONLY the hot (band, bh) subset") {
    // the full (band, bh) count frame grows ~nBands·|distinct docs| —
    // unbounded — so the broadcast side must be the hot-filtered frame
    // (bounded by band-rows/cap), joined back as a LEFT join whose null
    // side is the cold membership (r16; VERDICT r15 What's-wrong #1). Every
    // caller of the HotKeys star device (and corpusBandTable, which
    // reads its hot-rep frame) runs the same checks, with its own cap.
    // pin the HINTED broadcast only: at test SF, AQE also legitimately
    // broadcasts the small cold self-join sides (a size decision that
    // reverses itself at corpus scale) — with AQE + auto-broadcast off,
    // every surviving BroadcastExchange is one the operator ASKED for
    lazy val docs = Tables.documents(spark, sfDir)
    lazy val emb = Tables.embeddings(spark, sfDir)
    val callers: Seq[(String, () => DataFrame, Long)] = Seq(
      ("bandedCandidatesCapped", () =>
        TextOps.bandedCandidatesCapped(TextOps.minhashSignatures(docs, 3)),
        TextOps.minhashBandBucketCap),
      ("corpusBandTable", () => TextOps.corpusBandTable(docs),
        TextOps.minhashBandBucketCap),
      ("simhashBandPairsCapped", () =>
        TextOps.simhashBandPairsCapped(TextOps.simhashFingerprintsLong(docs)),
        TextOps.simhashBucketCap),
      ("embeddingNearDupPairsCappedFixed", () =>
        graft.sim.Similarity.embeddingNearDupPairsCappedFixed(emb, 0.25,
          nPlanes = 4, cap = 64L), 64L),
      ("embeddingNearDupPairsCapped", () =>
        graft.sim.Similarity.embeddingNearDupPairsCapped(emb, 0.25,
          targetBucketSize = 64L, cap = 256L), 256L))
    callers.foreach { case (name, build, cap) =>
      val conf = spark.conf
      val (aqe0, abt0) = (conf.get("spark.sql.adaptive.enabled"),
        conf.get("spark.sql.autoBroadcastJoinThreshold"))
      conf.set("spark.sql.adaptive.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan =
        try PlanAudit.executedPlan(build())
        finally {
          conf.set("spark.sql.adaptive.enabled", aqe0)
          conf.set("spark.sql.autoBroadcastJoinThreshold", abt0)
        }
      val hotJoins = PlanAudit.nodes(plan).collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType.toString == "LeftOuter" => j
      }
      assert(hotJoins.nonEmpty,
        s"$name: hot tagging must be a left-outer broadcast join:\n$plan")
      // every ORIGINAL broadcast exchange in the plan (reused leaves
      // point back at one of these) must build from a hot-FILTERED frame
      val exchanges = PlanAudit.nodes(plan).collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
      assert(exchanges.nonEmpty, s"$name: no broadcast exchange in:\n$plan")
      // the operators hint only count-THRESHOLDED aggregates (the
      // shingle df-cap frame, df > maxDf, and the hot-key frame, n >
      // cap) — bounded regardless of corpus size, never the full
      // unbounded count frame
      val hotThreshold = raw"> \d+".r
      exchanges.foreach { b =>
        val filtered = PlanAudit.nodes(b).exists {
          case f: org.apache.spark.sql.execution.FilterExec =>
            hotThreshold.findFirstIn(f.condition.toString).isDefined
          case _ => false
        }
        assert(filtered,
          s"$name: broadcast side must be a count-thresholded hot subset:\n$b")
      }
      assert(exchanges.exists(b => PlanAudit.nodes(b).exists {
        case f: org.apache.spark.sql.execution.FilterExec =>
          f.condition.toString.contains("> " + cap)
        case _ => false
      }), s"$name: no broadcast carries the hot-key filter (> $cap):\n$plan")
    }
  }

  test("simhash band split rejects a zero or negative band count by name") {
    val fps = Seq((1L, 0x0F0F0F0FL), (2L, 0x0F0F0F0EL)).toDF("doc_id", "fp")
    for (nBands <- Seq(0, -4)) {
      val ops: Seq[() => DataFrame] = Seq(
        () => TextOps.simhashBandPairs(fps, 3, nBands),
        () => TextOps.simhashBandPairsCapped(fps, 3, nBands))
      ops.foreach { op =>
        val e = intercept[IllegalArgumentException](op())
        assert(e.getMessage.contains(s"nBands must be a positive divisor of 32, got $nBands"),
          e.getMessage)
      }
    }
  }

  test("simhash banding catches a planted 1-bit flip, rejects far pairs") {
    val base = 0x0F0F0F0FL
    val fps = Seq(
      (1L, base),
      (2L, base ^ 1L),          // Hamming distance 1
      (3L, base ^ 0x7L),        // Hamming distance 3 (one band)
      (4L, 0x70F0A05AL)         // far
    ).toDF("doc_id", "fp")
    val got = TextOps.simhashBandPairs(fps, maxHamming = 3, nBands = 4)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(got.contains((1L, 2L, 1)), s"1-bit flip missed: $got")
    assert(got.contains((1L, 3L, 3)), s"3-bit same-band flip missed: $got")
    assert(got.contains((2L, 3L, 2)), s"got $got")
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L), s"false positive: $got")
  }

  test("simhash band pairs on real docs match brute-force popcount") {
    val fps = TextOps.simhashFingerprintsLong(dupDocs)
    val all = fps.as[(Long, Long)].collect()
    val brute = (for {
      (ia, fa) <- all; (ib, fb) <- all if ia < ib
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
    } yield (ia, ib, h)).toSet
    val banded = TextOps.simhashBandPairs(fps, maxHamming = 3, nBands = 4)
      .as[(Long, Long, Int)].collect().toSet
    // guaranteed recall for hamming < nBands, and no false positives
    assert(banded.subsetOf(brute.map(t => (t._1, t._2, t._3))), s"false positives: ${banded -- brute}")
    assert(brute.forall { case (a, b, h) => h >= 4 || banded.contains((a, b, h)) },
      s"missed guaranteed pairs: ${brute -- banded}")
  }

  test("decontamination flags train docs sharing eval shingles, skips eval docs") {
    // eval = {1}; doc 2 is an exact copy of 1 (fully contaminated),
    // doc 3 a near-copy (one token changed → partial), docs 4/5 clean
    val report = TextOps.decontaminationReport(
      dupDocs, col("doc_id") === 1L, w = 3)
      .as[(Long, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(!report.contains(1L), "eval docs must not appear in the train report")
    assert(report.keySet == Set(2L, 3L, 4L, 5L))
    val (_, n2, c2, f2, fl2) = report(2L)
    assert(n2 == c2 && f2 == 1.0 && fl2, s"exact copy must be 100% contaminated: ${report(2L)}")
    val (_, n3, c3, _, fl3) = report(3L)
    // one token substitution kills at most w=3 shingles of ~58
    assert(c3 > 0 && c3 < n3 && fl3, s"near-copy partially contaminated: ${report(3L)}")
    // unrelated docs may share a stray trigram by vocab chance, but must
    // stay far below the near-copy's contamination and (here) unflagged
    assert(report(4L)._4 < 0.05 && !report(4L)._5, s"clean doc flagged: ${report(4L)}")
    assert(report(5L)._4 < 0.05 && !report(5L)._5, s"clean doc flagged: ${report(5L)}")
  }

  test("repetition report: looping text flagged, diverse text not") {
    val docs = Seq(
      (1L, "spam ham spam ham spam ham spam ham spam ham"), // one bigram dominates
      (2L, sentence(7, 60)),                                // diverse
      (3L, Seq.fill(20)("alpha beta gamma").mkString(" "))  // repeated trigram block
    ).toDF("doc_id", "text")
    val rep = TextOps.repetitionReport(docs)
      .as[(Long, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // doc 1: bigrams alternate "spam ham"/"ham spam" → top bigram = 5/9
    assert(rep(1L)._2 > 0.5 && rep(1L)._4, s"${rep(1L)}")
    // doc 3: only 3 distinct trigrams in 58 → dup fraction ≈ 0.95
    assert(rep(3L)._3 > 0.9 && rep(3L)._4, s"${rep(3L)}")
    assert(!rep(2L)._4, s"diverse doc flagged: ${rep(2L)}")
    // sanity: 12-word vocab random text still has near-distinct trigrams
    assert(rep(2L)._3 < 0.2, s"${rep(2L)}")
  }

  test("repetition report: degenerate docs keep the pre-r16 explode membership") {
    // the row-local NgramStats report must emit exactly the rows of the
    // relational form (explode shingles -> aggregate -> inner join),
    // here over the HOF shingles spec it was written against.
    // Degenerate corpus: sub-trigram docs (1 and 2 tokens), an empty
    // string, a NULL text (shingles emit [""] for it, so the relational
    // form keeps it too), and planted looping docs.
    val docs = Seq(
      (1L, Some("solo")),
      (2L, Some("two tokens")),
      (3L, Some("")),
      (4L, Option.empty[String]),
      (5L, Some(sentence(11, 40))),
      (6L, Some(Seq.fill(25)("spam ham").mkString(" "))),
      (7L, Some(Seq.fill(12)("buy now cheap pills").mkString(" "))),
      (8L, Some(Seq.fill(30)("loop").mkString(" "))),
      (9L, Some(sentence(12, 30) + " " + Seq.fill(10)("to the moon").mkString(" ")))
    ).toDF("doc_id", "text")
    // the pre-r16 form (git b02539b~1) over the HOF shingles
    val toks = TextOps.tokens($"text")
    val g2 = docs.select($"doc_id", explode(shinglesHof(toks, 2)).as("g"))
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(max($"c").as("max2"), sum($"c").as("tot2"))
    val g3old = docs.select($"doc_id", explode(shinglesHof(toks, 3)).as("g"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("tot3"), countDistinct($"g").as("dist3"))
    val topBigram = $"max2".cast("double") / $"tot2"
    val dupTrigram = lit(1.0) - $"dist3".cast("double") / $"tot3"
    val old = g2.join(g3old, Seq("doc_id"))
      .select($"doc_id",
        round(topBigram, 6).as("top_bigram_frac"),
        round(dupTrigram, 6).as("dup_trigram_frac"),
        (topBigram > TextOps.repTopBigramMax ||
          dupTrigram > TextOps.repDupTrigramMax).as("flagged"))
      .as[(Long, Double, Double, Boolean)].collect().toSet
    val now = TextOps.repetitionReport(docs)
      .as[(Long, Double, Double, Boolean)].collect().toSet
    assert(now == old, s"row-local report diverged:\nnow  $now\nold  $old")
    assert(now.map(_._1) == (1L to 9L).toSet, s"membership changed: $now")
    // the looping docs are flagged, the diverse one is not
    val flagged = now.filter(_._4).map(_._1)
    assert(Set(6L, 7L, 8L).subsetOf(flagged) && !flagged(5L), s"$now")
  }

  test("incremental dedup: in-batch dups collapse, corpus-known docs drop, fresh survive") {
    val corpus = Seq((10L, "old news body"), (11L, "archived text")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "fresh document"),
      (2L, "old news body"),     // already in corpus → dropped
      (3L, "fresh document"),    // in-batch dup of 1 → collapsed to min id
      (4L, "another new one")
    ).toDF("doc_id", "text")
    val kept = TextOps.incrementalDedup(batch, corpus)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L), s"kept $kept")
  }

  test("packChunks: per-stream offsets are exact prefix sums, chunks consistent") {
    val docs = Seq(
      (1L, "a", sentence(1, 100)), (2L, "a", sentence(2, 200)),
      (3L, "a", sentence(3, 30)), (4L, "b", sentence(4, 300)),
      (5L, "b", sentence(5, 10))
    ).toDF("doc_id", "source", "text")
    val out = TextOps.packChunks(docs, col("source"), col("doc_id"), blockTokens = 128L)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long, Long, Long)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    // stream a: offsets 0, 100, 300; stream b restarts at 0
    assert(byId(1L) == (1L, "a", 100L, 0L, 0L, 0L))
    assert(byId(2L) == (2L, "a", 200L, 100L, 0L, 2L))   // spans blocks 0..2 (100..299)
    assert(byId(3L) == (3L, "a", 30L, 300L, 2L, 2L))
    assert(byId(4L) == (4L, "b", 300L, 0L, 0L, 2L))
    assert(byId(5L) == (5L, "b", 10L, 300L, 2L, 2L))
    // invariant: within a stream, offset = previous offset + n_tokens
    out.groupBy(_._2).foreach { case (_, rows) =>
      rows.sortBy(_._1).foldLeft(0L) { case (expect, r) =>
        assert(r._4 == expect, s"offset gap at $r"); expect + r._3
      }
    }
    // partitioning independence: same result after a repartition
    val again = TextOps.packChunks(docs.repartition(7), col("source"), col("doc_id"), 128L)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long, Long, Long)].collect()
    assert(out.toSeq == again.toSeq)
  }

  test("scrubPii redacts emails and URLs with exact counts") {
    val docs = Seq(
      (1L, "reach a.b-c@corp.io or x@y.org today"),
      (2L, "see https://site.org/p?q=1#frag and http://plain.net/x"),
      (3L, "no pii here at all"),
      (4L, "mixed bob@example.com at https://example.com/bob")
    ).toDF("doc_id", "text")
    val out = TextOps.scrubPii(docs, col("text")).orderBy("doc_id")
      .as[(Long, Int, Int, String)].collect()
    assert(out.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((1L, 2, 0), (2L, 0, 2), (3L, 0, 0), (4L, 1, 1)))
    // placeholders actually landed: cleaned text hash differs from raw
    // exactly when something was redacted
    val rawMd5 = docs.select(col("doc_id"), md5(col("text"))).as[(Long, String)]
      .collect().toMap
    out.foreach { case (id, ne, nu, h) =>
      assert((h == rawMd5(id)) == (ne + nu == 0), s"doc $id hash/redaction mismatch")
    }
    // the redacted form is stable: scrubbing a scrubbed text is a no-op
    val once = docs.select(col("doc_id").as("doc_id"),
      regexp_replace(regexp_replace(col("text"), TextOps.emailRe, "<EMAIL>"),
        TextOps.urlRe, "<URL>").as("text"))
    val twice = TextOps.scrubPii(once, col("text")).orderBy("doc_id")
      .as[(Long, Int, Int, String)].collect()
    assert(twice.forall(r => r._2 == 0 && r._3 == 0), "placeholders re-matched as PII")
  }

  test("substring dedup catches a copied paragraph that jaccard misses") {
    val para = sentence(7, 25)                  // the copied 25-token span
    val a = sentence(11, 80) + " " + para
    val b = para + " " + sentence(13, 80)
    val docs = Seq((1L, a), (2L, b), (3L, sentence(17, 80))).toDF("doc_id", "text")
    val spans = TextOps.substringDupPairs(docs, w = 20)
      .as[(Long, Long, Long)].collect()
    assert(spans.map(r => (r._1, r._2)).toSeq == Seq((1L, 2L)),
      s"expected exactly the copied-paragraph pair, got ${spans.toSeq}")
    assert(spans.head._3 >= 1)
    // the same pair is INVISIBLE to jaccard near-dup at any useful
    // threshold: 25 shared tokens over ~105-token docs
    val jac = TextOps.ngramJaccardPairs(docs, 3, 0.5, scala.None).count()
    assert(jac == 0, "jaccard unexpectedly flagged the copied-paragraph pair")
  }

  test("unigram quality: repetitious text scores lower avg_nll than rare-token text") {
    // doc 1 repeats the corpus-dominant token; doc 2 is one-off tokens
    val docs = Seq(
      (1L, "alpha alpha alpha alpha alpha alpha alpha alpha"),
      (2L, "unique1 unique2 unique3 unique4 unique5 unique6 unique7 unique8"),
      (3L, "alpha beta alpha beta alpha beta alpha beta")
    ).toDF("doc_id", "text")
    val got = TextOps.unigramScores(docs).orderBy("doc_id")
      .as[(Long, Long, Double)].collect()
    assert(got.map(_._2).toSeq == Seq(8L, 8L, 8L))
    val byId = got.map(r => r._1 -> r._3).toMap
    assert(byId(1L) < byId(3L) && byId(3L) < byId(2L),
      s"expected nll(repetitious) < nll(mixed) < nll(unique): $byId")
    // score is a proper mean: all-same-token doc = -ln(p(alpha)) exactly
    val pAlpha = 12.0 / 24.0
    assert(math.abs(byId(1L) - (-math.log(pAlpha))) < 1e-5)
  }

  test("quality tails: extremes land in low/high, the middle mass is mid") {
    // strictly distinct mid scores (i commons + 1 unique → score falls
    // with i), one repetitious outlier (all commons = lowest possible
    // nll) and one rare-token outlier (highest) — value-based cuts
    // flood ties into a tail, so the fixture must not tie at the cut
    val docs = ((1L to 20L).map(i => (i, ("common " * i.toInt).trim + s" tok$i")) ++
      Seq((21L, ("common " * 30).trim),
          (22L, "rare1 rare2 rare3 rare4 rare5"))).toDF("doc_id", "text")
    val got = TextOps.qualityTails(docs).as[(Long, Double, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(21L)._3 == "low", s"repetitious doc: ${got(21L)}")
    assert(got(22L)._3 == "high", s"rare-token doc: ${got(22L)}")
    val mids = got.values.count(_._3 == "mid")
    assert(mids >= 16, s"middle mass should be mid: $got")
    // decision is against the ROUNDED cut: every score compares consistently
    val low = got.values.filter(_._3 == "low").map(_._2).max
    val mid = got.values.filter(_._3 == "mid").map(_._2)
    assert(mid.forall(_ > low), "low tail must sit strictly below the mid mass")
  }
  test("gopher rules: each rule kills exactly its planted failure mode") {
    import spark.implicits._
    val docs = Seq(
      // passes every rule: 24 tokens, mean len in [4,5], stopwords, diverse
      (1L, Seq("the", "data", "table", "batch", "merge", "scan", "join", "sort",
        "group", "query", "row", "value", "field", "index", "store", "shard",
        "block", "chunk", "frame", "tuple", "the", "data", "merge", "scan").mkString(" ")),
      (2L, "tiny doc here"), // too short -> len_ok false
      (3L, Seq.fill(30)("wonderfully elaborate").mkString(" ")), // mean len > 5
      (4L, (1 to 30).map(i => s"tok$i").mkString(" ")), // zero stopwords
      (5L, ("data " * 30).trim) // one token type -> diverse_ok false
    ).toDF("doc_id", "text")
    val got = TextOps.gopherRules(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Boolean]("keep"), s"good doc must pass: ${got(1L)}")
    assert(!got(2L).getAs[Boolean]("len_ok") && !got(2L).getAs[Boolean]("keep"))
    assert(!got(3L).getAs[Boolean]("mean_len_ok"))
    assert(!got(4L).getAs[Boolean]("stop_ok"))
    assert(got(5L).getAs[Boolean]("len_ok") && got(5L).getAs[Boolean]("mean_len_ok") &&
      got(5L).getAs[Boolean]("stop_ok") && !got(5L).getAs[Boolean]("diverse_ok") &&
      !got(5L).getAs[Boolean]("keep"),
      s"repetition must fail ONLY the diversity rule: ${got(5L)}")
    // signal arithmetic spot-check on the good doc: 24 tokens, 20 types
    assert(got(1L).getAs[Int]("n_tokens") == 24)
    assert(math.abs(got(1L).getAs[Double]("distinct_ratio") - 20.0 / 24.0) < 1e-5)
  }

  test("token entropy: uniform = ln(d), constant = 0, skew in between") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x x x x"),
      (3L, "p p p q")
    ).toDF("doc_id", "text")
    val got = TextOps.entropyScores(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Long]("n_tokens") == 8 && got(1L).getAs[Long]("n_distinct") == 8)
    assert(math.abs(got(1L).getAs[Double]("entropy") - math.log(8)) < 1e-4)
    assert(math.abs(got(1L).getAs[Double]("norm_entropy") - 1.0) < 1e-4)
    assert(got(2L).getAs[Double]("entropy") == 0.0 &&
      got(2L).getAs[Double]("norm_entropy") == 0.0,
      "single-type doc: entropy and norm both exactly 0")
    val expect3 = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert(math.abs(got(3L).getAs[Double]("entropy") - expect3) < 1e-5)
    assert(got(3L).getAs[Double]("norm_entropy") < 1.0 - 1e-3,
      "skewed distribution must score below uniform")
  }

  test("bpe pieces: disjoint classes split runs; md5 fingerprints the exact boundaries") {
    import spark.implicits._
    val docs = Seq((1L, "ab12 cd!ef"), (2L, "ab c"), (3L, "a bc")).toDF("doc_id", "text")
    val got = TextOps.bpePieces(docs, col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Int]("n_pieces") == 5, s"ab|12|cd|!|ef: ${got(1L)}")
    assert(got(1L).getAs[Int]("n_numeric") == 1 && got(1L).getAs[Int]("n_symbol") == 1)
    // (ab)(c) vs (a)(bc): same chars, same counts - the separator in the
    // md5 join is what keeps the fingerprints distinct
    assert(got(2L).getAs[Int]("n_pieces") == got(3L).getAs[Int]("n_pieces"))
    assert(got(2L).getAs[String]("pieces_md5") != got(3L).getAs[String]("pieces_md5"))
  }

  test("q_token_bpe: injected docs exercise numeric+symbol classes, others stay pure") {
    val out = TextOps.qTokenBpe(spark, sfDir).collect()
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 5 == 0) {
        assert(r.getAs[Int]("n_numeric") >= 2, s"doc $id: version+price digits expected")
        assert(r.getAs[Int]("n_symbol") >= 3, s"doc $id: =, ., $$ and ! runs expected")
      } else {
        assert(r.getAs[Int]("n_numeric") == 0 && r.getAs[Int]("n_symbol") == 0,
          s"doc $id: clean corpus text must produce only letter pieces")
      }
    }
  }

  test("domain filter: host normalization, exact + suffix blocklists") {
    import spark.implicits._
    val docs = Seq(
      (1L, "https://example.com/a"),            // clean
      (2L, "https://WWW.Example.COM/b?q=1"),    // case + www -> example.com
      (3L, "http://spam-mill.example/x"),       // exact blocklist
      (4L, "https://ads.tracker-example.net/p"),// suffix blocklist
      (5L, "https://tracker-example.net/p"),    // apex does NOT suffix-match
      (6L, "https://www.sub.tracker-example.net/y")) // deep subdomain matches
      .toDF("doc_id", "url")
    val got = TextOps.filterDomains(docs, col("url")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[String]("domain") == "example.com" && !got(1L).getAs[Boolean]("blocked"))
    assert(got(2L).getAs[String]("domain") == "example.com", "lowercase + www strip")
    assert(got(3L).getAs[Boolean]("blocked"), "exact-match blocklist")
    assert(got(4L).getAs[Boolean]("blocked"), "suffix blocklist")
    assert(!got(5L).getAs[Boolean]("blocked"),
      "apex tracker-example.net must NOT match the .tracker-example.net suffix")
    assert(got(6L).getAs[String]("domain") == "sub.tracker-example.net" &&
      got(6L).getAs[Boolean]("blocked"), "www strip then deep-subdomain suffix match")
  }

  test("q_filter_domains: pool covers all domains, kill counts only on blocked ones") {
    val rows = TextOps.qFilterDomains(spark, sfDir).collect()
    assert(rows.length == TextOps.domainPool.size,
      s"every pool domain present once: ${rows.length}")
    // the normalized pool: www. stripped from the prefixed entry
    val want = TextOps.domainPool.map(_.stripPrefix("www.")).toSet
    assert(rows.map(_.getAs[String]("domain")).toSet == want)
    val blocked = rows.filter(_.getAs[Boolean]("blocked")).map(_.getAs[String]("domain"))
    assert(blocked.toSet == Set("spam-mill.example", "ads.tracker-example.net"))
    // kill counts are real: the synthetic URL assignment is uniform mod 8
    rows.foreach(r => assert(r.getAs[Long]("n_docs") > 0))
  }

  test("token fertility composes the bpe piece stream with lang grouping") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "plain words only here"),      // 4 pieces = 4 words
      (2L, "en", "v1.2 costs $5!"),             // pieces > words
      (3L, "de", "nur woerter"))
      .toDF("doc_id", "lang", "text")
    val got = TextOps.tokenFertility(docs, col("text")).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    // en: doc1 4 pieces/4 words; doc2 "v|1|.|2|costs|$|5|!" = 8 pieces/3 words
    assert(got("en").getAs[Long]("n_words") == 7 && got("en").getAs[Long]("n_pieces") == 12,
      s"en: ${got("en")}")
    assert(math.abs(got("en").getAs[Double]("fertility") - 12.0 / 7) < 1e-6)
    assert(got("de").getAs[Double]("fertility") == 1.0, "pure-letter text: 1 piece per word")
    // bytes_per_piece = chars / pieces over the exact sums
    val enChars = "plain words only here".length + "v1.2 costs $5!".length
    assert(math.abs(got("en").getAs[Double]("bytes_per_piece") - enChars / 12.0) < 1e-6)
  }

  test("q_token_fertility: injected symbols push fertility above 1 on the gate key") {
    val rows = TextOps.qTokenFertility(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val f = r.getAs[Double]("fertility")
      // every language has some doc_id % 5 == 0 docs, whose injected
      // version/price pieces split beyond whitespace words
      assert(f > 1.0, s"${r.getAs[String]("lang")}: fertility $f should exceed 1")
      assert(r.getAs[Double]("bytes_per_piece") > 0)
    }
  }

  test("paragraphDedup: first occurrence survives, later copies shed, reassembly ordered") {
    import spark.implicits._
    // 2-token segments on a toy corpus: "x y" is doc 1's first segment
    // and appears again in doc 1 (idx 2), doc 2 (idx 0) and doc 3 (idx 1)
    val docs = Seq(
      (1L, "x y a b x y"),   // segs: [x y][a b][x y] -> keeps idx 0,1
      (2L, "x y c d"),       // segs: [x y][c d]      -> keeps idx 1
      (3L, "e f x y"))       // segs: [e f][x y]      -> keeps idx 0
      .toDF("doc_id", "text")
    val got = TextOps.paragraphDedup(docs, segTokens = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_segments"), r.getAs[Long]("n_kept"), r.getAs[String]("kept_md5"))).toMap
    assert(got(1L) == (3L, 2L, md5Hex("x y a b")), got(1L).toString)
    assert(got(2L) == (2L, 1L, md5Hex("c d")))
    assert(got(3L) == (2L, 1L, md5Hex("e f")))
  }

  test("q_dedup_paragraph matches a sequential reference implementation exactly") {
    // the corpus deliberately contains exact AND near duplicates (the
    // dedup-fixture families share whole texts and long spans), so no
    // per-doc shortcut assumption holds — compute the expected answer
    // sequentially over the collected corpus and compare every row
    val header = "terms of service apply to this content please read carefully "
    val docs = Tables.documents(spark, sfDir)
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (if (r.getAs[Long]("doc_id") % 3 == 0) header else "") + r.getAs[String]("text")))
      .sortBy(_._1)
    val segs = docs.flatMap { case (id, text) =>
      text.split(" ", -1).grouped(10).zipWithIndex
        .map { case (w, i) => (id, i, w.mkString(" ")) }
    }
    val firstOwner = segs.groupBy(_._3)
      .map { case (s, occ) => s -> occ.map(o => (o._1, o._2)).min }
    val expected = docs.map { case (id, text) =>
      val mine = segs.filter(_._1 == id)
      val kept = mine.filter(o => firstOwner(o._3) == ((o._1, o._2)))
      id -> (mine.length.toLong, kept.length.toLong,
        md5Hex(kept.sortBy(_._2).map(_._3).mkString(" ")))
    }.toMap
    val rows = TextOps.qDedupParagraph(spark, sfDir).collect()
    assert(rows.length == docs.length, "every doc must appear, even fully-deduped ones")
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val got = (r.getAs[Long]("n_segments"), r.getAs[Long]("n_kept"),
        r.getAs[String]("kept_md5"))
      assert(got == expected(id), s"doc $id: got $got expected ${expected(id)}")
    }
    // the fixture must actually exercise shedding
    assert(rows.exists(r => r.getAs[Long]("n_kept") < r.getAs[Long]("n_segments")))
    assert(rows.exists(r => r.getAs[Long]("n_kept") == 0L), "no fully-shed duplicate")
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("canonicalUrl normalizes fragment/utm/case/www/trailing-slash variants") {
    import spark.implicits._
    val urls = Seq(
      "https://example.com/p/1",
      "https://example.com/p/1?utm_source=feed&utm_campaign=x",
      "https://example.com/p/1/",
      "HTTPS://EXAMPLE.COM/p/1#ref",
      "https://www.example.com/p/1",
      // non-variants that must NOT collapse into the above
      "https://example.com/p/1?page=2",     // real query survives
      "https://example.com/P/1")            // path case is significant
    val got = urls.toDF("url")
      .select(TextOps.canonicalUrl(col("url")).as("c")).as[String].collect()
    assert(got.take(5).toSet == Set("https://example.com/p/1"), got.take(5).mkString(", "))
    assert(got(5) == "https://example.com/p/1?page=2")
    assert(got(6) == "https://example.com/P/1")
  }

  test("q_dedup_url: recrawl groups collapse, canonical invariants hold") {
    val rows = TextOps.qDedupUrl(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs, "groups must partition the corpus")
    // path ids collide mod 1000, so recrawl groups exist at every SF —
    // and at least one group collapses DISTINCT raw spellings
    assert(rows.exists(_.getAs[Long]("n_docs") > 1), "no recrawl groups")
    assert(rows.exists(_.getAs[Long]("n_raw_forms") > 1), "no multi-spelling group")
    rows.foreach { r =>
      val c = r.getAs[String]("url_canon")
      assert(c.matches("https://[a-z0-9.-]+/p/[0-9]+"), s"non-canonical: $c")
      assert(!c.contains("://www."), s"www survived: $c")
      assert(r.getAs[Long]("n_raw_forms") <= r.getAs[Long]("n_docs"))
    }
  }

  test("bigram LM: predictable continuations score lower than diverse ones") {
    // shared history "x": doc 10 always continues x→a (3 of the 7 x-
    // bigrams), doc 11 continues x→{b,c,d,e} once each — every scored
    // bigram of doc 10 is more probable, so its mean −ln p is smaller
    val docs = Seq(
      (10L, "x a x a x a"),
      (11L, "x b x c x d x e")).toDF("doc_id", "text")
    val out = TextOps.bigramScores(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_nll"))).toMap
    assert(out(10L)._1 == 5 && out(11L)._1 == 7) // len−1 bigrams each
    assert(out(10L)._2 < out(11L)._2,
      s"repetitive doc should score lower: $out")
  }

  test("bigram LM: single-token docs drop out; all-unique corpus scores 0") {
    val docs = Seq((1L, "solo"), (2L, "p q r s")).toDF("doc_id", "text")
    val out = TextOps.bigramScores(docs).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSet == Set(2L))
    // every history occurs once → p(b|a)=1 → −ln p = 0
    assert(out.head.getAs[Double]("avg_nll") == 0.0)
  }

  test("DSIR weights: target-language docs weigh positive, others negative") {
    val docs = Seq(
      (1L, "the quick brown fox", "en"),
      (2L, "jumps over lazy dog", "en"),
      (3L, "uno dos tres cuatro", "es"),
      (4L, "cinco seis siete ocho", "es")).toDF("doc_id", "text", "lang")
    val out = TextOps.dsirWeights(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("llr"), r.getAs[Int]("selected"))).toMap
    // every en token sits in the target slice (ratio > 1), every es
    // token only in the source (ratio < 1) — so the weights separate
    // cleanly and the selected flag matches the sign
    for (id <- Seq(1L, 2L)) assert(out(id)._1 > 0 && out(id)._2 == 1, s"doc $id: $out")
    for (id <- Seq(3L, 4L)) assert(out(id)._1 < 0 && out(id)._2 == 0, s"doc $id: $out")
  }

  test("chunk overlap: windows cover the doc, overlap by window−stride, reassemble") {
    val w = 50; val s = 40
    val docs = graft.Tables.documents(spark, sfDir).limit(50)
    val chunks = TextOps.chunkOverlap(docs, w, s)
      .collect().groupBy(_.getAs[Long]("doc_id"))
    val texts = docs.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(chunks.keySet == texts.keySet)
    for ((id, cs) <- chunks) {
      val toks = texts(id).split(" ", -1).toSeq
      val sorted = cs.sortBy(_.getAs[Int]("chunk_id"))
      assert(sorted.map(_.getAs[Int]("chunk_id")).toSeq == sorted.indices)
      assert(sorted.size == math.max(1, math.ceil(toks.size / s.toDouble).toInt),
        s"doc $id: ${sorted.size} chunks for ${toks.size} tokens")
      sorted.zipWithIndex.foreach { case (c, i) =>
        val expect = toks.slice(i * s, i * s + w)
        assert(c.getAs[Int]("n_tokens") == expect.size)
        assert(c.getAs[String]("chunk_text") == expect.mkString(" "),
          s"doc $id chunk $i text mismatch")
      }
      // stride-prefix reassembly: first s tokens of each chunk + the
      // final chunk's tail reproduce the document exactly
      val rebuilt = sorted.init.flatMap(_.getAs[String]("chunk_text").split(" ", -1).take(s)) ++
        sorted.last.getAs[String]("chunk_text").split(" ", -1)
      assert(rebuilt.toSeq == toks, s"doc $id reassembly mismatch")
    }
  }

  test("boilerplateNgrams: injected footer grams dominate with exact df; df floor holds") {
    val out = TextOps.qBoilerplateNgrams(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty && out.length <= TextOps.boilerTopK)
    assert(out.forall(_._2 >= TextOps.boilerMinDf))
    // ordered by (df desc, occ desc, gram)
    assert(out.sliding(2).forall {
      case Array(a, b) =>
        a._2 > b._2 || (a._2 == b._2 && (a._3 > b._3 || (a._3 == b._3 && a._1 < b._1)))
      case _ => true
    })
    // the footer's interior 5-grams carry df == |{doc_id % 17 == 0}| exactly
    val nInjected = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 17 === 0).count()
    val byGram = out.map(t => t._1 -> t._2).toMap
    Seq("copyright example corp all rights", "example corp all rights reserved")
      .foreach { g =>
        assert(byGram.get(g).contains(nInjected), s"'$g' df ${byGram.get(g)} != $nInjected")
      }
  }

  test("snapshotDiff classifies added/removed/changed/unchanged by digest") {
    val oldSnap = Seq((1L, "a text"), (2L, "b text"), (3L, "c text")).toDF("doc_id", "text")
    val newSnap = Seq((2L, "b text"), (3L, "c text CHANGED"), (4L, "d text")).toDF("doc_id", "text")
    val st = TextOps.snapshotDiff(oldSnap, newSnap)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(st == Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed", 4L -> "added"))
  }

  test("snapshotDiff: null text is presence, not absence (md5(NULL) must not read as added)") {
    val oldSnap = Seq((1L, null: String), (2L, null: String), (3L, "x")).toDF("doc_id", "text")
    val newSnap = Seq((1L, null: String), (2L, "y"), (3L, null: String)).toDF("doc_id", "text")
    val st = TextOps.snapshotDiff(oldSnap, newSnap)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(st == Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed"), s"$st")
  }

  test("cdcMerge(old, cdcChangeset(old, new)) reconstructs new exactly; manifest ships only churn") {
    val oldSnap = Seq((1L, "a text"), (2L, "b text"), (3L, "c text"), (5L, null: String))
      .toDF("doc_id", "text")
    val newSnap = Seq((2L, "b text"), (3L, "c text CHANGED"), (4L, "d text"), (5L, null: String))
      .toDF("doc_id", "text")
    val chg = TextOps.cdcChangeset(oldSnap, newSnap)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("op"))).sorted
    // only churn: removed 1, changed 3, added 4 — unchanged 2 and the
    // null-text 5 (present both sides, digest-equal) never ship
    assert(chg.toSeq == Seq((1L, "delete"), (3L, "upsert"), (4L, "upsert")))
    val merged = TextOps.cdcMerge(oldSnap, TextOps.cdcChangeset(oldSnap, newSnap))
    val got = merged.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("digest"), r.getAs[String]("src")))
    val want = newSnap.select(col("doc_id"), md5(col("text")).as("digest")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("digest")))
    assert(got.map(t => (t._1, t._2)).sortBy(_._1).toSeq == want.sortBy(_._1).toSeq)
    assert(got.map(_._1).distinct.length == got.length) // unique ids
    assert(got.collect { case (id, _, "merged") => id }.toSet == Set(3L, 4L))
  }

  test("aggIncremental: maintained view equals direct recompute, incl. vanishing/appearing sources") {
    val oldSnap = Seq(
      (1L, "sa", "one two"), (2L, "sa", "three"), (3L, "sb", "gone away"),
      (5L, "sc", "kept text"))
      .toDF("doc_id", "source", "text")
    val newSnap = Seq(
      (1L, "sa", "one two"),          // unchanged
      (2L, "sa", "three CHANGED"),    // changed
      (4L, "sd", "brand new"),        // added, NEW source
      (5L, "sc", "kept text"))        // unchanged; sb fully deleted
      .toDF("doc_id", "source", "text")
    val got = TextOps.aggIncremental(oldSnap, newSnap).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val p = 1000000007L
    def h(t: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % p
    }
    val direct = Seq(
      ("sa", 2L, 7L + 13L, h("one two") + h("three CHANGED")),
      ("sc", 1L, 9L, h("kept text")),
      ("sd", 1L, 9L, h("brand new")))
    assert(got.toSeq == direct, s"got ${got.toSeq}")
    // sb must NOT appear (all its docs deleted -> n_docs would be 0)
    assert(!got.exists(_._1 == "sb"))
  }

  test("q_cdc_merge gate key: output equals the edited new snapshot digest-for-digest") {
    val docs = graft.Tables.documents(spark, sfDir)
    val snapB = pmod(TextOps.baseHash60(concat(lit("snap:"), col("doc_id").cast("string"))), lit(10L))
    val modB = pmod(TextOps.baseHash60(concat(lit("mod:"), col("doc_id").cast("string"))), lit(5L))
    val edited = when(modB === 0, concat(col("text"), lit(" rev2"))).otherwise(col("text"))
    val newSnap = docs.filter(snapB >= 2).withColumn("text", edited)
      .select(col("doc_id"), md5(col("text")).as("digest"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("digest"))).sortBy(_._1)
    val got = TextOps.qCdcMerge(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("digest"), r.getAs[String]("src")))
    assert(got.map(t => (t._1, t._2)).toSeq == newSnap.toSeq)
    // both provenances occur (base survivors and merged upserts)
    assert(got.map(_._3).toSet == Set("base", "merged"))
  }

  test("q_snapshot_diff gate key: every doc_id appears once, all statuses occur") {
    val out = TextOps.qSnapshotDiff(spark, sfDir).collect()
    val ids = out.map(_.getAs[Long]("doc_id"))
    assert(ids.distinct.length == ids.length)
    val statuses = out.map(_.getAs[String]("status")).toSet
    assert(statuses == Set("added", "removed", "changed", "unchanged"), s"$statuses")
  }

  test("domainShift: identical sources share KL, an alien source scores higher") {
    val common = sentence(7, 120)
    val docs = Seq(
      (1L, "sa", common), (2L, "sb", common),          // same distribution
      (3L, "sc", Vector.fill(120)("qqqzz").mkString(" ")) // alien tokens
    ).toDF("doc_id", "source", "text")
    val out = TextOps.domainShift(docs).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("kl"))).toMap
    assert(out("sa") == out("sb"))                      // identical text → identical KL
    assert(out("sc")._2 > out("sa")._2, s"$out")        // alien source drifts more
    assert(out("sa")._1 == 120L && out("sc")._1 == 120L)
    assert(out.values.forall(_._2 >= 0.0))              // KL is non-negative
  }

  test("qualityTailsBySource adapts cuts per source where a global cut cannot") {
    val out = TextOps.qQualityTailsBySource(spark, sfDir).collect()
    val bySrc = out.groupBy(_.getAs[String]("source"))
    assert(bySrc.size > 1)
    for ((_, rows) <- bySrc) {
      // per-source cuts are constant within the source and consistent
      val p10s = rows.map(_.getAs[Double]("p10")).distinct
      val p90s = rows.map(_.getAs[Double]("p90")).distinct
      assert(p10s.length == 1 && p90s.length == 1)
      assert(p10s.head <= p90s.head)
      rows.foreach { r =>
        val (s, t) = (r.getAs[Double]("avg_nll"), r.getAs[String]("tail"))
        val expect = if (s <= p10s.head) "low" else if (s >= p90s.head) "high" else "mid"
        assert(t == expect, s"score $s cut (${p10s.head},${p90s.head}) got $t")
      }
      // the tail mass is per-source: every source has scores at/below
      // its own p10 and at/above its own p90
      assert(rows.exists(_.getAs[String]("tail") == "low"))
      assert(rows.exists(_.getAs[String]("tail") == "high"))
    }
  }

  test("splitLeakage flags only dup content crossing split boundaries") {
    // find two doc_ids landing in different splits under the real cut
    val split = text.Sampling.splitAssign(col("id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val assigns = spark.range(0, 200).select(col("id"), split.as("s"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val trainId = assigns.collectFirst { case (i, "train") => i }.get
    val valId = assigns.collectFirst { case (i, "val") => i }.get
    val Array(_, train2, train3) = assigns.collect { case (i, "train") => i }.take(3)
    val docs = Seq(
      (trainId, "leaked body"), (valId, "leaked body"),     // crosses train/val
      (train2, "train-only dup"), (train3, "train-only dup"), // same-split dup: NOT leakage
      (trainId + 1000, "unique text")
    ).toDF("doc_id", "text")
    val out = TextOps.splitLeakage(docs).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_docs") == 2 && r.getAs[Long]("n_splits") == 2)
    assert(r.getAs[Int]("in_train") == 1 && r.getAs[Int]("in_val") == 1
      && r.getAs[Int]("in_test") == 0)
    assert(r.getAs[Long]("min_id") == math.min(trainId, valId))
  }

  test("q_split_leakage gate key: corpus dups do leak across the real splits") {
    val out = TextOps.qSplitLeakage(spark, sfDir).collect()
    assert(out.nonEmpty, "no cross-split dups at sf0.001 - gate key is vacuous")
    assert(out.forall(_.getAs[Long]("n_splits") > 1))
  }

  test("containmentPairs flags an excerpt Jaccard misses") {
    val base = sentence(5, 80)
    val excerpt = base.split(" ").take(20).mkString(" ")
    val docs = Seq(
      (1L, base), (2L, excerpt), (3L, sentence(42, 80))
    ).toDF("doc_id", "text")
    val out = TextOps.containmentPairs(docs).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("containment"), r.getAs[Double]("jaccard")))
    assert(out.length == 1)
    val (a, b, c, j) = out.head
    assert((a, b) == (1L, 2L))
    assert(c == 1.0, s"containment $c")        // excerpt shingles ⊂ base
    assert(j < 0.5, s"jaccard $j misses what containment catches")
  }

  test("q_dedup_containment gate key: planted prefix twins surface at containment 1") {
    val out = TextOps.qDedupContainment(spark, sfDir).collect()
    val off = TextOps.containmentTwinOffset
    val planted = out.filter(r => r.getAs[Long]("id_b") >= off &&
      r.getAs[Long]("id_b") - off == r.getAs[Long]("id_a"))
    assert(planted.nonEmpty)
    assert(planted.forall(_.getAs[Double]("containment") == 1.0))
  }

  test("bpeMergePairs counts occurrence-weighted adjacent pairs over the vocab") {
    val docs = Seq(
      (1L, "aaab aaab"), (2L, "aaab zz")
    ).toDF("doc_id", "text")
    val out = TextOps.bpeMergePairs(docs).collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("pc"), r.getAs[Int]("rank")))
    // "aaab" ×3 yields pairs aa,aa,ab per occurrence → aa:6, ab:3; "zz" ×1 → zz:1
    assert(out.toList == List(("aa", 6L, 1), ("ab", 3L, 2), ("zz", 1L, 3)), s"${out.toList}")
  }

  test("soft dedup weights are 1/cluster and sum to the distinct-content count") {
    val out = text.TextOps.qSoftDedup(spark, sfDir).cache()
    try {
      assert(out.count() == Tables.documents(spark, sfDir).count(), "every doc keeps a row")
      // sum of weights = number of distinct texts (each cluster sums to ~1)
      val distinctTexts = Tables.documents(spark, sfDir)
        .select(md5(col("text"))).distinct().count()
      val wsum = out.agg(sum("weight")).head().getDouble(0)
      assert(math.abs(wsum - distinctTexts) < 0.01, s"$wsum vs $distinctTexts")
      // singletons keep weight exactly 1 (sf0.001 has no planted dups —
      // measured; the dup path is pinned by the synthetic frame below)
      assert(out.filter(col("cluster_size") === 1 && col("weight") =!= 1.0).count() == 0)
      // synthetic: 3 copies + 1 unique -> weights 1/3,1/3,1/3,1
      import spark.implicits._
      val syn = Seq((1L, "same"), (2L, "same"), (3L, "same"), (4L, "uniq"))
        .toDF("doc_id", "text")
      val c = syn.groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("n"))
      val w = syn.select(col("doc_id"), md5(col("text")).as("h")).join(c, "h")
        .select(col("doc_id"), round(lit(1.0) / col("n").cast("double"), 6).as("w"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(w(1L) == 0.333333 && w(4L) == 1.0, s"$w")
    } finally out.unpersist()
  }

  test("zipf fit yields a negative slope matching a local recomputation") {
    val r = text.TextOps.qZipfFit(spark, sfDir).head()
    assert(r.getAs[Long]("vocab_size") > 10)
    val slope = r.getAs[Double]("zipf_slope")
    assert(slope < 0, s"rank-frequency slope must be negative, got $slope")
    // recompute locally from exact counts
    val counts = Tables.documents(spark, sfDir)
      .select(explode(split(lower(col("text")), " ")).as("t"))
      .groupBy("t").count().collect().map(_.getLong(1)).sortBy(-_)
    val pts = counts.zipWithIndex.map { case (c, i) =>
      (math.log(i + 1.0), math.log(c.toDouble)) }
    val n = pts.length.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val expect = (sxy - sx * sy / n) / (sxx - sx * sx / n)
    assert(math.abs(slope - expect) < 1e-3, s"$slope vs $expect")
  }

  test("npmi collocations are bounded in [-1,1] and supported") {
    val out = text.TextOps.qNpmiCollocations(spark, sfDir).cache()
    try {
      assert(out.count() > 0)
      assert(out.filter(col("c_xy") < text.TextOps.npmiMinCount).count() == 0)
      assert(out.filter(col("npmi") < -1.0 - 1e-9 || col("npmi") > 1.0 + 1e-9).count() == 0,
        "NPMI must normalize into [-1, 1]")
    } finally out.unpersist()
  }

  test("readability grade reconstructs from its own emitted components") {
    val out = text.TextOps.qReadability(spark, sfDir).cache()
    try {
      assert(out.count() == Tables.documents(spark, sfDir).count())
      val bad = out.filter(
        abs(col("fk_grade") -
          round(lit(0.39) * (col("n_words").cast("double") / col("n_sentences").cast("double")) +
            lit(11.8) * (col("n_syllables").cast("double") / col("n_words").cast("double")) -
            lit(15.59), 6)) > 1e-9)
      assert(bad.count() == 0)
      // unpunctuated corpus: sentence count degenerates to 1 (documented)
      assert(out.filter(col("n_sentences") =!= 1).count() == 0)
      assert(out.filter(col("n_syllables") < col("n_words")).count() == 0,
        "every token costs at least one syllable")
    } finally out.unpersist()
  }

  test("source concentration: shares sum to 1 and scalars reconcile") {
    val out = text.TextOps.qSourceConcentration(spark, sfDir).collect()
    val k = out.length
    assert(math.abs(out.map(_.getAs[Double]("share")).sum - 1.0) < 1e-4)
    val (hhi, ent, eff) = (out.head.getAs[Double]("hhi"),
      out.head.getAs[Double]("entropy"), out.head.getAs[Double]("effective_sources"))
    // HHI bounded by [1/k, 1]; effective count by [1, k]; exp(H) = eff
    assert(hhi >= 1.0 / k - 1e-6 && hhi <= 1.0 + 1e-9)
    assert(eff >= 1.0 - 1e-6 && eff <= k + 1e-6)
    assert(math.abs(math.exp(ent) - eff) < 1e-3)
  }

  test("vocab growth: cumulative counts reconcile with corpus totals") {
    val out = text.TextOps.qVocabGrowth(spark, sfDir).collect()
      .sortBy(_.getAs[Int]("bucket"))
    assert(out.length <= text.TextOps.vocabBuckets)
    val toks = Tables.documents(spark, sfDir)
      .select(explode(text.TextOps.tokens(lower(col("text")))).as("t"))
      .filter(col("t") =!= "")
    assert(out.last.getAs[Long]("cum_tokens") == toks.count())
    assert(out.last.getAs[Long]("cum_vocab") == toks.distinct().count())
    // cumulative columns are monotone and vocab never outruns tokens
    out.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("cum_tokens") > a.getAs[Long]("cum_tokens"))
      assert(b.getAs[Long]("cum_vocab") >= a.getAs[Long]("cum_vocab"))
    }
    out.foreach { r =>
      assert(r.getAs[Long]("cum_vocab") <= r.getAs[Long]("cum_tokens"))
      val beta = r.getAs[Double]("heaps_beta")
      assert(beta > 0.0 && beta <= 1.0, s"heaps beta $beta out of range")
    }
  }

  test("psi terms are non-negative and bins account for both splits") {
    val out = text.TextOps.qPsi(spark, sfDir).collect()
    assert(out.length == text.TextOps.psiBins)
    // (p-q)ln(p/q) >= 0 for every term, hence for the total
    out.foreach { r =>
      assert(r.getAs[Double]("psi_term") >= -1e-12)
      assert(r.getAs[Double]("psi_total") >= 0.0)
    }
    val splits = Tables.documents(spark, sfDir)
      .select(text.Sampling.splitAssign(col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("s"))
      .groupBy("s").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.map(_.getAs[Long]("n_train")).sum == splits("train"))
    assert(out.map(_.getAs[Long]("n_val")).sum == splits("val"))
    // identical-distribution sanity: both splits draw from one corpus,
    // so PSI should sit near its small-sample bias, E[PSI] ≈
    // (B−1)(1/n_train + 1/n_val) (the chi-square expectation — with a
    // 50-doc val split that is ~0.2 all by itself, so the absolute 0.2
    // rule of thumb only applies to production-sized splits)
    val bias = (text.TextOps.psiBins - 1) *
      (1.0 / splits("train") + 1.0 / splits("val"))
    assert(out.head.getAs[Double]("psi_total") < bias * 3,
      s"psi ${out.head.getAs[Double]("psi_total")} vs bias $bias")
  }

  test("CMS heavy hitters: both sketch guarantees hold and the sketch bites") {
    val out = text.TextOps.heavyHitters(spark, sfDir).collect()
    assert(out.length == text.TextOps.hhTopK)
    assert(out.forall(_.getAs[Int]("overcount_ok") == 1),
      "CMS must never undercount")
    assert(out.forall(_.getAs[Int]("within_bound") == 1),
      "CMS estimates must stay within the 2N/w collision bound")
    // the width is sized so collisions actually occur on this corpus —
    // an all-exact sketch would demonstrate nothing
    assert(out.count(r => r.getAs[Long]("cms_est") > r.getAs[Long]("n_exact")) > 5,
      "sketch should overcount most of the top-20 at w=256 over bigrams")
    // exact side cross-check: recount the #1 bigram from the raw corpus
    val top = out.head
    val recount = Tables.documents(spark, sfDir)
      .select(explode(text.TextOps.shingles(
        text.TextOps.tokens(lower(col("text"))), 2)).as("t"))
      .filter(col("t") === top.getAs[String]("token")).count()
    assert(recount == top.getAs[Long]("n_exact"))
  }

  test("qKsTest matches the brute-force max-ECDF-gap over collected lengths") {
    val r = TextOps.qKsTest(spark, sfDir).head()
    val d = r.getAs[Double]("d_stat")
    assert(d >= 0.0 && d <= 1.0)
    val rows = Tables.documents(spark, sfDir)
      .select(
        text.Sampling.splitAssign(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"),
        length(col("text")).cast("long").as("len"))
      .filter(col("split").isin("train", "val"))
      .collect().map(x => (x.getAs[String]("split"), x.getAs[Long]("len")))
    val a = rows.filter(_._1 == "train").map(_._2)
    val b = rows.filter(_._1 == "val").map(_._2)
    assert(r.getAs[Long]("n_train") == a.length.toLong &&
      r.getAs[Long]("n_val") == b.length.toLong)
    val cuts = (a ++ b).distinct.sorted
    val gaps = cuts.map(c => (c,
      math.abs(a.count(_ <= c).toDouble / a.length - b.count(_ <= c).toDouble / b.length)))
    val brute = gaps.map(_._2).max
    assert(math.abs(d - brute) < 1e-9, s"$d vs brute $brute")
    // the reported argmax length attains the max gap
    val atLen = r.getAs[Long]("at_len")
    assert(math.abs(gaps.toMap.apply(atLen) - brute) < 1e-9)
  }

  test("dedup eval: counts reconcile against the two source pipelines") {
    val r = TextOps.qDedupEval(spark, sfDir).head()
    val nTrue = r.getAs[Long]("n_true")
    val nCand = r.getAs[Long]("n_candidates")
    val nMatched = r.getAs[Long]("n_matched")
    assert(nTrue > 0 && nCand > 0, "both pipelines must produce pairs")
    assert(nMatched <= math.min(nTrue, nCand))
    assert(math.abs(r.getAs[Double]("recall") - nMatched.toDouble / nTrue) < 1e-6)
    assert(math.abs(r.getAs[Double]("band_precision") - nMatched.toDouble / nCand) < 1e-6)
    // candidates = the banded pairs the production key starts from
    val cand = TextOps.bandedCandidates(
      Tables.documents(spark, sfDir), 3).count()
    assert(cand == nCand)
  }

  test("quantile normalize: marginals converge across sources, order preserved") {
    val out = TextOps.qQuantileNormalize(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_chars"), r.getAs[Long]("norm_chars")))
    val n = Tables.documents(spark, sfDir).count()
    assert(out.length == n, "every doc normalized exactly once")
    // normalized values are drawn from the global value set
    val globalVals = out.map(_._3).toSet
    out.foreach { case (id, _, _, nv) =>
      assert(globalVals.contains(nv), s"doc $id: $nv not a corpus value") }
    // within a source, normalization preserves the length order
    out.groupBy(_._2).foreach { case (src, rows) =>
      val sorted = rows.sortBy(r => (r._3, r._1))
      sorted.map(_._4).sliding(2).foreach {
        case Array(a, b) => assert(a <= b, s"$src: order broken $a > $b")
        case _ => ()
      }
    }
    // extremes map to extremes: every source's min-rank doc lands at or
    // near the global minimum (index floor puts rank 1 at gidx 1)
    out.groupBy(_._2).foreach { case (src, rows) =>
      if (rows.length > 1) {
        val lo = rows.minBy(r => (r._3, r._1))
        assert(lo._4 == out.map(_._3).min, s"$src min-rank doc not at global min")
      }
    }
  }
}
