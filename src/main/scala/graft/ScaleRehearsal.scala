package graft

import scala.collection.immutable.VectorMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import Harness.r3

/** 100× rehearsal (round-10 verdict ask #8): synthesize an sf1-equivalent
  * corpus by unioning sf0.1 FACTOR× with consistent id offsets, then run
  * the historically-slowest keys at both scales in one session and report
  * the per-key scale ratio — the first empirical check of the "survives
  * 100×" claims (CC round counts, capped-LSH hot-bucket path, pipeline v2
  * end-to-end). A key is flagged super-linear when its time grows more
  * than 1.5× faster than the data did.
  *
  * Honest caveats, also recorded in the output JSON:
  *  - id offsets keep FK fanouts identical per copy (l_orderkey/o_custkey
  *    etc. are shifted by the same per-keyspace stride), so join plans see
  *    a faithful 10× keyspace;
  *  - text/embedding payloads are NOT perturbed, so every document gains
  *    FACTOR−1 exact twins — dedup keys face a corpus whose duplicate
  *    rate is inflated ~FACTOR×. That is the adversarially-HEAVY case for
  *    the dedup family (bigger buckets, bigger CC components), which is
  *    exactly what a blowup check wants; absolute ratios for those keys
  *    overstate a real corpus's cost.
  *  - single timed rep per scale (after an sf0.1 warm-up that compiles
  *    the shared codegen), so ±10% noise; the signal sought is 10× vs
  *    100×, not 1.1×.
  */
object ScaleRehearsal {
  private val IdStrides: Map[String, Seq[(String, String)]] = Map(
    // table -> (column, keyspace) pairs; stride per keyspace = max+1 at src
    "customer" -> Seq("c_custkey" -> "cust"),
    "orders" -> Seq("o_orderkey" -> "order", "o_custkey" -> "cust"),
    "lineitem" -> Seq("l_orderkey" -> "order", "l_partkey" -> "part", "l_suppkey" -> "supp"),
    "part" -> Seq("p_partkey" -> "part"),
    "supplier" -> Seq("s_suppkey" -> "supp"),
    // user_id REFERENCES custkeys (q_join_asof joins events.user_id =
    // orders.o_custkey), so it must share the 'cust' keyspace stride —
    // a private 'user' stride would break the FK in the scaled copies
    // and distort any events-to-orders join fanout (r11 advice)
    "events" -> Seq("event_id" -> "event", "user_id" -> "cust"),
    "documents" -> Seq("doc_id" -> "doc"),
    "embeddings" -> Seq("vec_id" -> "vec"))
  private val CopyOnly = Seq("region", "nation")

  private val DefaultKeys = Seq(
    "q_dedup_cluster", "q_dedup_cluster_star", "q_dedup_cluster_banded",
    "q_llm_pipeline", "q_llm_pipeline_v2", "q_dedup_embedding_lsh_capped",
    "q_dedup_minhash", "q_dedup_embedding_cluster", "q_quality_repetition",
    "q_dedup_substring",
    // r11 token-stream-heavy additions: bigram's (a,b) corpus agg, the
    // DSIR bucket pass, and chunking's corpus-linear output
    "q_quality_bigram", "q_dsir_weights", "q_chunk_overlap",
    // r12 (verdict ask #3): the heaviest never-rehearsed plans by
    // exchange count × clean-solo time — token-stream aggs, the window
    // family, funnel's 9 exchanges, relevance scoring, the remaining
    // dedups, and the new composed ANN serving key; q_join_asof joins
    // events→orders, rehearsable now that user_id shares the cust stride
    "q_quality_unigram", "q_agg_multi_distinct", "q_decontaminate",
    "q_dedup_ngram", "q_profile", "q_histogram", "q_window_tumbling",
    "q_window_sliding", "q_window_session", "q_funnel", "q_tfidf",
    "q_bm25_search", "q_dedup_simhash_banded", "q_dedup_paragraph",
    "q_agg_rollup", "q_agg_groupby", "q_dedup_embedding_lsh_capped_fixed",
    "q_join_asof", "q_ivf_pq_topk")

  def synthesize(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    // stride per keyspace: max(id)+1 over every column mapped to it, so
    // shifted copies can never collide across tables sharing the space
    val strides: Map[String, Long] = IdStrides.toSeq
      .flatMap { case (t, cols) =>
        val df = spark.read.parquet(s"$src/$t.parquet")
        cols.map { case (c, ks) =>
          ks -> (df.agg(max(col(c))).head().getLong(0) + 1L)
        }
      }
      .groupMapReduce(_._1)(_._2)(math.max)
    for (t <- CopyOnly)
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    for ((t, cols) <- IdStrides) {
      val base = spark.read.parquet(s"$src/$t.parquet")
      val scaled = (0 until factor).map { i =>
        cols.foldLeft(base) { case (df, (c, ks)) =>
          df.withColumn(c, (col(c) + lit(i * strides(ks))).cast(df.schema(c).dataType))
        }
      }.reduce(_ union _)
      scaled.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val dst = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/testdata_sf1")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "BENCH_SF1_SAMPLE.json")
    val keys = sys.env.get("SPARK_GRAFT_SCALE_KEYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(DefaultKeys)
    val spark = Harness.session()
    val unknown = keys.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    // the marker carries src, factor AND a synth-layout version — the
    // content is CHECKED, not just the existence, so a stride-mapping
    // change (e.g. r12's events.user_id → cust keyspace) invalidates a
    // stale corpus instead of silently rehearsing against it
    val synthStamp = s"$src x$factor synth-v2 (events.user_id in cust keyspace)"
    val marker = java.nio.file.Paths.get(dst, "_SYNTH_OK")
    val stale = !java.nio.file.Files.exists(marker) ||
      new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim != synthStamp
    if (stale || sys.env.contains("SPARK_GRAFT_SCALE_REBUILD")) {
      System.err.println(s"[scale] synthesizing $dst = $synthStamp ...")
      synthesize(spark, src, dst, factor)
      java.nio.file.Files.write(marker, (synthStamp + "\n").getBytes("UTF-8"))
    } else System.err.println(s"[scale] reusing $dst ($synthStamp)")

    def time(key: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(key)(spark, dir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Harness.releasePinned(spark)
      dt
    }
    def outRows(key: String, dir: String): Long = {
      val n = SparkEntry.queries(key)(spark, dir).count()
      Harness.releasePinned(spark)
      n
    }
    final case class K(base: Double, scaled: Double, ratio: Double,
                       rows: Option[(Long, Long, Double)])
    val rows = keys.map { k =>
      try {
        time(k, src) // warm-up: compiles the key's codegen against the same schema
        // base = median of 3 (cheap at sf0.1, and a single GC-hit rep
        // otherwise poisons the ratio — observed an 18 s outlier on a
        // 7 s-median key); scaled stays 1 rep (it's the expensive side)
        val base = {
          val ts = Vector.fill(3)(time(k, src)).sorted
          ts(1)
        }
        System.err.println(s"[scale] $k base ${r3(base)} s, running x$factor ...")
        // warm the scaled dir too: one-time durable setup (bucketed
        // layout build, stream staging) otherwise lands in the timed
        // rep and reads as super-linear QUERY work when it is Θ(data)
        // amortized BUILD work (q_join_bucketed measured 17.8x with
        // identical output before this; 1.04x after). Both sides now
        // measure steady-state query cost.
        time(k, dst)
        val scaled = time(k, dst)
        val ratio = if (base > 0) scaled / base else Double.NaN
        System.err.println(s"[scale] $k scaled ${r3(scaled)} s ratio ${r3(ratio)}")
        // a time ratio outrunning the data growth is only a defect if it
        // also outruns the OUTPUT growth — pair-emitting keys are
        // Ω(result rows) by contract (e.g. exact-dup groups of size g
        // owe C(g,2) pairs), so adjudicate flagged keys by counting
        // their result at both scales (measured: q_dedup_minhash time
        // x27 vs pairs x966 on the x10 corpus — output-bound).
        // Counts are recorded for EVERY key above 1.0x the data factor
        // (r12, verdict ask #2): r11's banded-CC key sat at 11.45x —
        // under the flag cutoff's noise floor but with no output-growth
        // evidence in the artifact; now the evidence is always there
        // for any key that outran the data at all
        val counts = if (ratio > factor) {
          val (rb, rs) = (outRows(k, src), outRows(k, dst))
          val or = if (rb > 0) rs.toDouble / rb else Double.NaN
          System.err.println(s"[scale] $k output rows $rb -> $rs (x${r3(or)})")
          Some((rb, rs, or))
        } else None
        k -> Right(K(base, scaled, ratio, counts))
      } catch { case t: Throwable => k -> Left(Harness.errorText(t)) }
    }
    // flagged keys split by the adjudication: output-bound (time grew no
    // faster than the result did — intrinsic, not a plan defect) vs
    // genuinely super-linear in work. The 1.25 tolerance keeps single-rep
    // scaled-timing noise (a measured 11.2x on a 10x corpus with exactly
    // 10x output) from masquerading as a blowup — the signal sought is
    // 10x vs 100x, not 1.1x.
    val flagged = rows.collect { case (k, Right(v)) if v.ratio > factor * 1.25 => (k, v) }
    val outputBound = flagged.collect {
      case (k, v) if v.rows.exists(r => v.ratio <= r._3 * 1.25) => k }
    val superLinear = flagged.map(_._1).filterNot(outputBound.contains)
    val keysJson = VectorMap.from(rows.map {
      case (k, Right(v)) => k -> VectorMap.from(Seq("base_sec" -> r3(v.base),
        "scaled_sec" -> r3(v.scaled), "ratio" -> r3(v.ratio)) ++ v.rows.toSeq.flatMap {
          case (rb, rs, or) => Seq("rows_base" -> rb, "rows_scaled" -> rs, "rows_ratio" -> r3(or)) })
      case (k, Left(e)) => k -> Map("error" -> e)
    })
    val note = s"scaled corpus = $src unioned x$factor with per-keyspace id strides (events.user_id shares the cust stride so events-to-orders FK fanout is faithful); payloads unperturbed so dedup keys see ~${factor}x duplicate rate (adversarially heavy); base = median of 3 reps at $src, scaled = 1 rep after warm-up; output rows_base/rows_scaled recorded for EVERY key whose time ratio exceeds the data factor; keys with time ratio > 1.25x the data growth are adjudicated against that OUTPUT growth: output_bound = result grew at least as fast as time (within the same 1.25 noise tolerance; intrinsic, production mitigation = exact-dedup-first composition as in q_llm_pipeline*), super_linear = work genuinely outran both"
    println(Harness.writeJson(outFile, VectorMap("note" -> note, "factor" -> factor,
      "src" -> src, "scaled_dir" -> dst, "keys" -> keysJson, "output_bound" -> outputBound,
      "super_linear" -> superLinear, "n_keys" -> keys.size, "n_errors" -> rows.count(_._2.isLeft))))
    spark.stop()
    if (rows.exists(_._2.isLeft)) sys.exit(1)
  }
}
