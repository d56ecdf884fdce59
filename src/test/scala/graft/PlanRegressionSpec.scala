package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, Expression, StringSplit}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.graph.ConnectedComponents

/** Pins shuffle-Exchange and Sort counts of the heaviest gate queries so
  * a plan regression fails tests instead of drifting silently in bench
  * (round-2 verdict item 8). Counts are from the FINAL adaptive physical
  * tree at sf0.001 on the shared local[8] session; an increase means a
  * new shuffle/sort crept into the plan — re-pin deliberately with a
  * reason, never casually. Iterative queries (dedup_cluster*) checkpoint
  * their loop state, so the pinned count covers the final composed plan;
  * the per-round join/agg shape is covered by ConnectedComponentsSpec.
  */
class PlanRegressionSpec extends SparkSpec {

  private def counts(df: DataFrame): (Int, Int) = {
    val plan = PlanAudit.executedPlan(df)
    (PlanAudit.shuffles(plan), PlanAudit.sorts(plan))
  }

  // (query key, max shuffle exchanges, max sorts) — measured at sf0.001
  // (AQE may broadcast-convert joins at this size, so the pins reflect
  // the small-data plan; a pin breach still signals a structural change)
  private val pins = Seq(
    ("q_dedup_embedding_lsh_capped", 2, 3),
    // signature mins are LONGS (md5-derived numeric base hash) so the
    // 32 aggregates stay hash-based — a string-digest variant measured
    // here fell back to SortAggregate (+3 sorts, +2-4 s/key at sf0.1)
    ("q_dedup_minhash", 2, 1),
    ("q_dedup_ngram", 4, 1),
    ("q_dense_vec", 1, 1),
    ("q_join_asof", 3, 2),
    ("q_mlp_predict", 1, 1),
    // round-5 keys (measured at sf0.001 like the rest)
    ("q_decontaminate", 4, 1),
    // one row-local NgramStats projection (no explode, no per-gram
    // aggregation, no join): the only exchange is the output ORDER BY
    ("q_quality_repetition", 1, 1),
    ("q_pack_chunks", 2, 2),
    ("q_dedup_incremental", 3, 1),
    ("q_dedup_latest", 2, 3),
    // round-5 technique keys
    ("q_bloom_join", 3, 1),
    ("q_join_skew_salted", 1, 1),
    ("q_zorder_layout", 1, 1),
    ("q_tfidf", 6, 3),
    ("q_bm25_search", 5, 0),
    // round-6 keys: the composed pipeline is the sum of its stages'
    // shapes (gates + digest dedup + shingle join + CC rounds + keyed
    // window); simhash_banded is fingerprint agg + band self-join
    // tightened from 15/3 to the measured count: the gated, deduped
    // survivor sets are checkpoints (r17), so the final plan holds only
    // what runs after them (cluster semi-join, pack window, output sort)
    ("q_llm_pipeline", 6, 2),
    ("q_dedup_simhash_banded", 3, 1),
    // round-6 pipeline additions: substring dedup is digest-join-shaped
    // like ngram; scrub is a single codegen pass (1 exch = final sort);
    // unigram/mix carry a one-row broadcast cross each; shuffle_order's
    // 3 sorts = 256-row offset window + keyed rank + output ORDER BY —
    // the global-sort-free contract is the 4-exchange shape itself
    ("q_dedup_substring", 2, 1),
    ("q_scrub_pii", 1, 1),
    // r16 re-pin (+1): unigramScores collapses the exploded token
    // stream to per-doc (t, k) multiplicities map-side BEFORE the
    // vocabulary join — one extra, much narrower exchange; the joins
    // and the per-doc sum then move distinct-grams-per-doc rows
    // instead of the raw token stream (guide §2.3)
    ("q_quality_unigram", 5, 1),
    ("q_quality_tails", 6, 1),
    ("q_domain_mix", 4, 1),
    ("q_shuffle_order", 4, 3),
    // round-6 second wave: moments/gopher/bpe are single-agg or pure
    // map passes (1 exch = the output ORDER BY range partition);
    // ntile = keyed window exchange + window sort + output sort;
    // entropy = (doc,term) count + per-doc totals + contribution join
    // + final per-doc agg, all doc_id-co-partitioned after the first
    ("q_stats_moments", 2, 1),
    ("q_window_ntile", 2, 2),
    ("q_quality_gopher", 1, 1),
    ("q_quality_entropy", 3, 1),
    ("q_token_bpe", 1, 1),
    // round-6 time-series keys: gap_fill = daily agg + distinct-user +
    // spine join + output sort, window sorts keyed by user; funnel's 9
    // exchanges are its four stage aggregates (each 2-phase or joined)
    // over one pushdown-filtered scan — every post-stage-1 table is
    // user-count-bounded and shrinking; cohort = first-order agg +
    // activity distinct + (cohort,offset) agg + output sort
    ("q_gap_fill", 4, 2),
    ("q_funnel", 9, 1),
    ("q_cohort", 4, 1),
    // round-10 keys: capped_fixed = 2 tables x (signature agg + bucket
    // self-join with broadcast counts) + cross-table pair dedup + output
    // sort; dedup_url = countDistinct two-phase agg + output sort;
    // mix_temp = domain agg + two one-row broadcast crosses + sort;
    // ivf_fixed = assignment/probe windows keyed on cid/qid (broadcast
    // centroids — no corpus exchange beyond the keyed windows)
    // tightened 6 → 4 (the parent measures 6): the HotKeys star device
    // reads each table's hot reps off its ONE count aggregate and takes
    // the rep vectors from a broadcast of the hot keys' rep rows, so the
    // separate per-table reps aggregate and its exchange are gone
    ("q_dedup_embedding_lsh_capped_fixed", 4, 3),
    ("q_dedup_url", 3, 1),
    ("q_domain_mix_temp", 4, 1),
    ("q_ivf_topk_fixed", 4, 7),
    // round-11 keys: bucketed join = agg exchange + output sort only
    // (bucketed scans feed the SMJ sorts directly, NO join exchange —
    // the exchange-free-subtree claim itself is BucketedJoinSpec's);
    // grouping_sets (Dataset API) = Expand + 2-phase agg + output sort;
    // quantize = pure map pass + output sort; ann_int8 = bounded probe
    // cross + per-query window + output sort; approx_distinct = HLL +
    // exact countDistinct expand (2-phase x partial) + output sort
    ("q_join_bucketed", 2, 3),
    ("q_agg_grouping_sets", 2, 1),
    ("q_embedding_quantize", 1, 1),
    ("q_ann_topk_int8", 2, 3),
    ("q_approx_distinct", 3, 1),
    // bigram = (a,b)+(a) corpus aggs + two equi-joins + doc agg + sort;
    // chunk = pure map pass (1 exch = output sort); dsir = ONE
    // conditional corpus agg (src+tgt in a single pass) + 256-row stats
    // agg + broadcast rates join + doc agg + sort
    // r16 re-pin (+2): the unigram multiplicity collapse one level up —
    // per-doc (a, b, k) rows before the two vocabulary joins
    ("q_quality_bigram", 6, 1),
    ("q_chunk_overlap", 1, 1),
    // r16 re-pin (+2): per-doc (lang, b, k) collapse; the aggregate's
    // exchange is REUSED by both consumers, which is the point — the
    // old single-pass projection re-ran the explode AND the per-token
    // md5 bucket hash once per consumer
    ("q_dsir_weights", 7, 1),
    // pq = encode argmin agg + ADC (qid,cid) agg + per-qid window +
    // output sort; no corpus window, no cross (codebook/LUT broadcast)
    ("q_pq_topk", 4, 5),
    // r12 composed serving key: IVF assignment window (cid-keyed) +
    // encode argmin agg + probe broadcast join + pruned ADC agg +
    // per-qid window + output sort — the centroid/probe/codebook/LUT
    // sides are all broadcasts, so exchanges stay corpus-keyed
    ("q_ivf_pq_topk", 4, 8),
    // CDC family additions: each is ONE keyed window exchange + its
    // window sort + the output sort — the q_dedup_latest shape
    ("q_scd2_history", 2, 2),
    ("q_anomaly_zscore", 2, 2),
    // r12 additions: snapshot diff is digest-narrow (scan → full-outer
    // SMJ → output sort); KL drift's single corpus-sized exchange is the
    // (source, bucket) agg — the other nine move ≤ |sources|·256-row
    // frames; BPE pairs shuffle the distinct vocab, then ≤ alphabet²
    ("q_snapshot_diff", 3, 3),
    ("q_domain_shift", 10, 1),
    ("q_bpe_merge", 2, 1),
    // df-capped 5-shingle equi-join (the ngram family shape); the two
    // broadcasts are the hot-set anti-join + a count side
    ("q_dedup_containment", 3, 1),
    // NFC canonicalization: pure per-row codegen + output sort
    ("q_text_normalize", 1, 1),
    // sign random projection: unrolled per-row arithmetic chains +
    // the explode + output sort — zero joins/aggs
    ("q_random_projection", 1, 1),
    // boilerplate mining: explode → (gram, doc) collapse → gram agg →
    // bounded top-k sort; no join anywhere
    ("q_boilerplate_ngrams", 2, 0),
    // leakage = one digest-keyed agg + output sort; knn's sorts are the
    // top-k + vote windows over ≤ probes·k rows
    ("q_split_leakage", 3, 1),
    ("q_knn_label_noise", 3, 6),
    // unigram scores + grouped exact percentile + |sources|-row rejoin
    // r16 re-pin (+2): inherits the unigram collapse's extra narrow
    // exchange, plus the per-source cut aggregate over the keyed frame
    ("q_quality_tails_by_source", 7, 1),
    // JSONL scan → source-keyed agg (the write is eager, pre-plan)
    ("q_ingest_jsonl", 2, 1),
    // CSV twin: identical post-write plan shape
    ("q_ingest_csv", 2, 1),
    // ORC twin: identical post-write plan shape (columnar scan)
    ("q_ingest_orc", 2, 1),
    // blocked linkage: name-vocab agg + block equi-join + output sort
    ("q_join_fuzzy", 2, 1),
    // triangle counting: co-order pair join + degree agg + orientation
    // joins + wedge self-join + semi closure + corner agg + top-k
    ("q_triangle_count", 4, 0),
    // interval join: two interval aggs + the bin equi-join + the
    // candidate DISTINCT + output sort — no nested loop anywhere
    ("q_join_interval", 3, 1),
    // survivorship: post-CC plan only (rounds are checkpoint-roots) —
    // member join + election window + cluster agg + golden join + sort
    ("q_survivorship", 5, 5),
    // RRF fusion: two bounded ranking pipelines (each explode → keyed
    // aggs → top-k) + the ≤2·perList-row fusion join and windows
    ("q_rank_fusion", 10, 5),
    // DLT priority sample: per-row codegen + one source-keyed window
    // (window sort + output sort) — the q_domain_cap shape
    ("q_sample_weighted", 2, 3),
    // compaction planner: manifest agg + the part-keyed target/bin
    // windows (shared exchange) + output sort — data never moves
    ("q_compaction_plan", 3, 3),
    // manifest pruning via two ScalableRank.rangeNtile devices (r14 —
    // no single-reducer layout sorts): per device a per-bucket count
    // agg + bounded offsets exchange + keyed rank window over the
    // checkpointed keyed frame, then the (layout, file) agg + output
    // sort (a real table reads its manifest instead)
    ("q_manifest_prune", 8, 5),
    // MERGE apply: the diff's full-outer SMJ builds the changeset, one
    // doc_id-keyed anti join drops replaced/deleted base rows, the
    // upsert union rides free; + output sort
    ("q_cdc_merge", 5, 3),
    // IVM: base-view agg + churn full-outer SMJ + delta agg + the
    // |sources|-row apply join + output sort
    ("q_agg_incremental", 5, 5),
    // pagerank's 3 rounds run as ONE composed lazy plan over the
    // src-pre-partitioned checkpointed edge list: per round the ranks
    // frame shuffles to the edge layout + the dst contribution agg
    // shuffles once (2 × 3), the edge side itself never re-exchanges;
    // +final output sort — re-pin deliberately if a round's shape grows
    ("q_pagerank", 7, 1))

  // the connected-components keys, pinned on both of their paths: with
  // the driver-side finisher off, the star read of the rounds' fixpoint
  // (members off the last edge checkpoint ∪ a nodes ⋉̸ members anti
  // join: its two exchanges + the output sort's); as shipped (these
  // graphs are below the finisher's bound), the labels are a local
  // relation and the one exchange left is the final ORDER BY's range
  // partitioning. All three keys run the one CC algorithm, so _star is
  // pinned at the same measured 3/1 (it read 4/1 when its labels came
  // from a min-neighbour aggregate instead of the star read)
  private val ccPins = Seq(
    ("q_dedup_cluster", 3, 1),
    ("q_dedup_cluster_banded", 3, 1),
    ("q_dedup_cluster_star", 3, 1))
  private val ccFinisherPins = Seq(
    ("q_dedup_cluster", 1, 1),
    ("q_dedup_cluster_banded", 1, 1),
    ("q_dedup_cluster_star", 1, 1))

  private def pinTest(name: String, maxExch: Int, maxSort: Int,
                      path: String = "", rounds: Boolean = false): Unit =
    test(s"$name plan stays within $maxExch exchanges / $maxSort sorts$path") {
      def measure = counts(SparkEntry.queries(name)(spark, sfDir))
      val (e, s) =
        if (rounds) ConnectedComponents.collectRows.withValue(0)(measure) else measure
      assert(e <= maxExch && s <= maxSort,
        s"$name$path plan drifted: exchanges=$e (pin $maxExch), sorts=$s (pin $maxSort)")
      info(s"$name$path: exchanges=$e sorts=$s")
    }

  pins.foreach { case (name, maxExch, maxSort) => pinTest(name, maxExch, maxSort) }
  ccPins.foreach { case (name, maxExch, maxSort) => pinTest(name, maxExch, maxSort, rounds = true) }
  ccFinisherPins.foreach { case (name, maxExch, maxSort) =>
    pinTest(name, maxExch, maxSort, " with the driver-side finisher")
  }

  /** Optimized plans of every query `run` executes (checkpoints
    * included), plus `run`'s own result. */
  private def optimizedPlans(run: => DataFrame): Seq[LogicalPlan] = {
    var df: DataFrame = null
    val seen = actionsOf {
      df = run
      df.write.format("noop").mode("overwrite").save()
    }
    df.queryExecution.optimizedPlan +: seen.map(_._2)
  }

  test("shingling never re-splits the document inside a lambda") {
    // the quadratic form: transform(sequence(..), i -> concat_ws(' ',
    // slice(split(text, ' '), ..))) re-evaluates the split per window
    def requadratic(p: LogicalPlan): Seq[Expression] =
      p.collectWithSubqueries { case n => n.expressions }.flatten.flatMap(_.collect {
        case t: ArrayTransform if t.function.exists(_.isInstanceOf[StringSplit]) => t
      })
    val docs = Tables.documents(spark, sfDir)
    Seq[(String, () => DataFrame)](
      "shingleRows" -> (() => text.TextOps.shingleRows(docs, 3)),
      "repetitionReport" -> (() => text.TextOps.repetitionReport(docs)),
      "llmPipelineV2" -> (() => text.TextOps.llmPipelineV2(docs))
    ).foreach { case (name, run) =>
      val plans = optimizedPlans(run())
      assert(plans.size > 1, s"$name: no executed query was observed")
      val bad = plans.flatMap(requadratic)
      assert(bad.isEmpty, s"$name re-splits per shingle: ${bad.take(1).mkString}")
    }
  }
}
