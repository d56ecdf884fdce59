package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ReusedSubqueryExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Dev tool: physical-plan audit over every registered query — the
  * "would this survive 100×" review (SURVEY.md §4.2) as a runnable
  * check instead of a one-off. Prints per query: number of shuffle
  * exchanges, broadcast exchanges, whole-stage-codegen spans, and flags
  * cartesian/broadcast-nested-loop joins (expected only where a query
  * is intentionally a bounded cross product). The counters walk the
  * final adaptive physical tree (descending into query stages) — string
  * parsing of the formatted explain undercounts under AQE. */
object PlanAudit {

  /** Runs the DataFrame (so AQE finalizes) and returns the executed
    * physical plan — the final adaptive tree, not the initial one. */
  def executedPlan(df: DataFrame): SparkPlan = {
    // toRdd.foreach runs THIS queryExecution so AQE finalizes it
    // (count()/a noop write wrap a different plan and leave it initial)
    // while keeping every row on the executors — collect() here would
    // pull the full result into the driver just for a plan inspection
    df.queryExecution.toRdd.foreach(_ => ())
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** Flattened node list of the executed tree, descending into AQE
    * query stages, nested adaptive plans, and subquery plans hanging
    * off expressions (scalar/IN subqueries run real exchanges too —
    * skipping them would undercount). Reused exchanges/subqueries are
    * leaves (the work happens once at the original — following them
    * would double-count). */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case _: ReusedSubqueryExec => Nil
      case qs: QueryStageExec => Seq(qs.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case _ => p.children
    }
    p +: (kids ++ p.subqueries).flatMap(nodes)
  }

  def shuffles(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[ShuffleExchangeLike])
  def broadcasts(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[BroadcastExchangeLike])
  def sorts(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[SortExec])
  def codegenSpans(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[WholeStageCodegenExec])
  def hasCross(p: SparkPlan): Boolean = nodes(p).exists(n =>
    n.isInstanceOf[CartesianProductExec] || n.isInstanceOf[BroadcastNestedLoopJoinExec])

  /** Physical windows with NO real partitioning (empty spec, or all-
    * foldable like `partitionBy(lit(0))`) — each executes in ONE task
    * over its whole input: the single-reducer-sort class the r13
    * verdict flagged. Bounded-by-design frames (histogram bins, the
    * ScalableRank ≤`buckets`-row offset frames) are whitelisted per
    * query, same mechanism as cross(by-design). */
  def globalWindows(p: SparkPlan): Int = nodes(p).count {
    case w: WindowExec => w.partitionSpec.forall(_.foldable)
    case w: WindowGroupLimitExec => w.partitionSpec.forall(_.foldable)
    case _ => false
  }

  /** Keys whose partition-less physical windows are ALL bounded by
    * construction (r14 audit sweep) — the window(by-design) whitelist,
    * same mechanism as cross(by-design). Two bounded families:
    *
    * (a) the ScalableRank/shufflePositions device's own ≤`buckets`-row
    *     offset/carry windows (the device EXISTS to remove data-sized
    *     global windows): q_gini, q_rfm, q_quantile_normalize,
    *     q_nn_match, q_propensity_strata, q_gains_curve,
    *     q_manifest_prune, q_zipf_fit, q_shuffle_order.
    *
    * (b) frames bounded by value granularity or query constants, never
    *     by corpus size: q_acf (≤|hours|), q_auc_exact /
    *     q_eval_metrics / q_roc_curve / q_lift_curve (≤10⁶ distinct
    *     6-dp scores / fixed bins), q_bpe_merge (alphabet² pair frame,
    *     rank≤topN), q_chi2_independence / q_woe_iv (contingency
    *     cells / bins), q_decision_stump / q_skyline (distinct
    *     quantity / size values ≤ 50), q_growth_accounting (weeks),
    *     q_ks_test (distinct lengths), q_pca_power (d×d),
    *     q_rank_fusion (two ≤rrfPerList top lists), q_retention_curve
    *     (day spans), q_ridge_grid (λ grid), q_string_index (the
    *     categorical vocabulary — bounded by the transformer's
    *     contract), q_survival_km (≤49 event hours), q_vocab_growth
    *     (256 hash buckets).
    *
    * Any OTHER key planning a partition-less window flags
    * UNEXPECTED-WINDOW — the structural gate for the single-reducer-
    * sort class (r13 verdict item 8). */
  val expectedGlobalWindow: Set[String] = Set(
    "q_gini", "q_rfm", "q_quantile_normalize", "q_nn_match",
    "q_propensity_strata", "q_gains_curve", "q_manifest_prune",
    "q_zipf_fit", "q_shuffle_order",
    "q_acf", "q_auc_exact", "q_bpe_merge", "q_chi2_independence",
    "q_decision_stump", "q_eval_metrics", "q_growth_accounting",
    "q_ks_test", "q_lift_curve", "q_pca_power", "q_rank_fusion",
    "q_retention_curve", "q_ridge_grid", "q_roc_curve", "q_skyline",
    "q_string_index", "q_survival_km", "q_vocab_growth", "q_woe_iv")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // 8 cores on any box, so the table compares across boxes
    val spark = Harness.session(cores = 8, logLevel = "ERROR")

    // bounded-by-design cross products (small broadcast side); ivf's are
    // the K-centroid assignment/probe broadcasts — the IVF contract
    // q_bloom_join / q_tfidf / q_bm25_search broadcast a ONE-ROW frame
    // (the bloom bitmap / corpus-scalar aggregates) — a bounded cross by
    // construction, the in-plan alternative to collecting a scalar
    // q_eval_metrics crosses its two ONE-ROW aggregates (confusion
    // counts x AUC accumulator) — also bounded by construction
    // q_quality_unigram / q_domain_mix cross ONE-ROW aggregates too
    // (corpus token total / binding mixture capacity)
    // q_gap_fill crosses the ONE-ROW day-bounds aggregate into the
    // distinct-user set to generate the spine — bounded by construction
    // q_llm_pipeline_v2 embeds the unigram-score + tail-cut stages, so
    // it inherits their one-row crosses (corpus total, percentile cuts)
    // q_domain_mix_temp crosses its TWO one-row aggregates (corpus
    // total, √p normalizer); q_ivf_topk_fixed inherits the IVF
    // K-centroid broadcast crosses
    // q_ann_topk_int8 shares q_cosine_topk's bounded 8-query broadcast;
    // q_dsir_weights crosses its one-row (ns, nt) totals frame
    // q_ivf_pq_topk inherits q_ivf_topk_fixed's K-centroid assignment/
    // probe broadcast crosses (the PQ side adds only equi-joins)
    // q_domain_shift crosses two agg-derived frames bounded by
    // construction: distinct sources × the fixed 256-bucket axis, plus
    // the one-row corpus grand total
    // q_knn_label_noise shares q_cosine_topk's bounded 64-probe broadcast
    // q_hll_merge crosses its ONE-ROW exact-corpus-distinct aggregate
    // into the one-row merged-sketch frame — bounded by construction
    // q_retention_curve / q_cooccur_lift cross a ONE-ROW total
    // (user count / distinct-order count) into a tiny scored frame
    // q_npmi_collocations crosses its TWO one-row corpus totals
    // (token count, pair count) into the small surviving bigram table
    // q_rfm crosses its ONE-ROW anchor-date aggregate; q_target_encoding
    // its ONE-ROW global-prior aggregate; q_heavy_hitters its ONE-ROW
    // corpus token total; q_seasonal_profile its ONE-ROW global-mean
    // aggregate — all bounded by construction
    // q_benford crosses its ONE-ROW digit total; q_psi its ONE-ROW
    // split totals and ONE-ROW DECIMAL psi total
    // q_ks_test crosses its ONE-ROW split-totals aggregate into the
    // distinct-length frame; q_acf its ONE-ROW (n, S) totals into the
    // ≤|hours| spine — both bounded by construction
    // q_theil_index crosses its ONE-ROW grand total into the
    // ≤|regions| frame (and the ONE-ROW decomposition total back);
    // q_kcore's per-round ledger crosses two ONE-ROW count aggregates
    // q_naive_bayes builds its likelihood grid as vocab × the tiny
    // broadcast class frame (the q_domain_shift grid device) plus two
    // one-row broadcasts (vocab size, train-doc total) — all bounded
    // q_silhouette crosses every point with the K-row broadcast
    // centroid frame (the q_cosine_topk bounded-probe class)
    // q_degree_powerlaw crosses its ONE-ROW d_min and ONE-ROW alpha
    // frames into the ≤|degrees| histogram; q_fano_dispersion the
    // ONE-ROW day-bounds aggregate (the gap_fill spine device)
    val expectedCross = Set("q_ks_test", "q_acf", "q_theil_index", "q_kcore",
      "q_degree_powerlaw", "q_fano_dispersion","q_cosine_topk", "q_ann_topk_int8", "q_dsir_weights",
      "q_rfm", "q_target_encoding", "q_heavy_hitters", "q_seasonal_profile",
      "q_benford", "q_psi", "q_mutual_info",
      "q_source_concentration", "q_robust_scale", "q_cuped", "q_winsorized_mean",
      "q_hll_merge", "q_retention_curve", "q_cooccur_lift", "q_npmi_collocations",
      "q_domain_shift", "q_knn_label_noise", "q_naive_bayes", "q_silhouette",
      "q_lloyd_round", // the same K-row broadcast assignment cross as IVF
      "q_quantile_normalize", // ONE-ROW corpus-count broadcast cross
      "q_conformal_interval", // ONE-ROW (a,b)/percentile/coverage crosses
      "q_dedup_eval", // three ONE-ROW count aggregates crossed
      "q_dedup_embedding",
      "q_minmax_scale", "q_ivf_topk", "q_ivf_topk_fixed", "q_ivf_pq_topk",
      "q_eval_metrics",
      // the evaluator curves cross their ONE-ROW totals aggregate into
      // the <=256-row bin frame — bounded by construction
      "q_roc_curve", "q_lift_curve",
      "q_bloom_join", "q_tfidf", "q_bm25_search",
      "q_rank_fusion", // inherits bm25's + vsm's one-row corpus-stat crosses
      "q_quality_unigram", "q_domain_mix", "q_domain_mix_temp", "q_quality_tails",
      "q_quality_tails_by_source", // inherits the unigram one-row totals cross
      "q_gap_fill", "q_llm_pipeline_v2",
      "q_llm_pipeline_v3") // inherits v2's one-row tail-cut crosses

    // SPARK_GRAFT_AUDIT_KEYS=q_a,q_b restricts the audit — the targeted
    // loop for re-auditing a changed key without the full 265-plan sweep
    val only = sys.env.get("SPARK_GRAFT_AUDIT_KEYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    println(f"${"query"}%-24s ${"exch"}%5s ${"bcast"}%5s ${"sort"}%5s ${"wscg"}%5s ${"gwin"}%5s  flags")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val plan = executedPlan(fn(spark, sfDir))
        val cross = hasCross(plan)
        val gwin = globalWindows(plan)
        val flags = Seq(
          if (cross && !expectedCross.contains(name)) "UNEXPECTED-CROSS"
          else if (cross) "cross(by-design)" else "",
          if (gwin > 0 && !expectedGlobalWindow.contains(name)) "UNEXPECTED-WINDOW"
          else if (gwin > 0) "window(by-design)" else ""
        ).filter(_.nonEmpty).mkString(" ")
        println(f"$name%-24s ${shuffles(plan)}%5d ${broadcasts(plan)}%5d " +
          f"${sorts(plan)}%5d ${codegenSpans(plan)}%5d $gwin%5d  $flags")
      } catch {
        case e: Throwable => println(f"$name%-24s ERROR ${e.getMessage.take(60)}")
      }
    }
    spark.stop()
  }
}
