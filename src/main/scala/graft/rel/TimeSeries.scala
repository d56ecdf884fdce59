package graft.rel

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.plans.Checkpointer

/** Event-stream time-series operators (SURVEY.md §2.B extension): the
  * densify / funnel / cohort shapes every product-analytics and
  * training-data-freshness pipeline needs on top of a raw event log.
  *
  * The reference (cerndb/dist-keras) has no analytics surface of its
  * own — its `examples/` notebooks lean on Spark for exactly this kind
  * of pre-training aggregation (`examples/workflow.ipynb [H]`) — so
  * these are written as the Catalyst-first plans we want at 100 TB:
  * keyed shuffles only, tiny aggregates broadcast, no driver loops.
  *
  * Determinism: timestamp mins/maxes are order-insensitive; money-ish
  * `value` sums go through DECIMAL(18,2) (testdata is exactly 2 dp);
  * day spines are data-derived via a 1-row bounds aggregate.
  */
object TimeSeries {

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))

  /** q_gap_fill — resample/densify: a complete per-user daily spine
    * (every user × every day in the observed range), daily event count
    * and value sum zero-filled, plus a running cumulative count. The
    * spine is generated, never materialized as input: a 1-row global
    * min/max aggregate cross-joined (broadcast) into the distinct-user
    * set, then `sequence()`-exploded — at 100 TB the spine is |users| ×
    * |days| rows built executor-side, and the only wide exchange is the
    * keyed left join back to the daily aggregates. */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"), col("value"))
    val daily = e.groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast("double").as("sum_value"))
    val bounds = e.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    val spine = e.select(col("user_id")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"),
        explode(sequence(col("dmin"), col("dmax"), expr("interval 1 day"))).as("day"))
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(
        col("user_id"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .withColumn("cum_n",
        sum(col("n")).over(Window.partitionBy(col("user_id")).orderBy(col("day"))))
      .orderBy("user_id", "day")
  }

  /** Stage-to-stage conversion window (hours). 24 h discriminates at
    * every test scale (sf0.01: 150 → 60 → 25 users); an unbounded
    * window is degenerate on dense event data — every user eventually
    * converts. Interpolated into the oracle SQL from here. */
  val funnelWindowHours = 24

  /** q_funnel — ordered-sequence conversion: users reaching view →
    * click-within-24h-of-first-view → purchase-within-24h-of-that-
    * click, as stage counts. Each stage is a keyed min-aggregate joined
    * to the previous stage's thresholds (MIN is order-insensitive, so
    * no decimal device is needed); the per-stage threshold tables
    * shrink monotonically and auto-broadcast. This is the decorrelated
    * form of the classic "sequence match" — no window over the full
    * event log, no per-user collect. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val win = expr(s"interval $funnelWindowHours hours")
    val e = Tables.events(spark, dir).select(col("user_id"), col("event_type"), col("ts"))
    val t1 = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = e.filter(col("event_type") === "click")
      .join(t1, "user_id").where(col("ts") > col("t1") && col("ts") <= col("t1") + win)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val t3 = e.filter(col("event_type") === "purchase")
      .join(t2, "user_id").where(col("ts") > col("t2") && col("ts") <= col("t2") + win)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val all = e.agg(count_distinct(col("user_id")).as("n_users"))
      .select(lit("0_all").as("stage"), col("n_users"))
    def stageCount(df: DataFrame, label: String) =
      df.agg(count(lit(1)).as("n_users")).select(lit(label).as("stage"), col("n_users"))
    all.unionAll(stageCount(t1, "1_view"))
      .unionAll(stageCount(t2, "2_click"))
      .unionAll(stageCount(t3, "3_purchase"))
      .orderBy("stage")
  }

  /** q_cohort — retention matrix over orders (1995–2001, ~80 monthly
    * cohorts; the events table is 30 days of uniformly dense activity,
    * which cohorts degenerately — measured, not guessed): customers
    * grouped by first-order month, distinct-customer counts per
    * (cohort month, month offset). First-seen is a keyed min; the
    * (customer, cohort, month) activity set is de-duplicated BEFORE the
    * count-distinct aggregate so the wide exchange carries one row per
    * customer-month, not one per order. Month-truncated timestamps
    * subtract to exact month multiples in both engines, so the integer
    * cast is safe. */
  def cohort(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(
        col("o_custkey"),
        date_trunc("month", col("o_orderdate").cast("date")).cast("timestamp_ntz").as("month"))
    val first = o.groupBy(col("o_custkey")).agg(min(col("month")).as("cohort_month"))
    o.join(first, "o_custkey")
      .select(col("o_custkey"), col("cohort_month"), col("month")).distinct()
      .select(col("o_custkey"), col("cohort_month"),
        expr("CAST(months_between(month, cohort_month) AS INT)").as("month_offset"))
      .groupBy(col("cohort_month"), col("month_offset"))
      .agg(count_distinct(col("o_custkey")).as("n_customers"))
      .orderBy("cohort_month", "month_offset")
  }

  /** Inactivity gap that closes a session (hours). 6 h bites at every
    * test SF: the per-user gap distribution has median ~7.4 h and p25
    * ~3.1 h, so roughly half the gaps split and sessions average a
    * handful of events — neither all-singletons nor one-mega-session.
    * Interpolated into the oracle SQL from here. */
  val sessionGapHours = 6

  /** q_sessionize — gap-based sessionization: the lag/flag/cumsum
    * recipe that assigns explicit session ids, unlike the built-in
    * `session_window` (q_window_session) which only merges into opaque
    * time ranges. Session boundary = inactivity > [[sessionGapHours]];
    * output is one row per session with start/end, event count, value
    * sum, and exact µs duration.
    *
    * Scale shape: ONE hash exchange on user_id feeds both windows and
    * the final aggregate (same key), so at 100 TB this is a single
    * shuffle regardless of event volume; no global window anywhere.
    * Ordering ties broken by the unique event_id so lag() is
    * engine-deterministic; duration is unix_micros(end)-unix_micros(
    * start) (exact integer µs in both engines — a seconds-granularity
    * cast could round end/start differently than their difference). */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gap = expr(s"interval $sessionGapHours hours")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull || col("ts") > col("prev_ts") + gap, lit(1L)).otherwise(lit(0L)))
      .withColumn("session_idx", sum(col("new_sess")).over(byUser))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        // exact DECIMAL accumulation; the OUTPUT cell is double like every
        // other key — a physical Decimal in the dump hash-mismatches the
        // oracle's float64 even when values are identical (r12 driver red)
        sum(dec(col("value"))).cast(DecimalType(18, 2)).cast("double").as("sum_value"))
      .withColumn("duration_us",
        unix_micros(col("session_end").cast("timestamp")) -
          unix_micros(col("session_start").cast("timestamp")))
      .select(col("user_id"), col("session_idx"), col("session_start"),
        col("session_end"), col("duration_us"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_idx")
  }

  /** q_markov_transitions — first-order event-type transition matrix:
    * for every (prev → next) pair of consecutive events within a user's
    * timeline, the transition count and row-normalized probability.
    * This is the Markov-chain estimate behind next-event prediction and
    * behavioral anomaly scoring.
    *
    * Scale shape: one keyed exchange for the lag window, then the
    * (prev, next) aggregate collapses to ≤ |types|² rows — at 100 TB the
    * transition matrix itself is tiny, so the row-normalizing window
    * over it is free. Probability = exact integer counts divided then
    * ROUND(,6), the established cross-engine device. */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prob",
        round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("prev_type"))), 6))
      .orderBy("prev_type", "next_type")
  }

  /** Minimum run length reported by q_islands. 3 bites on 5 uniform
    * event types (P(run≥3 starting at a row) ≈ 1/25 — hundreds of runs
    * at sf0.01, none degenerate). */
  val islandMinRun = 3

  /** q_islands — gaps-and-islands: maximal runs of CONSECUTIVE
    * same-type events per user (the error-burst / retry-storm detector;
    * also the canonical two-row_number SQL idiom). Run id = rn_overall
    * − rn_within_type, constant exactly while the type repeats; runs of
    * length ≥ [[islandMinRun]] are reported with their span.
    *
    * Scale shape: the (user_id, event_type) window's clustering is
    * satisfied by the user_id hash partitioning (subset rule), so BOTH
    * windows run off one keyed exchange — Spark only inserts a second
    * sort, not a second shuffle (plan-audited: 2 exchanges total
    * including the run aggregate's). Ordering ties broken by the
    * unique event_id. */
  def islands(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val byUserType = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("run", row_number().over(byUser) - row_number().over(byUserType))
      .groupBy(col("user_id"), col("event_type"), col("run"))
      .agg(min(col("ts")).as("run_start"), max(col("ts")).as("run_end"),
        count(lit(1)).as("run_len"))
      .filter(col("run_len") >= islandMinRun)
      .select(col("user_id"), col("event_type"), col("run_start"),
        col("run_end"), col("run_len"))
      .orderBy("user_id", "run_start", "event_type")
  }

  /** q_time_to_convert — conversion-latency distribution: for every
    * user whose funnel converts (first view, then first purchase after
    * it), the latency bucketed to whole hours with user counts — the
    * "how long does conversion take" histogram that prices attribution
    * windows (q_funnel's 24 h cutoff came from exactly this readout).
    * Two keyed min-aggregates (order-insensitive) and a tiny histogram
    * aggregate; nothing wide after the first exchanges. Latency is an
    * exact integer µs difference floored to hours — floor-of-difference
    * is engine-safe where difference-of-floors is not. */
  def timeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("user_id"), col("event_type"), col("ts"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val p = e.filter(col("event_type") === "purchase")
      .join(v, "user_id").where(col("ts") > col("t_view"))
      .groupBy(col("user_id"), col("t_view")).agg(min(col("ts")).as("t_buy"))
    p.select(((unix_micros(col("t_buy").cast("timestamp")) -
        unix_micros(col("t_view").cast("timestamp"))) / lit(3600000000L))
        .cast("long").as("hours_bucket"))
      .groupBy(col("hours_bucket"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("hours_bucket")
  }

  /** q_retention_curve — survival-style activity retention: for each
    * day offset d, how many users were still active AT LEAST d days
    * after their first event (activity span >= d), plus the surviving
    * fraction. The anti-churn readout next to q_cohort's calendar
    * matrix. One keyed span aggregate, then the tiny span histogram is
    * turned into a suffix sum by an ordered window over <= |days| rows
    * (bounded by the observed range, not the data) — the
    * count-ge-per-offset form needs no per-user explode. */
  def retentionCurve(spark: SparkSession, dir: String): DataFrame = {
    val spans = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .groupBy(col("user_id"))
      .agg(datediff(max(col("day")), min(col("day"))).cast("long").as("span_days"))
    val nUsers = spans.agg(count(lit(1)).as("n_users"))
    val hist = spans.groupBy(col("span_days")).agg(count(lit(1)).as("n_at_span"))
    // suffix sum: users surviving >= d = sum of histogram at span >= d
    val w = Window.orderBy(col("span_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("n_surviving", sum(col("n_at_span")).over(w))
      .crossJoin(broadcast(nUsers))
      .select(col("span_days").as("day_offset"), col("n_surviving"),
        round(col("n_surviving").cast("double") / col("n_users"), 6).as("retention"))
      .orderBy("day_offset")
  }

  /** CUSUM threshold in sigma units. */
  val cusumK = 5.0

  /** q_cusum — change-point flags via the cumulative-sum control chart
    * (Page 1954): per user, the running sum of deviations from the
    * USER-LEVEL mean, flagged where |CUSUM| crosses k·sigma·sqrt(n) —
    * the drift detector for metric streams where a rolling z-score
    * (q_anomaly_zscore) only sees point outliers.
    *
    * Determinism: the deviation is mean-centered WITHOUT ever rounding
    * a mean — each row accumulates `value·n − Σx` (the deviation scaled
    * by n), which is exact DECIMAL arithmetic end to end, so the
    * cumulative sum — the one place accumulation order could diverge —
    * is exact in both engines; n divides back out only in the ROUND(,6)
    * display/flag step. Sigma comes from the DECIMAL power sums in one
    * fixed expression order. One keyed exchange total: the per-user
    * stats join back keyed, the window shares its partitioning. */
  def cusum(spark: SparkSession, dir: String): DataFrame = {
    val vDec = col("value").cast(DecimalType(18, 2))
    val stats = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(vDec).cast(DecimalType(18, 2)).as("sx_dec"),
        sum((vDec * vDec).cast(DecimalType(30, 8))).cast("double").as("sxx"))
      .withColumn("sx", col("sx_dec").cast("double"))
      .select(col("user_id"), col("n"), col("sx_dec"),
        sqrt(greatest(
          (col("sxx") - col("sx") * col("sx") / col("n").cast("double"))
            / col("n").cast("double"), lit(0.0))).as("sigma"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .join(stats, "user_id")
      .withColumn("dev_n",
        (vDec * col("n") - col("sx_dec")).cast(DecimalType(28, 2)))
      .withColumn("cusum_n", sum(col("dev_n")).over(w).cast(DecimalType(38, 2)))
      .withColumn("rn", row_number().over(w))
      // flag compares unrounded doubles built in ONE mirrored expression
      // order — identical inputs through identical IEEE ops land on the
      // identical double, so > is engine-stable without a ROUND (whose
      // tie behavior at the last kept digit is NOT engine-stable: the
      // divided form measurably differed by 1 ulp at sf0.01)
      .withColumn("flag",
        (abs(col("cusum_n")).cast("double") >
          lit(cusumK) * col("sigma") * sqrt(col("rn").cast("double")) *
            col("n").cast("double")).cast("int"))
      // the flag compares the exact DECIMAL; the OUTPUT cell ships as double
      // (|cusum_n| ≤ ~1e7·n · 100ths — inside double-exact range at tested
      // SFs; the driver's hash needs float64 parity with DuckDB's bridge)
      .select(col("user_id"), col("event_id"),
        col("cusum_n").cast("double").as("cusum_n"), col("n"), col("flag"))
      .orderBy("user_id", "event_id")
  }

  /** Attribution lookback window (hours). 48 h over ~7 h median
    * inter-event gaps gives most purchases several touches. */
  val attributionWindowHours = 48

  /** q_attribution — linear multi-touch attribution: every purchase
    * splits one unit of credit equally across the user's view/click
    * touches in the preceding [[attributionWindowHours]] lookback;
    * output is total credit and touch counts per channel (event_type).
    * The marketing-science sibling of q_join_asof: asof keeps ONE
    * latest match, attribution aggregates over ALL matches with credit
    * algebra.
    *
    * Scale shape: a keyed equi-join on user_id with the time-window
    * predicate as join filter (per-purchase fanout bounded by the
    * lookback, not the history), credit = 1/n via a purchase-keyed
    * window count, then a channel-level aggregate of exact 1/BIGINT
    * fractions — summed as ROUND(,9)→DECIMAL terms (the domain_shift
    * device) so the fold order cannot wiggle the total. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val look = expr(s"interval $attributionWindowHours hours")
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val touches = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_type").as("channel"), col("ts").as("t_ts"))
    val matched = purchases.join(touches, Seq("user_id"))
      .filter(col("t_ts") < col("p_ts") && col("t_ts") >= col("p_ts") - look)
    val perPurchase = Window.partitionBy(col("p_id"))
    matched
      .withColumn("n_touches", count(lit(1)).over(perPurchase))
      .withColumn("credit",
        round(lit(1.0) / col("n_touches").cast("double"), 9).cast(DecimalType(18, 9)))
      .groupBy(col("channel"))
      .agg(
        count(lit(1)).as("n_touches"),
        count_distinct(col("p_id")).as("n_purchases_touched"),
        round(sum(col("credit")).cast("double"), 6).as("credit"))
      .orderBy("channel")
  }

  /** q_trend_per_user — per-entity linear trend: the least-squares
    * slope of value on elapsed-hours for every user (the fleet-wide
    * drift screen; q_cusum flags WHERE a series breaks, this ranks WHO
    * is drifting). The q_stats_moments grouped power-sum device with x
    * = exact µs-derived hours rounded to 6 dp then DECIMAL-fixed, so
    * every per-group sum is engine-exact before the slope's double
    * arithmetic. ONE keyed aggregate; the per-user origin (first ts)
    * comes from the same exchange via a min aggregate joined back
    * keyed. */
  def trendPerUser(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("value"))
    val origin = e.groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    val x = round((unix_micros(col("ts").cast("timestamp")) -
        unix_micros(col("t0").cast("timestamp"))).cast("double") / lit(3600000000.0), 6)
      .cast(DecimalType(18, 6))
    val y = col("value").cast(DecimalType(18, 2))
    val sums = e.join(origin, "user_id")
      .select(col("user_id"), x.as("x"), y.as("y"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("y")).cast("double").as("sy"),
        sum((col("x") * col("y")).cast(DecimalType(30, 8))).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast(DecimalType(30, 12))).cast("double").as("sxx"))
    val nd = col("n").cast("double")
    sums.select(
      col("user_id"), col("n"),
      round((col("sxy") - col("sx") * col("sy") / nd) /
        (col("sxx") - col("sx") * col("sx") / nd), 6).as("slope_per_hour"))
      .orderBy("user_id")
  }

  /** Path prefix length for q_funnel_paths. */
  val pathLen = 3

  /** q_funnel_paths — top entry paths: the first [[pathLen]] event
    * types of every user's timeline joined into a path string, counted
    * across users (the "how do users start" readout behind funnel
    * DESIGN — q_funnel then measures one chosen path). Rank-filter to
    * the first k events (keyed window), then an in-order keyed
    * collect via the (rn, type) struct sort — deterministic because rn
    * is total per user — and a path-level count. All exchanges keyed;
    * the path table is at most |types|^k rows. */
  def funnelPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= pathLen)
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("rn"), col("event_type")))).as("steps"),
        count(lit(1)).as("k"))
      .filter(col("k") === pathLen) // only complete prefixes
      .select(concat_ws(">", transform(col("steps"), s => s("event_type"))).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
  }

  /** q_ab_test — Welch two-sample t-test between hash-assigned
    * experiment arms: users split A/B by the [[graft.text.Sampling]]
    * md5-bucket device (so assignment is reproducible and joins nothing),
    * then per-arm mean/variance of event value via DECIMAL power sums
    * (the q_stats_moments device) and the Welch t statistic +
    * Satterthwaite degrees of freedom, all ROUND(,6).
    *
    * Scale shape: the split is a per-row hash expression (no join), and
    * the whole test reduces to ONE 2-row aggregate — a map-side-combined
    * shuffle of 2 groups at any data volume. The t/df arithmetic runs on
    * the 2-row frame after a self-pivot via conditional aggregation, so
    * nothing wide happens after the first exchange. */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Sampling
    val arm = Sampling.splitAssign(col("user_id"), Seq("A" -> 0.5, "B" -> 0.5))
    val x = dec(col("value")).cast(DecimalType(18, 4))
    val arms = Tables.events(spark, dir)
      .select(arm.as("arm"), x.as("x"))
      .groupBy(col("arm"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum((col("x") * col("x")).cast(DecimalType(30, 8))).cast("double").as("sxx"))
    val nd = col("n").cast("double")
    val mean = col("sx") / nd
    val sampleVar = (col("sxx") - col("sx") * col("sx") / nd) / (nd - lit(1.0))
    val perArm = arms.select(col("arm"), col("n"), mean.as("m"), sampleVar.as("v"))
    val wide = perArm.agg(
      max(when(col("arm") === "A", col("n"))).as("n_a"),
      max(when(col("arm") === "A", col("m"))).as("m_a"),
      max(when(col("arm") === "A", col("v"))).as("v_a"),
      max(when(col("arm") === "B", col("n"))).as("n_b"),
      max(when(col("arm") === "B", col("m"))).as("m_b"),
      max(when(col("arm") === "B", col("v"))).as("v_b"))
    val se2a = col("v_a") / col("n_a").cast("double")
    val se2b = col("v_b") / col("n_b").cast("double")
    wide.select(
      col("n_a"), col("n_b"),
      round(col("m_a"), 6).as("mean_a"),
      round(col("m_b"), 6).as("mean_b"),
      round((col("m_a") - col("m_b")) / sqrt(se2a + se2b), 6).as("t_stat"),
      round(pow(se2a + se2b, 2) /
        (pow(se2a, 2) / (col("n_a").cast("double") - 1) +
          pow(se2b, 2) / (col("n_b").cast("double") - 1)), 6).as("welch_df"))
  }

  /** q_fano_dispersion — per-user Fano factor (index of dispersion,
    * var/mean) of DAILY event counts on the zero-filled global day
    * spine: a Poisson-rate user scores ~1, a bursty bot/batch-replay
    * user ≫ 1, a metronome < 1. The rate-regularity screen next to
    * [[userEntropy]]'s type-mix screen and [[cusum]]'s drift flags —
    * three orthogonal behavioral axes. Inactive days are REAL zero
    * observations (the spine, not the sparse aggregate, is the sample
    * — dropping zeros would bias every quiet user toward 1).
    *
    * Scale shape: the gap_fill spine device (1-row bounds aggregate,
    * sequence()-exploded per user), one keyed aggregate of integer
    * power sums — Fano = (n·Σx² − (Σx)²)/(n·Σx) stays BIGINT-exact
    * until the single final division. */
  def fanoDispersion(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    val daily = e.groupBy(col("user_id"), col("day")).agg(count(lit(1)).as("x"))
    val bounds = e.agg(min(col("day")).as("dmin"), max(col("day")).as("dmax"))
    val spine = e.select(col("user_id")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"),
        explode(sequence(col("dmin"), col("dmax"), expr("interval 1 day"))).as("day"))
    val filled = spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), coalesce(col("x"), lit(0L)).as("x"))
    filled.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("n_events"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("user_id"), col("n_days"), col("n_events"),
        round(col("n_events").cast("double") / col("n_days").cast("double"), 6)
          .as("mean_daily"),
        round((col("n_days") * col("sxx") - col("n_events") * col("n_events"))
          .cast("double") /
          (col("n_days") * col("n_events")).cast("double"), 6).as("fano"))
      .orderBy("user_id")
  }

  /** χ²(1 df, α=.05) critical value for [[srmCheck]]'s flag.
    * Interpolated into the oracle from here. */
  val srmChi2Crit = 3.841

  /** q_srm_check — sample-ratio mismatch guardrail on the experiment
    * assignment: are the hash arms' USER counts consistent with the
    * declared 50/50 split? A failed SRM invalidates q_ab_test /
    * q_cuped / q_mde before anyone reads them — it is the first gate
    * every experimentation platform runs, and it must count units of
    * RANDOMIZATION (users), not events (q_ab_test's per-event n is the
    * wrong denominator here: activity imbalance is not assignment
    * imbalance). χ² = Σ(O−E)²/E over the two arms, flagged above the
    * 1-df critical value.
    *
    * Scale shape: one distinct-user pass ends at a 2-group map-side-
    * combined aggregate; the χ² arithmetic runs on the 1-row pivot.
    * Integer counts → the only floats are two exact-integer-derived
    * divisions. */
  def srmCheck(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Sampling
    val arm = Sampling.splitAssign(col("user_id"), Seq("A" -> 0.5, "B" -> 0.5))
    val counts = Tables.events(spark, dir)
      .select(col("user_id")).distinct()
      .select(arm.as("arm"))
      .groupBy(col("arm")).agg(count(lit(1)).as("n"))
    val wide = counts.agg(
      max(when(col("arm") === "A", col("n"))).as("n_a"),
      max(when(col("arm") === "B", col("n"))).as("n_b"))
    val e = (col("n_a") + col("n_b")).cast("double") / lit(2.0)
    val chi2 = (col("n_a").cast("double") - e) * (col("n_a").cast("double") - e) / e +
      (col("n_b").cast("double") - e) * (col("n_b").cast("double") - e) / e
    wide.select(col("n_a"), col("n_b"),
      round(chi2, 6).as("chi2"),
      (round(chi2, 6) > srmChi2Crit).as("srm_detected"))
  }

  /** q_did — difference-in-differences over the experiment frame: arm
    * (hash 50/50) × period (pre/post the [[cupedCutDate]] cut) cell
    * means, and DID = (B̄post − B̄pre) − (Āpost − Āpre) — the causal
    * readout when assignment correlates with level: q_ab_test compares
    * post-period levels (biased if arms started unequal), q_cuped
    * shrinks variance, DID removes any constant arm-level offset by
    * differencing each arm against its own pre-period.
    *
    * Scale shape: ONE conditional corpus pass to a 4-cell aggregate
    * (both dimensions in the same pass — no period self-join); all
    * arithmetic on the 1-row pivot. Value sums are DECIMAL-exact
    * before the final double divisions. */
  def did(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Sampling
    val arm = Sampling.splitAssign(col("user_id"), Seq("A" -> 0.5, "B" -> 0.5))
    val post = col("ts") >= lit(cupedCutDate).cast("timestamp")
    val cells = Tables.events(spark, dir)
      .select(arm.as("arm"), post.as("post"), dec(col("value")).as("x"))
      .groupBy(col("arm"), col("post"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    def cell(a: String, p: Boolean, c: String) =
      max(when(col("arm") === a && col("post") === p, col(c)))
    val wide = cells.agg(
      cell("A", false, "n").as("n_a_pre"), cell("A", false, "sx").as("sx_a_pre"),
      cell("A", true, "n").as("n_a_post"), cell("A", true, "sx").as("sx_a_post"),
      cell("B", false, "n").as("n_b_pre"), cell("B", false, "sx").as("sx_b_pre"),
      cell("B", true, "n").as("n_b_post"), cell("B", true, "sx").as("sx_b_post"))
    def m(sx: String, n: String) = col(sx).cast("double") / col(n).cast("double")
    wide.select(
      col("n_a_pre"), col("n_a_post"), col("n_b_pre"), col("n_b_post"),
      round(m("sx_a_pre", "n_a_pre"), 6).as("mean_a_pre"),
      round(m("sx_a_post", "n_a_post"), 6).as("mean_a_post"),
      round(m("sx_b_pre", "n_b_pre"), 6).as("mean_b_pre"),
      round(m("sx_b_post", "n_b_post"), 6).as("mean_b_post"),
      round((m("sx_b_post", "n_b_post") - m("sx_b_pre", "n_b_pre"))
        - (m("sx_a_post", "n_a_post") - m("sx_a_pre", "n_a_pre")), 6).as("did"))
  }

  /** q_theil_index — Theil T inequality of customer spend, DECOMPOSED
    * by region: T = Σ_g s_g·T_g + Σ_g s_g·ln(x̄_g/x̄) — the property
    * Gini famously lacks (Gini is not subgroup-decomposable; Theil
    * splits exactly into within-group + between-group shares, which is
    * the question a mixing audit actually asks: is spend inequality
    * WITHIN regions or BETWEEN them?). One row per region with its
    * customer count, spend share, within-region Theil, and
    * between-group term; the exact decomposition identity
    * theil_total = Σ(share·t_within + t_between) is crossed in as a
    * column (and spec-pinned).
    *
    * Scale shape: the corpus pass ends at the per-customer aggregate;
    * region stats and the grand total are tiny broadcasts back into
    * the per-customer frame for the ln terms (ROUND(,9)→DECIMAL, the
    * q_user_entropy order-proof device); everything after runs on
    * ≤|regions| rows. */
  def theilIndex(spark: SparkSession, dir: String): DataFrame = {
    val d = DecimalType(18, 9)
    val spend = Tables.orders(spark, dir)
      .select(col("o_custkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("o_custkey")).agg(sum(col("cents")).as("cents"))
    val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_regionkey"))
    val reg = Tables.region(spark, dir).select(col("r_regionkey"), col("r_name"))
    val byRegion = spend
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region"), col("cents"))
    val gStats = byRegion.groupBy(col("region"))
      .agg(count(lit(1)).as("n_g"), sum(col("cents")).as("s_g"))
    val tot = gStats.agg(sum(col("n_g")).as("n"), sum(col("s_g")).as("s"))
    val meanG = col("s_g").cast("double") / col("n_g").cast("double")
    val mean = col("s").cast("double") / col("n").cast("double")
    // per-customer within-group ln terms against the OWN group mean
    val ratio = col("cents").cast("double") / meanG
    val terms = byRegion
      .join(broadcast(gStats), Seq("region"))
      .select(col("region"),
        round(ratio * log(ratio), 9).cast(d).as("term"))
      .groupBy(col("region"))
      .agg(sum(col("term")).as("t_sum"))
    val out = gStats
      .join(terms, Seq("region"))
      .crossJoin(broadcast(tot))
      .select(col("region"), col("n_g").as("n_customers"),
        round(col("s_g").cast("double") / col("s").cast("double"), 6).as("spend_share"),
        // T_g = (1/n_g)·Σ (x/x̄_g)ln(x/x̄_g)
        round((col("t_sum").cast("double") / col("n_g").cast("double")), 6).as("t_within"),
        round((col("s_g").cast("double") / col("s").cast("double")) * log(meanG / mean), 9)
          .cast(d).as("t_between_term"),
        round((col("s_g").cast("double") / col("s").cast("double")) *
          (col("t_sum").cast("double") / col("n_g").cast("double")), 9)
          .cast(d).as("t_within_weighted"))
    val total = out.agg(
      round(sum(col("t_between_term") + col("t_within_weighted")).cast("double"), 6)
        .as("theil_total"))
    out
      .select(col("region"), col("n_customers"), col("spend_share"),
        col("t_within"), col("t_between_term").cast("double").as("t_between_term"))
      .crossJoin(broadcast(total))
      .orderBy("region")
  }

  /** q_seasonal_profile — the (day-of-week × hour-of-day) seasonality
    * grid over events: per cell, event count, mean value, and the
    * deviation from the corpus-wide mean — the decomposition that
    * separates "traffic is always low at 4am Sunday" from a genuine
    * anomaly, and the baseline q_anomaly_zscore/q_cusum should be read
    * against. dow is ISO (0 = Monday … 6 = Sunday) on both engines.
    *
    * Scale shape: one map-side-combined aggregate collapses the corpus
    * to ≤ 168 cells; the global mean is derived FROM those cells (a
    * second tiny agg) and crossed back as a one-row broadcast. Value
    * sums are DECIMAL-exact before the final double divisions. */
  /** q_anomaly_seasonal — seasonality-aware anomaly ranking: each
    * event's value is z-scored against ITS OWN (dow × hour) cell's
    * mean/sd (the [[seasonalProfile]] baseline in action — "low for
    * 4am Sunday" is normal, "high for 4am Sunday" is the anomaly).
    * Output is the TOP-100 most anomalous rows with an `is_anomaly`
    * (|z| > 3) flag rather than the flagged tail alone: a cell of n
    * points can never exceed |z| = sqrt(n−1) against its own sd, so a
    * hard threshold is structurally EMPTY whenever cells are small
    * (sf0.001 has ~6 events/cell → max |z| ≈ 2.2) — the ranked head
    * keeps the gate semantics while staying non-degenerate at every
    * SF. The compositions q_anomaly_zscore (trailing window) and
    * q_cusum (drift) don't cover this: a POINT anomaly relative to
    * the seasonal norm.
    *
    * Scale shape: cells = one map-side-combined agg with DECIMAL power
    * sums (≤ 168 rows, broadcast back); the scoring join is a per-row
    * broadcast lookup; the ranked head is TakeOrderedAndProject (k=100
    * per partition then one driver merge — no global sort). Ordering
    * is deterministic: |z| rounded to 6 dp, ties broken by the unique
    * (user_id, event_id). */
  def anomalySeasonal(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        ((dayofweek(col("ts")) + 5) % 7).as("dow"),
        hour(col("ts")).as("hod"), col("value"))
    def prod(a: Column, b: Column): Column = (a * b).cast(DecimalType(30, 8))
    val v = col("value").cast(DecimalType(18, 2))
    val cells = e.groupBy(col("dow"), col("hod"))
      .agg(count(lit(1)).as("n"),
        sum(v).cast("double").as("sv"),
        sum(prod(v, v)).cast("double").as("svv"))
    val nd = col("n").cast("double")
    // variance floored at 0 before sqrt (the q_anomaly_zscore device):
    // a single-event cell's svv - sv²/n is a tiny NEGATIVE under IEEE,
    // where Spark's sqrt returns NaN silently but DuckDB's ERRORS
    val stats = cells.select(col("dow"), col("hod"),
      (col("sv") / nd).as("cell_mean"),
      sqrt(greatest((col("svv") - col("sv") * col("sv") / nd) / nd, lit(0.0)))
        .as("cell_sd"))
    val z = (col("value") - col("cell_mean")) / col("cell_sd")
    e.join(broadcast(stats), Seq("dow", "hod"))
      .filter(col("cell_sd") > 0)
      .select(col("user_id"), col("event_id"), col("dow"), col("hod"),
        col("value"), round(z, 6).as("z"))
      .withColumn("is_anomaly", abs(col("z")) > 3.0)
      .orderBy(abs(col("z")).desc, col("user_id"), col("event_id"))
      .limit(100)
  }

  /** q_growth_accounting — weekly new / retained / resurrected /
    * churned user accounting (the canonical product-growth ledger):
    * per ISO week, actives split by whether they were active the
    * previous week (retained), earlier only (resurrected), or never
    * before (new); churn = last week's actives who did not return.
    * Identity: active(w) = new + retained + resurrected and
    * churned(w) = active(w−1) − retained(w) — both spec-pinned.
    *
    * Scale shape: distinct (user, week) → one user-keyed lag window →
    * one week agg; the churn column is a lag over the ≤ |weeks|-row
    * weekly frame. */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
      .distinct()
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("wk"))
    val classed = uw
      .withColumn("prev", lag(col("wk"), 1).over(byUser))
      .select(col("wk"),
        when(col("prev").isNull, "new")
          .when(datediff(col("wk"), col("prev")) === 7, "retained")
          .otherwise("resurrected").as("cls"))
    val weekly = classed.groupBy(col("wk"))
      .agg(count(lit(1)).as("n_active"),
        sum((col("cls") === "new").cast("long")).as("n_new"),
        sum((col("cls") === "retained").cast("long")).as("n_retained"),
        sum((col("cls") === "resurrected").cast("long")).as("n_resurrected"))
    val wOrd = Window.orderBy(col("wk"))
    weekly
      .withColumn("n_churned_from_prev",
        coalesce(lag(col("n_active"), 1).over(wOrd), lit(0L)) -
          col("n_retained"))
      .orderBy("wk")
  }

  /** Two-sided α = 0.05 and power = 0.80 z-scores for [[mde]]. */
  val mdeZAlpha = 1.959963984540054
  val mdeZPower = 0.8416212335729143

  /** q_mde — minimum detectable effect for the running experiment: the
    * smallest true lift the [[abTest]] design could detect at α = 0.05
    * / 80% power given the observed per-arm sizes and variances —
    * (z_{α/2} + z_{power})·√(v_a/n_a + v_b/n_b), absolute and relative
    * to the control mean. The question a team asks BEFORE shipping an
    * experiment ("can this test even see a 1% lift?"), closing the
    * experimentation set (assignment → test → CUPED → power).
    *
    * Scale shape: the abTest per-arm DECIMAL power sums, one row out. */
  def mde(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Sampling
    val arm = Sampling.splitAssign(col("user_id"), Seq("A" -> 0.5, "B" -> 0.5))
    val x = dec(col("value")).cast(DecimalType(18, 4))
    val arms = Tables.events(spark, dir)
      .select(arm.as("arm"), x.as("x"))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum((col("x") * col("x")).cast(DecimalType(30, 8))).cast("double").as("sxx"))
    val nd = col("n").cast("double")
    val sVar = (col("sxx") - col("sx") * col("sx") / nd) / (nd - lit(1.0))
    val wide = arms
      .select(col("arm"), col("n"), (col("sx") / nd).as("m"), sVar.as("v"))
      .agg(max(when(col("arm") === "A", col("n"))).as("n_a"),
        max(when(col("arm") === "A", col("m"))).as("m_a"),
        max(when(col("arm") === "A", col("v"))).as("v_a"),
        max(when(col("arm") === "B", col("n"))).as("n_b"),
        max(when(col("arm") === "B", col("v"))).as("v_b"))
    val se = sqrt(col("v_a") / col("n_a").cast("double") +
      col("v_b") / col("n_b").cast("double"))
    val mdeAbs = lit(mdeZAlpha + mdeZPower) * se
    wide.select(col("n_a"), col("n_b"),
      round(col("m_a"), 6).as("mean_a"),
      round(mdeAbs, 6).as("mde_abs"),
      round(mdeAbs / col("m_a"), 6).as("mde_rel"))
  }

  /** q_path_conversion — entry-path conversion rates: for every
    * [[funnelPaths]] 3-event entry path, the share of its users who
    * ever purchase — turning "how do users start" into "which starts
    * WORK" (the readout that ranks onboarding flows). Keyed joins
    * only; the path table stays ≤ |types|³.
    */
  def pathConversion(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val paths = e
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= pathLen)
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("rn"), col("event_type")))).as("steps"),
        count(lit(1)).as("k"))
      .filter(col("k") === pathLen)
      .select(col("user_id"),
        concat_ws(">", transform(col("steps"), s => s("event_type"))).as("path"))
    val converted = e.filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct().withColumn("conv", lit(1L))
    paths.join(converted, Seq("user_id"), "left")
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"),
        sum(coalesce(col("conv"), lit(0L))).as("n_converted"))
      .select(col("path"), col("n_users"), col("n_converted"),
        round(col("n_converted").cast("double") / col("n_users").cast("double"), 6)
          .as("conversion_rate"))
      .orderBy(col("n_users").desc, col("path"))
  }

  /** CUPED pre/post cut (events span 2024-01-01..01-30; the cut splits
    * the month). */
  val cupedCutDate = "2024-01-16"

  /** q_cuped — CUPED variance reduction for the A/B readout
    * (Deng et al., WSDM'13): each user's PRE-period activity is used as
    * a control covariate, adjusted metric = Y − θ(X − X̄) with
    * θ = cov(X,Y)/var(X) — same expectation, variance shrunk by the
    * X↔Y correlation², which is why every mature experimentation
    * platform runs it. Arms are the q_ab_test hash assignment; output
    * is per-arm raw and adjusted means plus θ and the variance-
    * reduction factor. q_ab_test asks "is there a difference"; CUPED
    * is how the same answer is reached with a fraction of the sample.
    *
    * Scale shape: one corpus pass to per-user (X, Y) DECIMAL-exact
    * sums (conditional agg — no period self-join), ONE power-sum agg
    * over users for θ, one arm-keyed agg, one-row broadcasts back. */
  def cuped(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Sampling
    val arm = Sampling.splitAssign(col("user_id"), Seq("A" -> 0.5, "B" -> 0.5))
    val isPost = col("ts").cast("timestamp") >=
      lit(cupedCutDate).cast("timestamp")
    val zero = lit(0).cast(DecimalType(18, 2))
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(!isPost, dec(col("value"))).otherwise(zero)).as("x"),
        sum(when(isPost, dec(col("value"))).otherwise(zero)).as("y"))
      .select(arm.as("arm"), col("x"), col("y"))
    def prod(a: Column, b: Column): Column = (a * b).cast(DecimalType(30, 8))
    val g = perUser.agg(
      count(lit(1)).as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum(prod(col("x"), col("x"))).cast("double").as("sxx"),
      sum(prod(col("y"), col("y"))).cast("double").as("syy"),
      sum(prod(col("x"), col("y"))).cast("double").as("sxy"))
    val nd = col("n").cast("double")
    val theta = (col("sxy") - col("sx") * col("sy") / nd) /
      (col("sxx") - col("sx") * col("sx") / nd)
    val scalars = g.select(theta.as("theta"),
      (col("sx") / nd).as("gmx"),
      (((col("sxy") - col("sx") * col("sy") / nd) *
        (col("sxy") - col("sx") * col("sy") / nd)) /
        ((col("sxx") - col("sx") * col("sx") / nd) *
          (col("syy") - col("sy") * col("sy") / nd))).as("var_reduction"))
    val arms = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("asx"),
        sum(col("y")).cast("double").as("asy"))
    val and = col("n").cast("double")
    arms.crossJoin(broadcast(scalars))
      .select(col("arm"), col("n"),
        round(col("asy") / and, 6).as("mean_y"),
        round(col("asy") / and - col("theta") * (col("asx") / and - col("gmx")), 6)
          .as("mean_y_adj"),
        round(col("theta"), 6).as("theta"),
        round(col("var_reduction"), 6).as("var_reduction"))
      .orderBy("arm")
  }

  /** q_twap — time-weighted average value per user: each reading is
    * weighted by how long it REMAINED CURRENT (µs until the next
    * event), the metrics/finance staple a plain mean gets wrong on
    * irregular sampling (a value held for a week counts more than ten
    * ticks in a minute). The last reading has no successor and drops
    * out — the standard right-open convention.
    *
    * Determinism: value is 2-dp money → cents BIGINT; dt is exact µs
    * BIGINT; Σ(cents·dt) and Σ(dt) are exact integer sums (order-proof
    * by construction — no DECIMAL device even needed); ONE double
    * division at the end. One keyed window + one keyed agg. */
  def twap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tsUs = unix_micros(col("ts").cast("timestamp"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("dt_us", lead(tsUs, 1).over(w) - tsUs)
      .filter(col("dt_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dt_us")).as("total_us"),
        sum(col("cents") * col("dt_us")).as("cents_us"))
      .select(col("user_id"), col("n_intervals"), col("total_us"),
        round(col("cents_us").cast("double") /
          (lit(100.0) * col("total_us").cast("double")), 6).as("twap"))
      .orderBy("user_id")
  }

  /** q_user_entropy — behavioral diversity per user: Shannon entropy of
    * the user's event-type mix (a bot hammering one endpoint scores
    * ~0; an organic user spreads mass). The per-entity sibling of
    * q_source_concentration's corpus scalar, and a standard bot/fraud
    * screen feature.
    *
    * Scale shape: one (user, type) keyed agg, then a user-keyed fold of
    * ≤ |types| ROUND(,9)→DECIMAL terms — order-proof. */
  def userEntropy(spark: SparkSession, dir: String): DataFrame = {
    val byType = Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("c"))
    val perUser = Window.partitionBy(col("user_id"))
    val share = col("c").cast("double") / col("n").cast("double")
    byType
      .withColumn("n", sum(col("c")).over(perUser))
      .select(col("user_id"), col("n"),
        round(-share * log(share), 9)
          .cast(DecimalType(18, 9)).as("term"))
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n_events"), count(lit(1)).as("n_types"),
        round(sum(col("term")).cast("double"), 6).as("entropy"))
      .orderBy("user_id")
  }

  /** q_lateness_audit — event-time lateness profile: treating event_id
    * as arrival order, how far behind the per-user running event-time
    * high-water mark does each event arrive? Emits ONE summary row —
    * event count, late count/fraction, and the exact p50/p95/max
    * lateness — which is precisely the measurement that PICKS a
    * streaming watermark delay (`withWatermark(ts, X)`: X below p95
    * drops data, X far above it holds state; every `q_stream_*` key
    * here hardcodes a delay this audit would justify from data).
    *
    * Scale shape: one keyed window (running max over arrival order)
    * then a single global aggregate; the exact percentiles become the
    * GK sketch at 100 TB (the q_approx_percentile swap), identical
    * plan otherwise.
    *
    * The synthetic corpus arrives perfectly in order (measured: zero
    * late events at every SF), so the gate key injects deterministic
    * disorder — every 7th event's timestamp is shifted 3 h earlier
    * (the q_scrub_pii injection device, mirrored in the oracle) —
    * exactly the shape a replayed partition or a delayed producer
    * shows. */
  def latenessAudit(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tsUs = unix_micros(col("ts").cast("timestamp")) -
      when(col("event_id") % 7 === 0, lit(3L * 3600L * 1000000L)).otherwise(lit(0L))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), tsUs.as("ts_us"))
      .withColumn("hwm", max(col("ts_us")).over(w))
      .select(greatest(coalesce(col("hwm") - col("ts_us"), lit(0L)), lit(0L))
        .as("late_us"))
      .agg(
        count(lit(1)).as("n_events"),
        sum((col("late_us") > 0).cast("long")).as("n_late"),
        round(avg((col("late_us") > 0).cast("double")), 6).as("frac_late"),
        // percentiles over LATE events only (97% arrive on time, so the
        // unconditional p95 is degenerately 0 — the watermark designer
        // asks "how late are the late ones"); ROUND(,2) doubles, not a
        // long cast: Spark casts double→long by truncation while DuckDB
        // CAST rounds — interpolated .5 percentiles would diverge
        round(percentile(when(col("late_us") > 0, col("late_us")), lit(0.5)), 2)
          .as("p50_late_us"),
        round(percentile(when(col("late_us") > 0, col("late_us")), lit(0.95)), 2)
          .as("p95_late_us"),
        max(col("late_us")).as("max_late_us"))
  }

  /** EMA decay factor and truncation length. 8 lags at 0.8 keep ~83%
    * of the untruncated kernel mass (1 − 0.8⁸); the truncation is the
    * price of an ORDER-FREE formulation — see below. */
  val emaAlpha = 0.8
  val emaLags = 8

  /** q_ema_smoothing — truncated exponential moving average of each
    * user's value stream: ema_t = Σₖ aᵏ·v_{t−k} / Σₖ aᵏ over the last
    * [[emaLags]] events (k over present lags only, so early rows
    * renormalize instead of biasing toward 0). The classic recursive
    * EMA is a SEQUENTIAL fold (each row needs the previous row's
    * result — a one-partition scan at 100 TB); the truncated kernel
    * re-expresses it as [[emaLags]] independent lag() reads inside ONE
    * keyed window sort, fully parallel across users. The smoothing
    * baseline q_anomaly_zscore-style detectors subtract.
    *
    * Determinism: the weights aᵏ are Scala-computed doubles whose
    * shortest-round-trip decimal forms are interpolated into the
    * oracle, and the weighted sum folds left in the same literal order
    * on both engines; v is 2-dp-exact money-class doubles. */
  def emaSmoothing(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val weights = (0 until emaLags).map(k => math.pow(emaAlpha, k))
    val terms = (0 until emaLags).map { k =>
      val v = if (k == 0) col("value") else lag(col("value"), k).over(w)
      (coalesce(lit(weights(k)) * v, lit(0.0)),
        when(v.isNull, lit(0.0)).otherwise(lit(weights(k))))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("ema", round(num / den, 6))
      .select(col("user_id"), col("event_id"), col("value"), col("ema"))
      .orderBy("user_id", "event_id")
  }

  /** q_gini — Gini coefficient of customer spend concentration (the
    * inequality audit next to q_source_concentration's HHI: HHI asks
    * "how concentrated are SOURCES", Gini asks "how unequal are
    * CUSTOMERS" — the classic whale-dependence readout). Uses the
    * rank-weighted identity G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) over
    * spend sorted ascending, which needs ONE pass over the ranked
    * aggregate instead of the textbook all-pairs |xᵢ−xⱼ| double sum.
    *
    * Scale shape: the corpus pass ends at the per-customer aggregate
    * (≪ orders); the rank over that narrow frame is the range-bucketed
    * [[ScalableRank.rangeRowNumber]] device (r14) — approx-percentile
    * buckets + keyed within-bucket rank + broadcast offsets — NOT an
    * unpartitioned window, which would be a single-reducer sort over
    * ALL customers at 100 TB. All terms are integer cents × BIGINT
    * ranks in DECIMAL(38,0) — exact until the one final double
    * division. Ties broken by custkey so the rank (and hence the
    * identity's Σ i·xᵢ) is total on both engines — Gini itself is
    * tie-invariant, the determinism is for the hash gate. */
  def gini(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("o_custkey")).agg(sum(col("cents")).as("cents"))
    val ranked = ScalableRank.rangeRowNumber(spend, col("cents"),
      Seq(col("cents"), col("o_custkey")), "i")
    val d38 = DecimalType(38, 0)
    ranked.agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).as("total_cents"),
        sum(col("i").cast(d38) * col("cents").cast(d38)).as("iw"))
      .select(col("n_customers"), col("total_cents"),
        round((lit(2.0) * col("iw").cast("double")
            - (col("n_customers") + 1).cast("double") * col("total_cents").cast("double"))
          / (col("n_customers").cast("double") * col("total_cents").cast("double")),
          9).as("gini"))
  }

  /** Administrative follow-up window (hours) behind [[survivalKm]]:
    * each user is observed for exactly this long after their first
    * event; a first purchase inside the window is the EVENT, no
    * purchase by then is a right-CENSORING at the window edge (the
    * clinical-trial design — deliberate, deterministic, and honest:
    * this corpus is 30 days of dense activity where every user both
    * stays active and eventually purchases, so neither churn-
    * inactivity nor never-purchasing produces natural censoring at
    * ANY threshold; measured, not guessed). 48 h censors 20-25% of
    * users at every test SF while leaving ~49 distinct event hours. */
  val kmFollowupHours = 48

  /** q_survival_km — Kaplan-Meier time-to-conversion curve WITH
    * right-censoring: t = whole hours from a user's first event to
    * their first purchase, censored at [[kmFollowupHours]]. The
    * estimator q_time_to_convert cannot be: that key conditions on
    * conversion having HAPPENED (survivorship bias — it overstates
    * conversion speed); KM keeps censored users in every at-risk set
    * they survived through and removes them at their censoring time
    * instead of counting them as conversions or dropping them. Emits
    * one row per distinct conversion hour: at-risk count, conversion
    * count, and S(t) = ∏_{s≤t}(1 − dₛ/nₛ) — the probability of still
    * being unconverted t hours in.
    *
    * Scale shape: the corpus pass ends at the per-user (first event,
    * first purchase) conditional min-aggregate; everything after runs
    * on frames bounded by |distinct hours| ≤ [[kmFollowupHours]]+1.
    * The running product is exp∘Σln with each ln term
    * ROUND(,9)→DECIMAL (the q_user_entropy order-proof device); an
    * all-convert time (d = n_risk, ln 0 undefined) emits S = 0 via an
    * explicit branch mirrored in the oracle — it can only be the LAST
    * row, so no later term consumes the sentinel. */
  def survivalKm(spark: SparkSession, dir: String): DataFrame = {
    val usH = 3600L * 1000000L
    val u = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts").cast("timestamp"))).as("first_us"),
        min(when(col("event_type") === "purchase",
          unix_micros(col("ts").cast("timestamp")))).as("purch_us"))
    val durH = floor((col("purch_us") - col("first_us")).cast("double") /
      lit(usH.toDouble)).cast("long")
    val lab = u.select(
      when(col("purch_us").isNotNull && durH <= kmFollowupHours, durH)
        .otherwise(lit(kmFollowupHours.toLong)).as("t"),
      when(col("purch_us").isNotNull && durH <= kmFollowupHours, lit(1L))
        .otherwise(lit(0L)).as("converted"))
    val byT = lab.groupBy(col("t"))
      .agg(count(lit(1)).as("m"), sum(col("converted")).as("d"))
    val atRisk = Window.orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val upTo = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .withColumn("n_risk", sum(col("m")).over(atRisk))
      .filter(col("d") > 0)
      .withColumn("term",
        when(col("d") < col("n_risk"),
          round(log(lit(1.0) - col("d").cast("double") / col("n_risk").cast("double")), 9)
            .cast(DecimalType(18, 9)))
          .otherwise(lit(null).cast(DecimalType(18, 9))))
      .withColumn("survival",
        when(col("d") < col("n_risk"),
          round(exp(sum(col("term")).over(upTo).cast("double")), 6))
          .otherwise(lit(0.0)))
      .select(col("t").as("t_hours"), col("n_risk"), col("d").as("d_converted"),
        col("survival"))
      .orderBy("t_hours")
  }

  /** Maximum autocorrelation lag (hours) [[acf]] reports. 36 spans the
    * daily cycle with margin so the 24 h seasonal peak is visible in
    * context. Interpolated into the oracle from here. */
  val acfMaxLagHours = 36

  /** q_acf — sample autocorrelation function of the hourly event-count
    * series at lags 1..[[acfMaxLagHours]] (the time-domain readout
    * behind q_seasonal_profile's calendar grid: the grid ASSERTS a
    * dow×hour structure, the ACF MEASURES at which lags the series
    * actually rhymes — a 24 h peak is daily seasonality, slow decay is
    * trend/drift). The spine is zero-filled (gap hours are real zero
    * counts, not missing), so lags are true wall-clock hours.
    *
    * Scale shape: the corpus pass ends at the ≤ |hours| hourly
    * aggregate (one map-side-combined shuffle); the spine is the
    * gap_fill device (1-row bounds aggregate, sequence()-exploded);
    * the per-lag products are [[acfMaxLagHours]] lag() reads in ONE
    * window over the tiny frame, stacked and re-aggregated. Exactness:
    * with integer counts x and S = Σx, n²·cov terms (n·xₜ − S)·
    * (n·xₜ₊ₖ − S) are integers — summed in DECIMAL(38,0), so r_k is
    * exact until its single final division. */
  def acf(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("h")).agg(count(lit(1)).as("x"))
    val bounds = hourly.agg(min(col("h")).as("hmin"), max(col("h")).as("hmax"))
    val spine = bounds
      .select(explode(sequence(col("hmin"), col("hmax"), expr("interval 1 hour"))).as("h"))
    val filled = spine.join(hourly, Seq("h"), "left")
      .select(col("h"), coalesce(col("x"), lit(0L)).as("x"))
    val tot = filled.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val d38 = DecimalType(38, 0)
    val byH = Window.orderBy(col("h"))
    // centered-and-scaled residual n·x − S: integer, so every product is exact
    val g = filled.crossJoin(broadcast(tot))
      .withColumn("r", (col("n") * col("x") - col("s")).cast(d38))
    val lagged = g.select(
      (Seq(col("n"), col("s"), col("r")) ++
        (1 to acfMaxLagHours).map(k => lag(col("r"), k).over(byH).as(s"r_$k"))): _*)
    val stacked = lagged.select(col("n"), col("s"), col("r"),
      posexplode(array((1 to acfMaxLagHours).map(k => col(s"r_$k")): _*))
        .as(Seq("k0", "rlag")))
    stacked
      .groupBy((col("k0") + 1).as("lag_h"))
      .agg(max(col("n")).as("n_hours"),
        sum(col("r") * col("r")).as("den"),
        sum(when(col("rlag").isNotNull, col("r") * col("rlag"))
          .otherwise(lit(null).cast(d38))).as("num"))
      .select(col("lag_h"), col("n_hours"),
        round(col("num").cast("double") / col("den").cast("double"), 9).as("r_k"))
      .orderBy("lag_h")
  }

  /** Two-sided normal critical value (α=.05) for [[welchTtest]]'s flag
    * (Welch df here is in the thousands, where t ≈ normal).
    * Interpolated into the oracle from here. */
  val welchCrit = 1.96

  /** q_welch_ttest — Welch's unequal-variance t-test between the two
    * hash arms on PER-USER total value (the unit of randomization,
    * q_srm_check's lesson: event-level rows are pseudo-replicated —
    * users with more events would be counted more). Welch over pooled
    * Student's t deliberately: hash arms guarantee equal assignment
    * probability, not equal variance, and Welch costs nothing here.
    * Reports means, t, the Welch–Satterthwaite df, and a flag vs
    * [[welchCrit]].
    *
    * Scale shape: the corpus pass ends at the user-keyed DECIMAL sum
    * (the q_cuped frame); per-arm power sums are a 2-group map-side-
    * combined aggregate over that frame (x² through DECIMAL(30,8), the
    * q_cuped device, so arm sums are addition-order-proof); every
    * float op runs once on the 1-row pivot in a fixed expression
    * order. */
  def welchTtest(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Sampling
    val d19 = DecimalType(19, 2)
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(sum(dec(col("value"))).as("xr"))
      .select(col("user_id"), col("xr").cast(d19).as("x"))
    val arm = Sampling.splitAssign(col("user_id"), Seq("A" -> 0.5, "B" -> 0.5))
    val byArm = perUser
      .select(arm.as("arm"), col("x"))
      .groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum((col("x") * col("x")).cast(DecimalType(30, 8))).as("sxx"))
    val wide = byArm.agg(
      max(when(col("arm") === "A", col("n"))).as("n_a"),
      max(when(col("arm") === "A", col("sx"))).as("sx_a"),
      max(when(col("arm") === "A", col("sxx"))).as("sxx_a"),
      max(when(col("arm") === "B", col("n"))).as("n_b"),
      max(when(col("arm") === "B", col("sx"))).as("sx_b"),
      max(when(col("arm") === "B", col("sxx"))).as("sxx_b"))
    def nd(c: String) = col(c).cast("double")
    def mean(s: String, n: String) = nd(s) / nd(n)
    // sample variance from exact power sums: (sxx - sx*sx/n) / (n - 1)
    def variance(sxx: String, sx: String, n: String) =
      (nd(sxx) - nd(sx) * nd(sx) / nd(n)) / (nd(n) - lit(1.0))
    val vOverNa = variance("sxx_a", "sx_a", "n_a") / nd("n_a")
    val vOverNb = variance("sxx_b", "sx_b", "n_b") / nd("n_b")
    val se2 = vOverNa + vOverNb
    val t = (mean("sx_a", "n_a") - mean("sx_b", "n_b")) / sqrt(se2)
    val df = (se2 * se2) /
      (vOverNa * vOverNa / (nd("n_a") - lit(1.0)) +
        vOverNb * vOverNb / (nd("n_b") - lit(1.0)))
    wide.select(col("n_a"), col("n_b"),
      round(mean("sx_a", "n_a"), 6).as("mean_a"),
      round(mean("sx_b", "n_b"), 6).as("mean_b"),
      round(t, 6).as("t_stat"),
      round(df, 4).as("df_welch"),
      (abs(round(t, 6)) > welchCrit).as("significant"))
  }

  /** q_chi2_independence — χ² test of independence over the
    * event_type × ISO-weekday contingency table, with Cramér's V (the
    * [0,1] effect size χ² alone is not: χ² grows with N even when the
    * association is trivial — exactly the 100 TB trap, where
    * everything is "significant"). dof and V's min(r−1,c−1) come from
    * the OBSERVED distinct counts, not the nominal domains.
    *
    * Scale shape: ONE corpus pass ends at the (type, dow) cell
    * aggregate — bounded by the attribute domains (≤ 5×7 here), the
    * q_auc_exact device; margins/totals are window sums over that tiny
    * frame; per-cell (O−E)²/E terms ROUND(,9)→DECIMAL(18,9) so the
    * final sum is addition-order-proof. */
  def chi2Independence(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(col("event_type"), ((dayofweek(col("ts")) + 5) % 7).as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("o"))
    val wr = Window.partitionBy(col("event_type"))
    val wc = Window.partitionBy(col("dow"))
    val wAll = Window.partitionBy()
    val m = cells
      .withColumn("nr", sum(col("o")).over(wr))
      .withColumn("nc", sum(col("o")).over(wc))
      .withColumn("n", sum(col("o")).over(wAll))
      .withColumn("r", size(collect_set(col("event_type")).over(wAll)))
      .withColumn("c", size(collect_set(col("dow")).over(wAll)))
    val e = (col("nr") * col("nc")).cast("double") / col("n").cast("double")
    val term = round((col("o").cast("double") - e) * (col("o").cast("double") - e) / e, 9)
      .cast(DecimalType(18, 9))
    val agg = m.select(col("n"), col("r"), col("c"), term.as("term"))
      .groupBy(col("n"), col("r"), col("c"))
      .agg(sum(col("term")).as("chi2d"))
    agg.select(col("n"), col("r").as("n_rows"), col("c").as("n_cols"),
      ((col("r") - 1) * (col("c") - 1)).as("dof"),
      round(col("chi2d").cast("double"), 6).as("chi2"),
      round(sqrt(col("chi2d").cast("double") /
        (col("n").cast("double") * least(col("r") - 1, col("c") - 1).cast("double"))), 6)
        .as("cramers_v"))
  }

  /** q_ols_regression — closed-form simple OLS per return-flag:
    * l_extendedprice (cents) regressed on l_quantity, slope/intercept
    * back in dollars plus R². The normal-equation form needs only the
    * five power sums — the map-side-combinable statistic that makes
    * linear regression a one-pass distributed aggregate (the same
    * shape MLlib's summarizer reduces; no gradient iterations, no
    * second scan).
    *
    * Determinism: qty and cents are exact BIGINTs; q², q·cents sums
    * stay BIGINT (bounded: q ≤ 50, cents ≤ ~1e7), cents² goes through
    * DECIMAL(28,0) (6e5 rows × 1e14/row would overflow BIGINT at the
    * ×10 rehearsal). The sums convert exactly to double once; slope/
    * intercept/R² are one-shot fixed-order chains on the per-flag
    * pivot (≤ 3 rows). */
  def olsRegression(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(
      col("l_returnflag").as("flag"),
      col("l_quantity").cast("long").as("q"),
      round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val g = li.groupBy(col("flag")).agg(
      count(lit(1)).as("n"),
      sum(col("q")).as("sx"),
      sum(col("cents")).as("sy"),
      sum(col("q") * col("q")).as("sxx"),
      sum(col("q") * col("cents")).as("sxy"),
      sum((col("cents") * col("cents")).cast(DecimalType(28, 0))).as("syy"))
    def nd(c: String) = col(c).cast("double")
    val covN = nd("n") * nd("sxy") - nd("sx") * nd("sy") // n·Σxy − Σx·Σy
    val varXn = nd("n") * nd("sxx") - nd("sx") * nd("sx")
    val varYn = nd("n") * nd("syy") - nd("sy") * nd("sy")
    val slopeCents = covN / varXn
    g.select(col("flag"), col("n"),
      round(slopeCents / lit(100.0), 6).as("slope"),
      round((nd("sy") - slopeCents * nd("sx")) / nd("n") / lit(100.0), 6)
        .as("intercept"),
      round(covN * covN / (varXn * varYn), 6).as("r2"))
      .orderBy("flag")
  }

  /** q_decision_stump — exact best binary split (CART root node):
    * predict returns (l_returnflag = 'R') from a quantity threshold by
    * minimizing the weighted Gini impurity over EVERY candidate split,
    * ties to the smallest threshold. The gain over the parent Gini is
    * the feature-importance number a forest would log. One distributed
    * histogram pass IS the classic scalable tree recipe (Panda et al.,
    * PLANET, VLDB'09): no per-split rescan, no sort of the corpus.
    *
    * Scale shape: the corpus pass ends at the (value, n, n_pos)
    * histogram — bounded by the feature domain (≤ 50 values); split
    * search = one cumulative window + an argmin window over that tiny
    * frame. Counts are pure BIGINT; each candidate's impurity is a
    * one-shot double chain ROUND(,9) so the argmin total order
    * (impurity, threshold) is exact on both engines. */
  def decisionStump(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(
      col("l_quantity").cast("long").as("q"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
    val hist = li.groupBy(col("q"))
      .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
    val w = Window.orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val cum = hist
      .withColumn("nl", sum(col("cnt")).over(w))
      .withColumn("pl", sum(col("pos")).over(w))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("p", sum(col("pos")).over(wAll))
      .filter(col("nl") < col("n")) // right side must be non-empty
    def nd(c: Column) = c.cast("double")
    def gini(pos: Column, tot: Column) =
      lit(1.0) - (nd(pos) * nd(pos) + nd(tot - pos) * nd(tot - pos)) /
        (nd(tot) * nd(tot))
    val nr = col("n") - col("nl")
    val pr = col("p") - col("pl")
    val imp = round((nd(col("nl")) * gini(col("pl"), col("nl")) +
      nd(nr) * gini(pr, nr)) / nd(col("n")), 9)
    val parent = round(gini(col("p"), col("n")), 9)
    val scored = cum.select(col("q").as("threshold"),
      col("nl").as("n_left"), nr.as("n_right"),
      col("pl").as("pos_left"), pr.as("pos_right"),
      imp.as("impurity"), round(parent - imp, 9).as("gain"))
    val rank = Window.orderBy(col("impurity"), col("threshold"))
    scored.withColumn("rn", row_number().over(rank))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Shared normal-equation chains for [[olsMulti]] — the Cramer 3×3
    * solve and R² as SQL TEXT built once and parsed by BOTH engines
    * (Spark `expr()` here, the DuckDB oracle by interpolation), so the
    * IEEE evaluation order cannot drift between the two hand-written
    * copies a dual-maintained chain would need. Inputs are the named
    * power-sum columns of the aggregate frame. */
  def olsMultiChains: Seq[(String, String)] = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val (n, s1, s2, sy) = (d("n"), d("s1"), d("s2"), d("sy"))
    val (s11, s22, s12) = (d("s11"), d("s22"), d("s12"))
    val (s1y, s2y, syy) = (d("s1y"), d("s2y"), d("syy"))
    // det [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]], first-row expansion
    val det = s"($n * ($s11 * $s22 - $s12 * $s12) - $s1 * ($s1 * $s22 - $s12 * $s2) + $s2 * ($s1 * $s12 - $s11 * $s2))"
    val det0 = s"($sy * ($s11 * $s22 - $s12 * $s12) - $s1 * ($s1y * $s22 - $s12 * $s2y) + $s2 * ($s1y * $s12 - $s11 * $s2y))"
    val det1 = s"($n * ($s1y * $s22 - $s12 * $s2y) - $sy * ($s1 * $s22 - $s12 * $s2) + $s2 * ($s1 * $s2y - $s1y * $s2))"
    val det2 = s"($n * ($s11 * $s2y - $s1y * $s12) - $s1 * ($s1 * $s2y - $s1y * $s2) + $sy * ($s1 * $s12 - $s11 * $s2))"
    val (b0, b1, b2) = (s"($det0 / $det)", s"($det1 / $det)", s"($det2 / $det)")
    // SSE from the sums (valid because b solves the normal equations);
    // betas enter UNROUNDED so r2 is the true fit quality
    val sse = s"($syy - $b0 * $sy - $b1 * $s1y - $b2 * $s2y)"
    val sst = s"($syy - $sy * $sy / $n)"
    Seq(
      "b0" -> s"ROUND($b0 / 100.0, 6)",
      "b1" -> s"ROUND($b1 / 100.0, 6)",
      "b2" -> s"ROUND($b2 / 100.0, 6)",
      "r2" -> s"ROUND(1.0 - $sse / $sst, 6)")
  }

  /** q_ols_multi — closed-form MULTIPLE regression per return-flag:
    * price (cents) ~ quantity + discount (basis points), solved by
    * Cramer's rule on the 3×3 normal equations. The multivariate
    * sibling of [[olsRegression]]: still ONE map-side-combinable
    * power-sum pass — the normal-equation matrix needs only the ten
    * sums, so adding features grows the aggregate row quadratically in
    * p (fine for tabular p) while the corpus cost stays a single scan.
    * No gradients, no iterations — the 100 TB way to fit small linear
    * models.
    *
    * Determinism: quantity (≤50), discount-bps (≤10) and cents are
    * exact BIGINTs; every pairwise product sum stays BIGINT (bounded),
    * cents² goes through DECIMAL(28,0) (the [[olsRegression]] device);
    * the solve itself is ONE shared SQL text ([[olsMultiChains]])
    * parsed by both engines on the ≤3-row pivot. */
  def olsMulti(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(
      col("l_returnflag").as("flag"),
      col("l_quantity").cast("long").as("q"),
      round(col("l_discount") * 100).cast("long").as("d"),
      round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val g = li.groupBy(col("flag")).agg(
      count(lit(1)).as("n"),
      sum(col("q")).as("s1"),
      sum(col("d")).as("s2"),
      sum(col("cents")).as("sy"),
      sum(col("q") * col("q")).as("s11"),
      sum(col("d") * col("d")).as("s22"),
      sum(col("q") * col("d")).as("s12"),
      sum(col("q") * col("cents")).as("s1y"),
      sum(col("d") * col("cents")).as("s2y"),
      sum((col("cents") * col("cents")).cast(DecimalType(28, 0))).as("syy"))
    val outs = olsMultiChains.map { case (name, chain) => expr(chain).as(name) }
    g.select(col("flag") +: col("n") +: outs: _*).orderBy("flag")
  }

  /** q_nn_match — nearest-neighbor covariate matching (with
    * replacement): each hash-arm TREATED user is matched to the
    * CONTROL user with the closest pre-period spend, and the per-pair
    * post-period difference is the matching estimator's unit — the
    * causal-inference step between [[cuped]] (regression adjustment)
    * and [[did]] (parallel trends): compare like with like, THEN
    * difference. Ties in distance go to the at-or-before neighbor;
    * candidate ties inside a side are broken by the (pre, user_id)
    * sort order.
    *
    * Scale shape: the corpus pass ends at the per-user conditional
    * DECIMAL sums (the cuped frame); matching reads the last control
    * at-or-before and the first control after (IGNORE NULLS running
    * values), so the nearest neighbor costs a sort, not a join, and
    * never goes quadratic. Since r14 the running reads are range-
    * BUCKETED (the [[ScalableRank]] device generalized from rank to
    * carry-forward): within-bucket KEYED running windows, plus a
    * bounded per-bucket boundary frame (last/first control per bucket,
    * ≤256 rows) whose own running carry is broadcast back — identical
    * output to the old partition-less window, never a single-reducer
    * sort over ALL users at 100 TB. Both directions stay RUNNING
    * (unboundedPreceding..currentRow; the after-side uses the REVERSED
    * ordering) — Spark evaluates unboundedFollowing frames by
    * re-scanning the tail per row (O(n²); measured 23.8× at 10× data),
    * while running frames are incremental (1.3×). Every value is
    * DECIMAL(18/19,2) end to end — matching distance, tie-breaks, and
    * the emitted effect are all EXACT; the key carries no float device
    * at all. */
  def nnMatch(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Sampling
    val arm = Sampling.splitAssign(col("user_id"), Seq("T" -> 0.5, "C" -> 0.5))
    val isPost = col("ts").cast("timestamp") >=
      lit(cupedCutDate).cast("timestamp")
    val zero = lit(0).cast(DecimalType(18, 2))
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(!isPost, dec(col("value"))).otherwise(zero)).as("pre"),
        sum(when(isPost, dec(col("value"))).otherwise(zero)).as("post"))
      .select(col("user_id"), arm.as("arm"), col("pre"), col("post"))
    // range-bucket on the matching covariate: ties share a bucket, so
    // bucket-major (pre, user_id) order ≡ the global order
    val b = ScalableRank.withRangeBucket(perUser, col("pre"))
    val ctlS = when(col("arm") === "C",
      struct(col("pre").as("pre"), col("user_id").as("user_id"),
        col("post").as("post")))
    val ctlKey = when(col("arm") === "C", struct(col("pre"), col("user_id")))
    // per-bucket boundary controls (max_by/min_by skip null keys, i.e.
    // treated rows; a control-free bucket yields NULL and is skipped by
    // the ignoreNulls carry below)
    val summ = b.groupBy(col("__rb")).agg(
      max_by(ctlS, ctlKey).as("lastC"), min_by(ctlS, ctlKey).as("firstC"))
    // cross-bucket carry over the ≤256-row boundary frame — bounded
    // partition-less windows (the histogram-bins pattern)
    val bw = Window.partitionBy(lit(0)).orderBy(col("__rb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val fw = Window.partitionBy(lit(0)).orderBy(col("__rb").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = summ.select(col("__rb"),
      last(col("lastC"), ignoreNulls = true).over(bw).as("prevC"),
      last(col("firstC"), ignoreNulls = true).over(fw).as("nextC"))
    val before = Window.partitionBy(col("__rb"))
      .orderBy(col("pre"), col("user_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val afterRev = Window.partitionBy(col("__rb"))
      .orderBy(col("pre").desc, col("user_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = b.join(broadcast(carry), Seq("__rb"))
      .withColumn("sB", coalesce(
        last(ctlS, ignoreNulls = true).over(before), col("prevC")))
      .withColumn("sA", coalesce(
        last(ctlS, ignoreNulls = true).over(afterRev), col("nextC")))
      .filter(col("arm") === "T")
      .withColumn("b_id", col("sB.user_id"))
      .withColumn("b_pre", col("sB.pre"))
      .withColumn("b_post", col("sB.post"))
      .withColumn("a_id", col("sA.user_id"))
      .withColumn("a_pre", col("sA.pre"))
      .withColumn("a_post", col("sA.post"))
    // nearer neighbor wins; equal distance (or missing after-side) → before
    val useBefore = col("a_id").isNull ||
      (col("b_id").isNotNull &&
        (col("pre") - col("b_pre")) <= (col("a_pre") - col("pre")))
    def pick(b: Column, a: Column) = when(useBefore, b).otherwise(a)
    m.select(
        col("user_id"), col("pre"), col("post"),
        pick(col("b_id"), col("a_id")).as("ctrl_id"),
        pick(col("b_pre"), col("a_pre")).as("ctrl_pre"),
        pick(col("b_post"), col("a_post")).as("ctrl_post"))
      .select(col("user_id"),
        col("pre").cast("double").as("pre"),
        col("post").cast("double").as("post"),
        col("ctrl_id"),
        abs(col("pre") - col("ctrl_pre")).cast("double").as("delta_pre"),
        (col("post") - col("ctrl_post")).cast("double").as("effect"))
      .orderBy("user_id")
  }

  /** Ridge penalty grid for [[ridgeGrid]] — per-observation λ, so the
    * shrinkage strength is scale-invariant (Sxx/n ≈ var(x) regardless
    * of SF). */
  val ridgeLambdas = Seq(0.0, 50.0, 500.0)

  /** Shared per-λ chains for [[ridgeGrid]] (the [[olsMultiChains]]
    * device: ONE SQL text parsed by both engines). Centered ridge with
    * unpenalized intercept: b = Sxy_c / (Sxx_c + λn), a = ȳ − b·x̄;
    * validation SSE expanded from the val power sums. */
  def ridgeChains: Seq[(String, String)] = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val n = d("n_tr")
    val (sx, sy, sxx, sxy) = (d("sx_tr"), d("sy_tr"), d("sxx_tr"), d("sxy_tr"))
    val lam = d("lambda")
    val sxyC = s"($sxy - $sx * $sy / $n)"
    val sxxC = s"($sxx - $sx * $sx / $n)"
    val b = s"($sxyC / ($sxxC + $lam * $n))"
    val a = s"($sy / $n - $b * ($sx / $n))"
    val (nv, sxv, syv) = (d("n_va"), d("sx_va"), d("sy_va"))
    val (sxxv, sxyv, syyv) = (d("sxx_va"), d("sxy_va"), d("syy_va"))
    // Σ_val (y − a − bx)² expanded in power sums, fixed term order
    val sse = s"($syyv - 2.0 * $a * $syv - 2.0 * $b * $sxyv + 2.0 * $a * $b * $sxv + $a * $a * $nv + $b * $b * $sxxv)"
    Seq(
      "slope" -> s"ROUND($b / 100.0, 6)",
      "intercept" -> s"ROUND($a / 100.0, 6)",
      // RMSE in dollars, not raw SSE: the cents² SSE is ~1e14 at sf0.1,
      // where a 2-dp ROUND has no exact representation and the engines'
      // last ulp diverges; RMSE is O(10³) and rounds identically
      "rmse_val" -> s"ROUND(sqrt($sse / $nv) / 100.0, 6)")
  }

  /** q_ridge_grid — hyperparameter grid search as ONE declarative
    * plan: three ridge penalties fit on the 80% hash-split train rows
    * and scored on the 20% validation rows, best-by-validation
    * flagged. The model-selection pattern a distributed trainer runs
    * (dist-keras's grid of workers): at 100 TB the corpus is scanned
    * ONCE for the conditional train/val power sums; every candidate
    * model is then a few arithmetic rows on the driver-side-free
    * 1-row pivot — fitting K models costs K rows, not K scans.
    *
    * Determinism: sums are exact (BIGINT, cents² via DECIMAL(28,0));
    * the per-λ solve + validation SSE are ONE shared SQL text
    * ([[ridgeChains]]); the best flag compares 2-dp-rounded SSE with
    * λ as the tie-break. */
  def ridgeGrid(spark: SparkSession, dir: String): DataFrame = {
    val isTrain = graft.text.Sampling.inSample(
      concat(col("l_orderkey"), lit(":"), col("l_linenumber"), lit(":"),
        col("l_quantity")), 0.8)
    val li = Tables.lineitem(spark, dir).select(
      isTrain.as("tr"),
      col("l_quantity").cast("long").as("x"),
      round(col("l_extendedprice") * 100).cast("long").as("y"))
    def part(p: Column, c: Column) = sum(when(p, c).otherwise(lit(0L)))
    val g = li.agg(
      sum(when(col("tr"), 1L).otherwise(0L)).as("n_tr"),
      part(col("tr"), col("x")).as("sx_tr"),
      part(col("tr"), col("y")).as("sy_tr"),
      part(col("tr"), col("x") * col("x")).as("sxx_tr"),
      part(col("tr"), col("x") * col("y")).as("sxy_tr"),
      sum(when(!col("tr"), 1L).otherwise(0L)).as("n_va"),
      part(!col("tr"), col("x")).as("sx_va"),
      part(!col("tr"), col("y")).as("sy_va"),
      part(!col("tr"), col("x") * col("x")).as("sxx_va"),
      part(!col("tr"), col("x") * col("y")).as("sxy_va"),
      sum(when(!col("tr"), (col("y") * col("y")).cast(DecimalType(28, 0)))
        .otherwise(lit(0).cast(DecimalType(28, 0)))).as("syy_va"))
    val grid = g.select(col("*"),
      explode(array(ridgeLambdas.map(lit): _*)).as("lambda"))
    val outs = ridgeChains.map { case (name, chain) => expr(chain).as(name) }
    val fit = grid.select(col("lambda") +: outs: _*)
    val best = Window.orderBy(col("rmse_val"), col("lambda"))
    fit.withColumn("is_best", (row_number().over(best) === 1).cast("int"))
      .orderBy("lambda")
  }

  /** Shared OLS (a, b) chains for [[conformalInterval]] over the train
    * power-sum columns — the [[olsMultiChains]] one-text device. */
  def conformalAB: (String, String) = {
    def d(c: String) = s"CAST($c AS DOUBLE)"
    val (n, sx, sy, sxx, sxy) =
      (d("n_tr"), d("sx_tr"), d("sy_tr"), d("sxx_tr"), d("sxy_tr"))
    val b = s"(($sxy - $sx * $sy / $n) / ($sxx - $sx * $sx / $n))"
    val a = s"($sy / $n - $b * ($sx / $n))"
    (a, b)
  }

  /** q_conformal_interval — split conformal prediction (Papadopoulos
    * et al. / Vovk): fit price ~ quantity on the 80% hash split, take
    * the 90th percentile of absolute validation residuals as the
    * calibration width q̂ — then ŷ ± q̂ covers ≥ 90% of future points
    * with NO distributional assumptions. The uncertainty layer the
    * point-predictor keys (ols/ridge/mlp_predict) lack: at 100 TB,
    * calibrated intervals are how a prediction service reports what it
    * does not know. Coverage on the calibration split itself is
    * emitted as the self-check (≈ the nominal level by construction).
    *
    * Scale shape: ONE scan to the train power sums; residuals are one
    * per-row codegen chain over the val rows; q̂ = ONE exact
    * percentile over the narrow residual column (the GK sketch at
    * 100 TB, same plan); coverage is a second bounded pass over the
    * same residuals. Determinism: (a, b) are ONE shared SQL text
    * ([[conformalAB]]); residuals are fixed-order double chains;
    * percentile ≡ quantile_cont on identical doubles (the
    * q_lateness_audit device). */
  def conformalInterval(spark: SparkSession, dir: String): DataFrame = {
    val isTrain = graft.text.Sampling.inSample(
      concat(col("l_orderkey"), lit(":"), col("l_linenumber"), lit(":"),
        col("l_quantity")), 0.8)
    // r16: materialize the narrow (tr, x, y) projection ONCE — the old
    // lazy frame was re-derived by three consumers (train aggregate,
    // residual pass, coverage pass), each re-reading lineitem and
    // re-computing the md5 split hash per row (the expensive term);
    // now one scan+hash pass feeds all three from checkpointed blocks
    // (guide §1.2 "don't compute things twice", §2.3)
    val li = Checkpointer(
      Tables.lineitem(spark, dir).select(
        isTrain.as("tr"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y")))
    def part(p: Column, c: Column) = sum(when(p, c).otherwise(lit(0L)))
    val g = li.agg(
      sum(when(col("tr"), 1L).otherwise(0L)).as("n_tr"),
      part(col("tr"), col("x")).as("sx_tr"),
      part(col("tr"), col("y")).as("sy_tr"),
      part(col("tr"), col("x") * col("x")).as("sxx_tr"),
      part(col("tr"), col("x") * col("y")).as("sxy_tr"))
    val (aChain, bChain) = conformalAB
    val ab = g.select(expr(aChain).as("a"), expr(bChain).as("b"))
    // the residual frame is itself read twice (quantile pass, coverage
    // pass) — checkpoint it too so the |validation| rows are computed
    // once rather than re-joined against the broadcast (a, b) per pass
    val r = Checkpointer(
      li.filter(!col("tr")).crossJoin(broadcast(ab))
        .select(expr("ABS(CAST(y AS DOUBLE) - a - b * CAST(x AS DOUBLE))").as("r")))
    val q = r.agg(percentile(col("r"), lit(0.9)).as("qh"),
      count(lit(1)).as("n_val"))
    val cov = r.crossJoin(broadcast(q.select(col("qh"))))
      .agg(round(avg((col("r") <= col("qh")).cast("double")), 6).as("coverage"))
    q.crossJoin(broadcast(ab)).crossJoin(broadcast(cov))
      .select(col("n_val"),
        expr("ROUND(b / 100.0, 6)").as("slope"),
        expr("ROUND(a / 100.0, 6)").as("intercept"),
        round(col("qh") / 100.0, 6).as("q90_resid"),
        col("coverage"))
  }

  /** q_propensity_strata — stratified ATT: users quintiled on
    * pre-period spend (the propensity stand-in — at 100 TB the score
    * would come from [[olsMulti]]-style closed-form fits over more
    * covariates, same plan downstream), treated-vs-control post-period
    * means compared WITHIN each stratum, pooled by treated weight.
    * Completes the causal quartet: [[cuped]] adjusts, [[nnMatch]]
    * matches 1:1, this stratifies (the coarsened form that stays
    * robust when exact matches are thin), [[did]] checks trends. A
    * stratum that drew no controls contributes NULL (SUM skips it —
    * identically on both engines).
    *
    * Scale shape: the corpus pass ends at the per-user DECIMAL sums
    * (the cuped frame); the quintile is the range-bucketed
    * [[ScalableRank.rangeNtile]] device (r14) over that narrow
    * aggregate — bit-identical to the naive unpartitioned ntile but
    * never a single-reducer sort over ALL users at 100 TB; everything
    * after runs on 5 rows. Determinism: DECIMAL
    * sums; per-stratum diff is a fixed-order double chain ROUND(,6);
    * the pooled terms ROUND(,9) → DECIMAL so the final weighted sum is
    * addition-order-proof. */
  def propensityStrata(spark: SparkSession, dir: String): DataFrame = {
    import graft.text.Sampling
    val arm = Sampling.splitAssign(col("user_id"), Seq("T" -> 0.5, "C" -> 0.5))
    val isPost = col("ts").cast("timestamp") >=
      lit(cupedCutDate).cast("timestamp")
    val zero = lit(0).cast(DecimalType(18, 2))
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(sum(when(!isPost, dec(col("value"))).otherwise(zero)).as("pre"),
        sum(when(isPost, dec(col("value"))).otherwise(zero)).as("post"))
      .select(col("user_id"), arm.as("arm"), col("pre"), col("post"))
    val strat = ScalableRank.rangeNtile(perUser, col("pre"),
      Seq(col("pre"), col("user_id")), 5, "stratum")
    val g = strat.groupBy(col("stratum")).agg(
      sum(when(col("arm") === "T", 1L).otherwise(0L)).as("n_t"),
      sum(when(col("arm") === "C", 1L).otherwise(0L)).as("n_c"),
      sum(when(col("arm") === "T", col("post")).otherwise(zero)).as("sp_t"),
      sum(when(col("arm") === "C", col("post")).otherwise(zero)).as("sp_c"))
    def nd(c: Column) = c.cast("double")
    // a control-free stratum yields NULL through the 0/0 guard below
    val diff = when(col("n_t") > 0 && col("n_c") > 0,
      round(nd(col("sp_t")) / nd(col("n_t")) -
        nd(col("sp_c")) / nd(col("n_c")), 6))
    val scored = g.select(col("stratum"), col("n_t"), col("n_c"),
      diff.as("att_stratum"))
    val wAll = Window.partitionBy()
    scored
      .withColumn("term",
        round(col("att_stratum") * nd(col("n_t")), 9).cast(DecimalType(18, 9)))
      .withColumn("att_pooled",
        round(sum(col("term")).over(wAll).cast("double") /
          sum(when(col("att_stratum").isNotNull, nd(col("n_t")))
            .otherwise(lit(0.0))).over(wAll), 6))
      .select(col("stratum"), col("n_t"), col("n_c"), col("att_stratum"),
        col("att_pooled"))
      .orderBy("stratum")
  }

  def seasonalProfile(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(((dayofweek(col("ts")) + 5) % 7).as("dow"),
        hour(col("ts")).as("hod"),
        col("value").cast(DecimalType(18, 2)).as("v"))
      .groupBy(col("dow"), col("hod"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val g = cells.agg(
      (sum(col("sv")).cast("double") / sum(col("n")).cast("double")).as("g_mean"))
    val mean = col("sv").cast("double") / col("n").cast("double")
    cells.crossJoin(broadcast(g))
      .select(col("dow"), col("hod"), col("n"),
        round(mean, 6).as("mean_value"),
        round(mean - col("g_mean"), 6).as("dev_from_global"))
      .orderBy("dow", "hod")
  }
}
