package graft.rel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.Checkpointer

/** Exact global ROW_NUMBER / NTILE without a single-reducer sort — the
  * range-bucketed twin of [[graft.text.Sampling.shufflePositions]] (that
  * device buckets by a hash PREFIX of its own sort key; this one buckets
  * by VALUE range, for ranks over data columns like spend or score).
  *
  * An unpartitioned `Window.orderBy(...)` executes in ONE task: Spark
  * plans `Exchange SinglePartition` under it, so at 100 TB (billions of
  * customers/users/docs) a "green" global rank is a single-reducer sort
  * — the classic driver-adjacent bottleneck that a small-SF bench never
  * catches because the aggregate IS small at test scale. The device here
  * reproduces the naive window's output EXACTLY (same oracle SQL, byte-
  * identical hashes) from parallel pieces:
  *
  *  1. ONE one-row aggregate computes `buckets-1` approx-percentile cut
  *     points over the bucket key, collected to the driver (the bounded
  *     control-decision collect) and inlined as LITERALS.
  *  2. Each row's bucket = #cuts strictly below its key, compiled as a
  *     codegen'd binary-search CASE tree over the sorted cut literals —
  *     a monotone, non-strict function of the key, so ties NEVER
  *     straddle a bucket boundary and bucket-major order ≡ global order
  *     (the external sort-merge argument, same as shufflePositions' hex
  *     prefix). Keys must be non-null and non-NaN (NaN sorts LAST in
  *     Spark's double order but compares false against every cut).
  *  3. Per-bucket counts (≤ `buckets` rows) turn into exclusive offsets
  *     via a BOUNDED window, broadcast back; a row's global rank is its
  *     bucket offset + its rank WITHIN the bucket (a keyed window,
  *     ~N/buckets rows per partition).
  *
  * The cut VALUES never affect the output — any monotone bucketing
  * yields the same rank — so approx_percentile's estimation error and
  * run-to-run nondeterminism are harmless; the percentile choice only
  * balances the buckets. Degenerate distributions (one value carrying
  * ≫ N/buckets rows) collapse into one bucket — the same tie-skew
  * caveat as any keyed window, handled by AQE skew splitting.
  *
  * NTILE derives from the exact rank and total count in BIGINT
  * arithmetic (first `N mod n` tiles take `N div n + 1` rows — the SQL
  * standard / Spark `NTile` contract), so `rangeNtile` is bit-identical
  * to `ntile(n).over(Window.orderBy(...))`.
  *
  * `buckets` defaults to 256 (fine to ~TB aggregates); raise toward the
  * cluster's task count for larger frames — the output is IDENTICAL for
  * every granularity, so re-tuning for scale can never change a hash.
  */
object ScalableRank {

  val defaultBuckets = 256

  /** Columns the device materializes internally; a caller frame using
    * one of these names would be silently clobbered (the
    * shufflePositions reserved-name hazard) — refuse instead. */
  private val reserved = Seq("__rbk", "__rb", "__rcuts", "__rc", "__roff", "__rtot", "__rrn")

  private def reserve(df: DataFrame, out: Seq[String]): Unit =
    (reserved ++ out).foreach { c =>
      require(!df.columns.contains(c), s"ScalableRank reserves column name '$c'")
    }

  /** Bucket id = number of cut points strictly below `v`, compiled as
    * a binary-search CASE tree over the SORTED cut literals: depth
    * log₂(buckets) codegen'd comparisons per row with short-circuit
    * evaluation. An array higher-order function here is NOT codegen'd —
    * each lambda step is interpreted expression evaluation, measured at
    * 1.9 s for 150 k rows × 255 cuts vs ~0 for this tree. */
  private def bucketExpr(cuts: Array[Double], v: Column): Column = {
    // lower_bound: v > cuts(mid) ⇒ ≥ mid+1 cuts below ⇒ go right
    def go(lo: Int, hi: Int): Column =
      if (lo >= hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(v > lit(cuts(mid)), go(mid + 1, hi)).otherwise(go(lo, mid))
      }
    go(0, cuts.length)
  }

  /** Adds `__rb` (int range-bucket id) from approx-percentile cuts on
    * `bucketKey`. The ≤`buckets`−1 cut values are collected to the
    * driver (the bounded control-decision collect, same class as the
    * IVF probed-centroid ids) and inlined as literals so assignment is
    * pure codegen. `bucketKey` must be non-null and monotone
    * NON-DECREASING along the caller's intended total order (negate it
    * for a descending primary sort); equal keys always share a bucket
    * — and the cut VALUES never affect the caller-visible output, only
    * the balance, so the collect can never change a hash. */
  def withRangeBucket(df: DataFrame, bucketKey: Column,
                      buckets: Int = defaultBuckets): DataFrame = {
    // upper bound 4096, not 65536: bucketExpr's CASE tree is linear-SIZE
    // in the cut count (only its depth is log), and ~131k expression
    // nodes at 65536 would blow Janino's 64KB method limit into
    // interpreted fallback — the per-invocation planning cost the
    // random-projection fused-dot commit exists to avoid (r14 advice)
    require(buckets >= 2 && buckets <= 4096, s"buckets must be in [2,4096]: $buckets")
    reserve(df, Nil)
    // the device reads its input three ways (cut points, per-bucket
    // counts, the ranked output): checkpoint the keyed frame ONCE so
    // the upstream corpus pass runs once and the two extra reads hit
    // materialized blocks (the PageRank lineage idiom)
    val keyed = Checkpointer(df.withColumn("__rbk", bucketKey.cast("double")))
    val fracs = (1 until buckets).map(i => lit(i.toDouble / buckets))
    // the non-null/non-NaN key requirement is ENFORCED, not just
    // documented (r14 advice): a null/NaN key compares false against
    // every cut and would silently land in bucket 0 — wrong ranks for
    // descending orders where nulls/NaN sort last. The count folds into
    // the one-row percentile aggregate, so the guard costs zero jobs.
    val cutsRow = keyed.agg(
      percentile_approx(col("__rbk"), array(fracs: _*), lit(10000)).as("__rcuts"),
      count_if(col("__rbk").isNull || isnan(col("__rbk"))).as("__rbad"))
      .head()
    require(cutsRow.getLong(1) == 0L,
      s"ScalableRank bucket key has ${cutsRow.getLong(1)} null/NaN rows — " +
        "these compare false against every cut and would rank wrongly; " +
        "filter or coalesce the key first")
    // duplicate cuts collapse (a value-heavy tie spans several
    // percentiles): fewer, distinct cut literals — same monotone buckets
    val cuts: Array[Double] =
      if (cutsRow.isNullAt(0)) Array.empty
      else cutsRow.getSeq[Double](0).distinct.sorted.toArray
    keyed.withColumn("__rb", bucketExpr(cuts, col("__rbk"))).drop("__rbk")
  }

  /** Exact `ROW_NUMBER() OVER (ORDER BY order...)` as LONG column `out`.
    * `order` must be a TOTAL order whose primary direction `bucketKey`
    * tracks monotonically (non-decreasing). With `totalOut` set, the
    * frame also carries the total row count (for NTILE-style scoring)
    * at zero extra passes. */
  def rangeRowNumber(df: DataFrame, bucketKey: Column, order: Seq[Column],
                     out: String, buckets: Int = defaultBuckets,
                     totalOut: Option[String] = None): DataFrame = {
    reserve(df, out +: totalOut.toSeq)
    val b = withRangeBucket(df, bucketKey, buckets)
    // exclusive cumulative offsets over the ≤`buckets`-row count frame;
    // the partition-less window is intentional and BOUNDED (the
    // histogram/AUC-bins pattern); total count rides along for free
    val offW = Window.partitionBy(lit(0)).orderBy(col("__rb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totW = Window.partitionBy(lit(0))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val offsets = b.groupBy(col("__rb")).agg(count(lit(1)).as("__rc"))
      .select(col("__rb"),
        coalesce(sum(col("__rc")).over(offW), lit(0L)).as("__roff"),
        sum(col("__rc")).over(totW).as("__rtot"))
    val rn = row_number().over(
      Window.partitionBy(col("__rb")).orderBy(order: _*)).cast("long")
    val ranked = b.join(broadcast(offsets), Seq("__rb"))
      .withColumn(out, col("__roff") + rn)
    totalOut.fold(ranked.drop("__rtot"))(t => ranked.withColumnRenamed("__rtot", t))
      .drop("__rb", "__roff")
  }

  /** Exact `NTILE(n) OVER (ORDER BY order...)` as INT column `out` —
    * bit-identical to the naive window (first `N mod n` tiles take one
    * extra row), computed from the range-bucketed rank. */
  def rangeNtile(df: DataFrame, bucketKey: Column, order: Seq[Column],
                 n: Int, out: String, buckets: Int = defaultBuckets): DataFrame = {
    require(n >= 1, s"ntile n must be >= 1: $n")
    val r = rangeRowNumber(df, bucketKey, order, "__rrn", buckets,
      totalOut = Some("__rtot"))
    // BIGINT-exact tile arithmetic (never a float division whose floor
    // could drift); IF is lazy, so the q=0 else-branch (N < n) is never
    // evaluated and its `div 0` cannot trip ANSI
    r.withColumn(out, expr(
        s"""CAST(IF(__rrn <= (__rtot % $n) * ((__rtot div $n) + 1),
           |  (__rrn - 1) div ((__rtot div $n) + 1) + 1,
           |  (__rtot % $n) + 1 +
           |    (__rrn - 1 - (__rtot % $n) * ((__rtot div $n) + 1)) div (__rtot div $n)
           |) AS INT)""".stripMargin))
      .drop("__rrn", "__rtot")
  }
}
