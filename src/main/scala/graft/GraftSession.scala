package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** The one session factory: every harness main (through [[Harness]])
  * and the test suite's shared session build from it, so the setup that
  * is benched, verified and tested is the one a library user gets.
  *
  * Settings and why:
  *  - AQE on (runtime re-planning: skew splits, shuffle coalescing,
  *    broadcast demotion) — on by default in Spark 4 but pinned here.
  *  - `shufflePartitions` sized by the caller to the actual parallelism
  *    (cores locally, ~2-3× total executor cores on a cluster) — the
  *    200 default is wrong at both ends.
  *  - UTC session timezone: cross-engine/time-function determinism.
  *  - ns-as-long parquet reads: required for ns-precision timestamp
  *    columns (see [[Tables.events]]).
  *  - no web UI; set `spark.ui.enabled=true` on the builder to get one.
  *  - a generated-class cache of 1000 entries instead of Spark's 100:
  *    one v2 LLM-pipeline op alone needs about 170 classes, so with the
  *    default every repeated op recompiled all of them (a static conf:
  *    it only applies when the builder creates the JVM's first session).
  *  - [[GraftExtensions]] injected so `graft_dot` and `graft_scatter`
  *    resolve in SQL. Extensions only apply when the builder CREATES
  *    the session; `getOrCreate` against a live session keeps the
  *    existing one.
  */
object GraftSession {
  def builder(master: String = "local[*]",
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      // runtime re-planning for the two failure modes bench can't see:
      // skew (one reducer gets the hot key's volume) and oversized
      // estimates (a "small" side that isn't). Both default-on in Spark
      // 4; pinned because the engine's scale posture depends on them.
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Catalyst's own runtime Bloom pushdown on shuffle joins — the
      // optimizer-injected twin of the explicit plans/BloomFilter
      // operator (which callers use where injection can't reach, e.g.
      // pre-shuffle semi-join pruning with a reusable built filter)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
}
