package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.plans.Checkpointer

/** HITS (Kleinberg hubs-and-authorities) by fixed-iteration power
  * method — the directed complement to [[PageRank]] in the graph-prior
  * toolbox (reference surface: dist-keras has no graph ops; a corpus
  * pipeline uses HITS-style scores to separate link FARMS from link
  * TARGETS, e.g. crawl frontier prioritization where PageRank's single
  * score conflates the two roles).
  *
  * Graph here: the directed order→part incidence from `lineitem`
  * (multi-edges kept as weight — an order buying a part twice endorses
  * it twice). Hubs are orders, authorities are parts.
  *
  * Determinism device — NO rounding needed, unlike PageRank: with the
  * usual per-iteration normalization DROPPED, every score is an exact
  * INTEGER (a₀ = 1, then each update is a sum of prior integer scores
  * over edges). Normalization only rescales — HITS ranking is invariant
  * to it — so the whole power method runs in exact arithmetic on both
  * engines and the driver hash-compare needs no float device at all.
  * Sums run through DECIMAL(28,0): magnitudes grow like degreeᵏ per
  * iteration, and a BIGINT sum would silently wrap on a 100 TB hub
  * (Spark long overflow is unchecked); the driver key emits the score
  * as the DECIMAL's exact STRING rendering in both engines (see
  * [[qHits]]) — never a BIGINT re-cast, which would reintroduce the
  * same wrap at the output boundary.
  *
  * Scale shape: per iteration ONE node-keyed equi-join (edges ⋈ scores)
  * and ONE aggregate — O(|E|) shuffle per round, the CC/PageRank bill.
  * Fixed small iteration count → the whole method composes as one lazy
  * plan (the PageRank measurement: round-materialization pays ~1 s of
  * job overhead per round for a convergence probe a fixed-k method
  * never reads); the only checkpoint is the reused edge list.
  */
object Hits {

  val iterations = 2

  /** General engine: `edges` (src, dst) directed, multi-edges = weight.
    * Returns (id, hub) for sources and (id, auth) for destinations as
    * two frames; scores are exact DECIMAL(28,0) integers. */
  def run(edgesIn: DataFrame, iters: Int = iterations): (DataFrame, DataFrame) = {
    val edges = Checkpointer(edgesIn.select(col("src"), col("dst")))
    // a0 = 1 for every authority, so h1 is just the (weighted)
    // out-degree — one aggregate, no join needed for round 1
    var hub = edges.groupBy(col("src"))
      .agg(count(lit(1)).cast(DecimalType(28, 0)).as("h"))
    var auth = edges.join(hub, "src")
      .groupBy(col("dst"))
      .agg(sum(col("h")).cast(DecimalType(28, 0)).as("a"))
    for (_ <- 2 to iters) {
      hub = edges.join(auth, "dst")
        .groupBy(col("src"))
        .agg(sum(col("a")).cast(DecimalType(28, 0)).as("h"))
      auth = edges.join(hub, "src")
        .groupBy(col("dst"))
        .agg(sum(col("h")).cast(DecimalType(28, 0)).as("a"))
    }
    (hub.select(col("src").as("id"), col("h")),
      auth.select(col("dst").as("id"), col("a")))
  }

  /** Driver key: 2 HITS iterations over the order→part incidence;
    * output (node_id, kind, score) with exact integer scores. Score is
    * emitted as the DECIMAL's exact STRING rendering (scale 0, so
    * "12345") in BOTH engines: a BIGINT re-cast would reintroduce the
    * wrap the DECIMAL(28,0) device exists to avoid — past 2^63 Spark
    * (non-ANSI) silently NULLs while DuckDB raises, divergent failure
    * modes on an extreme 100 TB hub. Strings stay exact at any degree. */
  def qHits(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("src"), col("l_partkey").as("dst"))
    val (hub, auth) = run(e)
    hub.select(col("id").as("node_id"), lit("order").as("kind"),
        col("h").cast("string").as("score"))
      .unionAll(auth.select(col("id").as("node_id"), lit("part").as("kind"),
        col("a").cast("string").as("score")))
      .orderBy("kind", "node_id")
  }

  /** DuckDB oracle: the identical integer power method unrolled as
    * chained CTEs — exact arithmetic end to end, so no rounding device
    * is interpolated. */
  def oracleSql: String = {
    val base =
      "WITH e AS (SELECT l_orderkey AS src, l_partkey AS dst FROM lineitem), " +
        "h1 AS (SELECT src, CAST(COUNT(*) AS DECIMAL(28,0)) AS h FROM e GROUP BY src), " +
        "a1 AS (SELECT e.dst, CAST(SUM(h) AS DECIMAL(28,0)) AS a FROM e JOIN h1 USING (src) GROUP BY e.dst)"
    val iters = (2 to iterations).map { i =>
      s"h$i AS (SELECT e.src, CAST(SUM(a) AS DECIMAL(28,0)) AS h FROM e JOIN a${i - 1} ON e.dst = a${i - 1}.dst GROUP BY e.src), " +
        s"a$i AS (SELECT e.dst, CAST(SUM(h) AS DECIMAL(28,0)) AS a FROM e JOIN h$i USING (src) GROUP BY e.dst)"
    }.mkString(", ")
    val tail = if (iterations >= 2) s", $iters" else ""
    s"$base$tail SELECT src AS node_id, 'order' AS kind, CAST(h AS VARCHAR) AS score FROM h$iterations " +
      s"UNION ALL SELECT dst AS node_id, 'part' AS kind, CAST(a AS VARCHAR) AS score FROM a$iterations " +
      "ORDER BY kind, node_id"
  }
}
