package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Checkpointer

/** PageRank by fixed-iteration power method — the second iterative
  * graph primitive next to [[ConnectedComponents]] (reference surface:
  * dist-keras has no graph ops; this is the §2.C extension a corpus
  * pipeline uses to score documents/hosts by link structure, e.g.
  * Common-Crawl host ranks as a quality prior).
  *
  * Graph here: the bipartite order↔part incidence from `lineitem`
  * (edge per line item, both orientations, multi-edges kept as weight).
  * Node ids are namespaced into one long key space (order → 2k,
  * part → 2k+1) — longs, not strings, so shuffle keys stay 8 bytes at
  * 100 TB.
  *
  * Per iteration: one node-keyed join (ranks ⋈ out-degree to form each
  * node's per-edge share), one edge-keyed join (edges ⋈ shares on src)
  * and one aggregate on dst — the exact shuffle shape of one CC round,
  * O(|E|) per iteration, nothing driver-side but the one scalar node
  * count. Iteration state is lineage-truncated through [[Checkpointer]]
  * and superseded rounds are released, as in ConnectedComponents (use
  * Reliable on clusters where executor loss is routine).
  *
  * Determinism device (oracle parity): per-edge shares are rounded to
  * 12 dp and summed as DECIMAL(24,12) — addition-order-proof — then the
  * damping update runs in double with a fixed operation order; the
  * output rank is rounded to 8 dp. Every node has in- and out-edges by
  * construction (both orientations of every incidence), so there is no
  * dangling-mass term.
  */
object PageRank {

  val damping = 0.85
  /** Written as the literal 0.15, never computed as `1.0 - damping`:
    * the two differ in the last double bit (0.85 is inexact in binary)
    * and the oracle interpolates the same literal. */
  val teleport = 0.15
  val iterations = 3

  /** General engine: `edges` (src, dst) directed, multi-edges = weight;
    * ranks over the nodes that appear as a source.
    *
    * Unlike the CC loop this has a FIXED iteration count and no
    * convergence probe, so rounds are NOT materialized: the whole power
    * method runs as one composed lazy plan (3 chained join+agg stages)
    * and the only checkpoints are the two reused inputs — the
    * degree-annotated edge list (consumed by every round) and the small
    * degree table (node count + initial ranks). Measured at sf0.1:
    * 7.1 s with per-round localCheckpoints → 5.4 s composed → 3.2 s
    * composed + src-pre-partitioned edges (the round-materialized shape
    * pays ~1 s of job overhead per round for a convergence probe
    * PageRank never reads). At truly unbounded iteration counts
    * lineage depth would call for a checkpoint every ~10 rounds — the
    * CC device — but fixed small iters is the PageRank-as-quality-prior
    * regime. */
  def run(edgesIn: DataFrame, iters: Int = iterations): DataFrame = {
    // (r16 measured dead end, do not redo: dropping this checkpoint and
    // letting the degree aggregate + ewd build each re-derive the edge
    // projection read 3.5 → 4.6 s at sf0.1 — the upstream scan fanout
    // exchange re-executes per consumer.)
    val edges = Checkpointer(edgesIn.select(col("src"), col("dst")))
    val deg = Checkpointer(edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("d")))
    val n = deg.count() // one scalar — bounded driver state
    // per-edge source degree carried on the edge row: one join at build
    // time instead of a ranks⋈deg join inside every iteration; hash-
    // partitioned by src BEFORE the checkpoint so every iteration's
    // join reuses the edge-side layout and shuffles only the node-sized
    // ranks frame (localCheckpoint preserves outputPartitioning)
    val ewd = Checkpointer(edges.join(
      deg.select(col("id").as("src"), col("d")), Seq("src"))
      .repartition(col("src")))
    Checkpointer.release(edges)
    var ranks = deg.select(col("id"), lit(1.0 / n).as("r"))
    for (i <- 1 to iters) {
      // r16: round 1 runs over the UNIFORM initial ranks (r = 1/n for
      // every source by construction), so the ewd ⋈ ranks join reduces
      // algebraically to a projection of ewd with the same literal —
      // one edge-sized shuffle join removed (the CC/HITS round-1
      // device); later rounds join the node-sized ranks frame as before
      val contrib =
        if (i == 1)
          ewd.select(col("dst"),
            round(lit(1.0 / n) / col("d"), 12).cast("decimal(24,12)").as("sh"))
        else ewd
          .join(ranks.withColumnRenamed("id", "src"), Seq("src"))
          .select(col("dst"),
            round(col("r") / col("d"), 12).cast("decimal(24,12)").as("sh"))
      ranks = contrib
        .groupBy(col("dst"))
        .agg(sum(col("sh")).as("s"))
        .select(col("dst").as("id"),
          (lit(teleport / n) + lit(damping) * col("s").cast("double")).as("r"))
    }
    ranks
  }

  /** Driver key: 3 damped iterations over the order↔part incidence
    * graph; output (node_id, kind, rank) rounded to 8 dp. */
  def qPageRank(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.lineitem(spark, dir)
    val e0 = li.select((col("l_orderkey") * 2).as("src"),
      (col("l_partkey") * 2 + 1).as("dst"))
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    run(edges)
      .select(col("id").as("node_id"),
        when(col("id") % 2 === 0, lit("order")).otherwise(lit("part")).as("kind"),
        round(col("r"), 8).as("rank"))
      .orderBy("node_id")
  }

  /** DuckDB oracle: the identical power method unrolled as chained CTEs
    * (fixed iteration count, so no recursion needed); damping/teleport
    * literals and the rounding device interpolated from this object so
    * both engines parse the same doubles. */
  def oracleSql: String = {
    val base =
      "WITH e0 AS (SELECT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem), " +
        "e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0), " +
        "deg AS (SELECT src AS id, COUNT(*) AS d FROM e GROUP BY src), " +
        "nn AS (SELECT COUNT(*) AS n FROM deg), " +
        "r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS r FROM deg)"
    val iters = (1 to iterations).map { i =>
      s"s$i AS (SELECT r${i - 1}.id, CAST(ROUND(r / d, 12) AS DECIMAL(24,12)) AS sh " +
        s"FROM r${i - 1} JOIN deg ON r${i - 1}.id = deg.id), " +
        s"r$i AS (SELECT e.dst AS id, CAST($teleport AS DOUBLE) / (SELECT n FROM nn) + " +
        s"CAST($damping AS DOUBLE) * CAST(SUM(sh) AS DOUBLE) AS r " +
        s"FROM e JOIN s$i ON e.src = s$i.id GROUP BY e.dst)"
    }.mkString(", ")
    s"$base, $iters SELECT id AS node_id, " +
      "CASE WHEN id % 2 = 0 THEN 'order' ELSE 'part' END AS kind, " +
      s"ROUND(r, 8) AS rank FROM r$iterations ORDER BY node_id"
  }
}
