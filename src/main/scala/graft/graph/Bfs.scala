package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Checkpointer

/** Breadth-first search layers from a deterministic source — the
  * shortest-path primitive missing between [[ConnectedComponents]]
  * (reachability), [[PageRank]]/[[Hits]] (scores) and [[LinkPred]]
  * (2-hop): per node, the unweighted hop distance from the source,
  * bounded to [[Bfs.maxDepth]] rounds. The bounded-frontier form is
  * what a 100 TB graph job actually runs (k-hop neighborhoods, crawl
  * radius, blast-radius audits) — a full SSSP fixpoint is this plan
  * with a convergence probe, the CC device.
  *
  * Per round: ONE edge-keyed equi-join (edges ⋈ frontier), a distinct,
  * and an anti-join against the visited set — O(|E|) per round, the CC
  * bill; the frontier and visited frames are lineage-truncated through
  * [[Checkpointer]] like every iterative operator here. All arithmetic
  * is on integer node ids — no float device anywhere.
  */
object Bfs {

  val maxDepth = 4

  /** General engine: `edges` (src, dst) directed; the source is the
    * minimum src id (derived in-plan — no driver collect). Returns
    * (id, depth) for every node within `iters` hops. */
  def run(edgesIn: DataFrame, iters: Int = maxDepth): DataFrame = {
    val edges = Checkpointer(edgesIn.select(col("src"), col("dst")))
    var visited = Checkpointer(edges.agg(min(col("src")).as("id"))
      .select(col("id"), lit(0).as("depth")))
    var frontier = visited.select(col("id"))
    for (k <- 1 to iters) {
      val next = Checkpointer(edges
        .join(frontier.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id")).distinct()
        .join(visited.select(col("id")), Seq("id"), "left_anti"))
      // r16: `visited` stays a LAZY union of the already-checkpointed
      // layer frames — materializing the union per round (checkpointing
      // the grown set) re-wrote the whole visited set every round, an
      // O(|V|) copy per hop that the anti-join and final output read
      // just as well from the layer blocks (every union leaf is its
      // own checkpoint root, so no recompute lurks and the plan stays
      // `iters` leaves deep, not lineage-deep)
      visited = visited.unionAll(next.select(col("id"), lit(k).as("depth")))
      frontier = next
    }
    visited
  }

  /** Driver key: BFS layers over the order↔part incidence (the
    * [[PageRank]] namespaced edge set, both orientations), source =
    * the minimum node id (an order node by construction). */
  def qBfsLayers(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.lineitem(spark, dir)
    val e0 = li.select((col("l_orderkey") * 2).as("src"),
      (col("l_partkey") * 2 + 1).as("dst"))
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    run(edges)
      .select(col("id").as("node_id"),
        when(col("id") % 2 === 0, lit("order")).otherwise(lit("part")).as("kind"),
        col("depth"))
      .orderBy("node_id")
  }

  /** DuckDB oracle: the identical frontier expansion unrolled as
    * chained CTEs (fixed depth — the PageRank device), set-exact. */
  def oracleSql: String = {
    val base =
      "WITH e0 AS (SELECT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem), " +
        "e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0), " +
        "v0 AS (SELECT MIN(src) AS id, CAST(0 AS INTEGER) AS depth FROM e), " +
        "f0 AS (SELECT id FROM v0)"
    val rounds = (1 to maxDepth).map { k =>
      s"f$k AS (SELECT DISTINCT e.dst AS id FROM e JOIN f${k - 1} ON e.src = f${k - 1}.id WHERE e.dst NOT IN (SELECT id FROM v${k - 1})), " +
        s"v$k AS (SELECT id, depth FROM v${k - 1} UNION ALL SELECT id, CAST($k AS INTEGER) AS depth FROM f$k)"
    }.mkString(", ")
    s"$base, $rounds SELECT id AS node_id, " +
      "CASE WHEN id % 2 = 0 THEN 'order' ELSE 'part' END AS kind, depth " +
      s"FROM v$maxDepth ORDER BY node_id"
  }
}
