package graft.graph

import scala.annotation.tailrec
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.Checkpointer

/** Connected components over an undirected edge list — the
  * cluster-assignment step every near-dup pipeline needs: candidate
  * *pairs* (MinHash/SimHash/ngram/LSH output) → one `cluster_id` per
  * document, so a training run can keep exactly one survivor per
  * duplicate cluster. Every node is labeled with the min node id of its
  * component.
  *
  * One algorithm, one path:
  *  1. the edges are checkpointed once, one orientation each (src < dst),
  *     self-loops and null ends dropped — a row-local projection, no
  *     shuffle and no `distinct`;
  *  2. the driver-side finisher tries first: ONE bounded job collects
  *     fewer than B = 10⁴ edge rows and union-find labels them — the
  *     exact fixpoint whatever the diameter. A small graph pays only this
  *     collect; over B it reads 10⁴ rows and stops;
  *  3. otherwise alternating large-star/small-star rounds (Kiveris et
  *     al., "Connected Components in MapReduce and Beyond", SoCC'14)
  *     contract the graph in O(log n) rounds:
  *      - large-star: center u with neighbors N(u); every v ∈ N(u) with
  *        v > u re-attaches to m = min(N(u) ∪ {u});
  *      - small-star: orient edges toward the larger endpoint; center u
  *        attaches itself and all (smaller) neighbors to m = min(N(u)).
  *     Both steps preserve connectivity and keep every node that touches
  *     an edge. After each round one probe reads (edge count, Σ
  *     xxhash64(src, dst)): a count under B hands the contracted tail to
  *     the finisher (distributed rounds, then an in-memory finish — Łącki
  *     et al., "Connected Components at Scale via Local Contractions",
  *     2018); a probe equal to the previous round's is the fixpoint (an
  *     undetected hash-sum collision would need two distinct edge sets
  *     with equal count AND equal 64-bit hash sum in adjacent rounds);
  *  4. at the distributed fixpoint every component is a star centred at
  *     its min id, so the labels are read straight off the stars: every
  *     member is the `dst` of exactly one edge and its label is that
  *     edge's `src`; centres and edgeless nodes label themselves.
  *
  * Scale: each round is two groupBy+join pairs keyed on node ids — no
  * broadcast of anything unbounded, no driver-side data beyond the probe
  * row and the finisher's ≤ 10⁴ rows. Per-round state is lineage-truncated
  * through a [[Checkpointer]] so plans don't grow with rounds (GraphX/
  * GraphFrames do the same), reliable wherever the session has a
  * checkpoint directory set. B is a fixed row count, the bound
  * [[graft.CollectAudit]] holds every driver collect to, so the driver
  * holds at most ~1 MB of edges whatever the session's settings.
  */
object ConnectedComponents {

  /** @param edgesIn undirected edges as columns (src, dst), one row per
    *                edge in either orientation
    * @param nodes   node universe as column (id). It must hold every edge
    *                end: the star read labels a centre only through
    *                `nodes`. Isolated nodes become singleton clusters
    * @param maxIter bound on the distributed rounds; an edge set neither
    *                at its fixpoint nor under B after that many rounds
    *                fails with an IllegalStateException naming it
    * @return (id, lbl) where lbl = min node id of the component
    */
  def run(edgesIn: DataFrame, nodes: DataFrame, maxIter: Int = 30): DataFrame =
    runRounds(edgesIn, nodes, maxIter)._1

  /** [[run]] plus the number of distributed rounds executed (0 when the
    * finisher takes the input), so the O(log n) claim is testable. */
  private[graft] def runRounds(edgesIn: DataFrame, nodes: DataFrame,
                               maxIter: Int = 30): (DataFrame, Int) = {
    val initial = Checkpointer(oriented(edgesIn))

    @tailrec def rounds(edges: DataFrame, prev: Option[(Long, java.math.BigDecimal)],
                        done: Int): (DataFrame, Int) = {
      val next = Checkpointer(oriented(starRound(edges)).distinct())
      // superseded round state — free its blocks (they otherwise pile up
      // across rounds and bench reps until RDD GC)
      Checkpointer.release(edges)
      val cur = probe(next)
      val iter = done + 1
      // the finisher takes every edge set with fewer rows than its bound
      if (cur._1 < finisherRows(next)) (finishLocally(next, nodes).get, iter)
      else if (cur._1 == 0L || prev.contains(cur)) (starLabels(next, nodes), iter)
      else if (iter >= maxIter) throw new IllegalStateException(
        s"connected components did not converge within maxIter = $maxIter: " +
          s"$iter rounds ran and the last left ${cur._1} edges")
      else rounds(next, Some(cur), iter)
    }
    finishLocally(initial, nodes).map(_ -> 0).getOrElse(rounds(initial, None, 0))
  }

  /** One orientation per edge (src < dst): self-loops dropped, and since
    * `least`/`greatest` skip nulls, edges with a null end too. */
  private def oriented(df: DataFrame): DataFrame =
    df.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))

  /** One large-star step, then one small-star step, over `edges`. */
  private def starRound(edges: DataFrame): DataFrame = {
    // large-star over both orientations
    val both = edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
    val mins = both.groupBy(col("u")).agg(min(col("v")).as("mn"))
    // output is already oriented (src = min(u, mn) ≤ u < v = dst) and
    // small-star's min-aggregate tolerates duplicate edges, so no
    // distinct between the stars — the round's one distinct compresses
    // the multiset once
    val large = both.join(mins, Seq("u"))
      .filter(col("v") > col("u"))
      .select(least(col("u"), col("mn")).as("src"), col("v").as("dst"))
    // small-star: orient toward the larger endpoint (u > v)
    val toLarger = large.select(col("dst").as("u"), col("src").as("v"))
    val smins = toLarger.groupBy(col("u")).agg(min(col("v")).as("m"))
    toLarger.join(smins, Seq("u"))
      .filter(col("v") =!= col("m"))
      .select(col("m").as("src"), col("v").as("dst"))
      .union(smins.select(col("m").as("src"), col("u").as("dst")))
  }

  /** (edge count, Σ xxhash64(src, dst)) of a round's edges — the hash sum
    * in decimal: a long sum of 64-bit hashes overflows (ANSI). */
  private def probe(edges: DataFrame): (Long, java.math.BigDecimal) = {
    val r = edges.agg(count(lit(1)),
      coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** Labels read off the stars of the distributed fixpoint: each member
    * is the `dst` of exactly one edge, whose `src` is its centre. */
  private def starLabels(edges: DataFrame, nodes: DataFrame): DataFrame =
    withSingletons(edges.select(col("dst").as("id"), col("src").as("lbl")), nodes)

  /** `labels` ∪ every other node of `nodes` labeled with itself. */
  private def withSingletons(labels: DataFrame, nodes: DataFrame): DataFrame =
    labels.union(nodes
      .join(labels.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("lbl")))

  /** The most edge rows the driver-side finisher collects, B: it takes
    * an edge set of fewer rows, and a full collect tells it the edge set
    * is over. B = 10⁴ is the bound [[graft.CollectAudit]] holds every
    * driver collect to. Tests narrow it with `withValue` (0: always the
    * distributed rounds); no session setting reaches it. */
  private[graft] val collectRows = new DynamicVariable[Int](10000)

  /** [[collectRows]] for `edges`, 0 for ids the driver-side union-find
    * does not label (non-integral). */
  private def finisherRows(edges: DataFrame): Int = edges.schema("src").dataType match {
    case LongType | IntegerType | ShortType | ByteType => collectRows.value
    case _ => 0
  }

  /** The driver-side finisher: ONE bounded job collects at most
    * [[collectRows]] rows of the materialized, oriented `edges`
    * (coalesced to one partition, so the bounded take is a single task,
    * never the incremental multi-job scan), and union-find labels every
    * node with its component's min id — the exact fixpoint, whatever the
    * diameter. None when the edge set has [[collectRows]] rows or more.
    * On success `edges` is released: the returned local relation ∪
    * `nodes` singletons no longer reads it. */
  private def finishLocally(edges: DataFrame, nodes: DataFrame): Option[DataFrame] = {
    val limit = finisherRows(edges)
    lazy val rows = edges.select(col("src").cast(LongType), col("dst").cast(LongType))
      .coalesce(1).limit(limit).collect()
    if (limit <= 0 || rows.length >= limit) None
    else {
      val parent = mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var root = x
        while (parent(root) != root) root = parent(root)
        var y = x
        while (parent(y) != root) { val up = parent(y); parent(y) = root; y = up }
        root
      }
      rows.foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // the larger root goes under the smaller: roots stay component mins
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val idType = edges.schema("src").dataType
      val labels = edges.sparkSession.createDataFrame(
        parent.keys.toArray.map(id => Row(id, find(id))).toSeq.asJava,
        StructType(Seq(StructField("id", LongType, nullable = false),
          StructField("lbl", LongType, nullable = false))))
        .select(col("id").cast(idType), col("lbl").cast(idType))
      Checkpointer.release(edges)
      Some(withSingletons(labels, nodes))
    }
  }
}
