package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.Checkpointer

/** Connected components over an undirected edge list by iterative
  * min-label propagation — the cluster-assignment step every near-dup
  * pipeline needs: candidate *pairs* (MinHash/SimHash/ngram output) →
  * one `cluster_id` per document, so a training run can keep exactly one
  * survivor per duplicate cluster.
  *
  * Algorithm: every node starts labeled with its own id; each round a
  * node takes the min of its label and its neighbors' labels; fixpoint
  * after `diameter` rounds. Near-dup clusters are tiny (pairs/triangles,
  * diameter ≤ a few), so rounds stay in single digits.
  *
  * Scale: each round is one hash-shuffle join (edges ⋈ labels on src) +
  * one aggregate + one left join — all keyed on node ids, no broadcast
  * of anything unbounded, no driver-side data beyond the one-row
  * convergence probe. Per-round state is lineage-truncated through a
  * [[Checkpointer]] so plans don't grow with iterations (the standard
  * Spark iterative-algorithm shape; GraphX/GraphFrames do the same),
  * reliable wherever the session has a checkpoint directory set. For
  * adversarial graphs with large diameters, use [[runStar]]
  * (large-star/small-star, O(log n) rounds); for dedup graphs
  * min-propagation converges faster in practice.
  */
object ConnectedComponents {

  /** @param edgesIn undirected edges as columns (src, dst), one row per
    *                edge in either orientation
    * @param nodes   node universe as column (id); isolated nodes become
    *                singleton clusters
    * @return (id, lbl) where lbl = min node id of the component
    *
    * Measured dead end (round 5, sf0.1, do not redo): chaining TWO
    * propagation hops lazily between materializations — to halve the
    * checkpoint+probe jobs — is ~20% SLOWER (5.0→6.2 s on
    * q_dedup_cluster): the un-materialized second hop re-joins the edge
    * table inside one deeper 4-shuffle plan, and AQE stages serialize
    * worse than two short materialized rounds. One hop per
    * materialization wins.
    */
  def run(edgesIn: DataFrame, nodes: DataFrame, maxIter: Int = 30): DataFrame = {
    val edges = Checkpointer(edgesIn.select(col("src"), col("dst"))
      .union(edgesIn.select(col("dst").as("src"), col("src").as("dst"))))
    // Only nodes that touch an edge need propagation; everything else is
    // a singleton cluster and bypasses the loop entirely. In a dedup
    // graph duplicates are a small fraction of the corpus, so the
    // iterated set is orders of magnitude smaller than `nodes`.
    val active = Checkpointer(edges.select(col("src").as("id")).distinct())
    // round-0 labels are the IDENTITY projection of the checkpointed
    // active set — materializing them again (r16 shape: Checkpointer(labels))
    // was a redundant job; every consumer of labels₀ reads active's
    // blocks through a zero-cost projection (r17, guide §2.4)
    var labels = active.select(col("id"), col("id").as("lbl"))

    // Labels only ever decrease, so Σlbl strictly decreases until the
    // fixpoint: a one-row aggregate probe per round (decimal — an id sum
    // over billions of 64-bit ids overflows a long), no diff join.
    def lblSum(df: DataFrame): java.math.BigDecimal = df
      .agg(coalesce(sum(col("lbl").cast("decimal(38,0)")), lit(java.math.BigDecimal.ZERO)))
      .head().getDecimal(0)

    // ONE setup probe job instead of two (r17): Σid over active doubles
    // as round 0's Σlbl (labels₀ ≡ identity), and the same aggregate's
    // count answers the edgeless-graph bypass the old active.isEmpty
    // job asked. A Σ=0 test alone would be wrong for signed ids (labels
    // like {-5, 5} also sum to zero), so the bypass keys on COUNT — as
    // before — and Σ stays the per-round convergence probe (labels only
    // ever decrease, so Σ strictly decreases until the fixpoint
    // regardless of sign).
    val setup = active.agg(
      count(lit(1)),
      coalesce(sum(col("id").cast("decimal(38,0)")), lit(java.math.BigDecimal.ZERO)))
      .head()
    var prevSum = setup.getDecimal(1)
    var iter = 0
    var done = setup.getLong(0) == 0L
    while (!done && iter < maxIter) {
      // r16: round 1 runs over IDENTITY labels (lbl(src) = src), so the
      // edges ⋈ labels propagation join reduces algebraically to a
      // plain aggregate over the edge list — one edge-sized shuffle
      // join removed from every CC run's first (largest) round
      // (guide §2.4); later rounds join shrunken label frames as before
      val nbrMin = (if (iter == 0)
        edges.groupBy(col("dst")).agg(min(col("src")).as("nbr_lbl"))
      else edges
        .join(labels.select(col("id").as("src"), col("lbl")), Seq("src"))
        .groupBy(col("dst"))
        .agg(min(col("lbl")).as("nbr_lbl")))
        .withColumnRenamed("dst", "id")
      val next = Checkpointer(labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl")))
      val newSum = lblSum(next)
      // round N is materialized (the checkpoint is eager) — round N−1's
      // blocks are now unreachable from any plan; free them instead of
      // waiting for RDD GC (they otherwise pile up across rounds and
      // bench reps)
      Checkpointer.release(labels)
      labels = next
      done = newSum.compareTo(prevSum) == 0
      prevSum = newSum
      iter += 1
    }
    val singletons = nodes
      .join(active, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("lbl"))
    // the returned plan references only `labels` (a materialized
    // checkpoint root) and `active` — the doubled edge set is done
    Checkpointer.release(edges)
    labels.union(singletons)
  }

  /** Canonical undirected edge set: (src < dst), self-loops dropped,
    * duplicates collapsed. */
  private def canon(df: DataFrame): DataFrame =
    df.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** Connected components by alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the O(log n)-round alternative to [[run]]'s min-label
    * propagation, whose round count is the graph DIAMETER (the scaladoc
    * hazard above: an adversarial chain blows past maxIter).
    *
    *  - large-star: center u with neighbors N(u); every v ∈ N(u) with
    *    v > u re-attaches to m = min(N(u) ∪ {u}).
    *  - small-star: orient edges toward the larger endpoint; center u
    *    attaches itself and all (smaller) neighbors to m = min(N(u)).
    *
    * Both steps preserve connectivity and strictly shrink long chains;
    * at the fixpoint every component is a star centered at its min id.
    * Each round is two groupBy+join pairs keyed on node ids — same
    * shuffle shape as [[run]], just O(log n) rounds instead of
    * O(diameter). Fixpoint detection: (edge count, Σ xxhash64(src,dst))
    * probe — two one-row aggregates; an undetected hash-sum collision
    * would need two distinct edge sets with equal count AND equal 64-bit
    * hash sum in adjacent rounds.
    *
    * Same signature and output contract as [[run]]: (id, lbl) with
    * lbl = min node id of the component, singletons included. */
  def runStar(edgesIn: DataFrame, nodes: DataFrame, maxIter: Int = 30): DataFrame =
    runStarRounds(edgesIn, nodes, maxIter)._1

  /** [[runStar]] plus the number of rounds executed (exposed so the
    * O(log n) convergence claim is testable, not asserted). */
  def runStarRounds(edgesIn: DataFrame, nodes: DataFrame,
                    maxIter: Int = 30): (DataFrame, Int) = {
    val initial = Checkpointer(canon(edgesIn))
    // active = nodes touching an edge (for singleton bypass, as in run())
    val active = Checkpointer(initial.select(col("src").as("id"))
      .union(initial.select(col("dst").as("id"))).distinct())

    def probe(df: DataFrame): (Long, java.math.BigDecimal) = {
      // hash sum in decimal: a long sum of 64-bit hashes overflows (ANSI)
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), r.getDecimal(1))
    }

    var edges = initial
    var iter = 0
    // one setup job, not two (r17): the probe's count answers isEmpty
    val prev0 = probe(initial)
    var done = prev0._1 == 0L
    var prev: Option[(Long, java.math.BigDecimal)] = Some(prev0)
    while (!done && iter < maxIter) {
      // large-star over both orientations
      val both = edges.select(col("src").as("u"), col("dst").as("v"))
        .union(edges.select(col("dst").as("u"), col("src").as("v")))
      val mins = both.groupBy(col("u")).agg(min(col("v")).as("mn"))
      // output is already canonically ordered (src = min(u, mn) ≤ u < v
      // = dst) and small-star's min-aggregate tolerates duplicate edges,
      // so no distinct between the stars — one less shuffle per round;
      // the end-of-round canon() compresses the multiset once
      val large = both.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(least(col("u"), col("mn")).as("src"), col("v").as("dst"))
      // small-star: orient toward the larger endpoint (u > v)
      val oriented = large.select(col("dst").as("u"), col("src").as("v"))
      val smins = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = oriented.join(smins, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("m").as("src"), col("v").as("dst"))
        .union(smins.select(col("m").as("src"), col("u").as("dst")))
      val nextEdges = Checkpointer(canon(small))
      val cur = probe(nextEdges)
      // superseded round state — free its blocks (see run())
      Checkpointer.release(edges)
      edges = nextEdges
      done = prev.exists(p => p._1 == cur._1 && p._2.compareTo(cur._2) == 0)
      prev = Some(cur)
      iter += 1
    }
    // fixpoint is a star per component: every node's label is its min
    // neighbor (or itself, for the center)
    val labels = edges.select(col("src").as("id"), col("dst").as("lbl"))
      .union(edges.select(col("dst").as("id"), col("src").as("lbl")))
      .groupBy(col("id")).agg(min(col("lbl")).as("nbr"))
      .select(col("id"), least(col("id"), col("nbr")).as("lbl"))
    val singletons = nodes
      .join(active, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("lbl"))
    (labels.union(singletons), iter)
  }
}
