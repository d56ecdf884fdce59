package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Whole-operator extension demo (SURVEY.md §4.2 tier (c)): top-k rows
  * per group as a first-class operator — logical node + planner
  * strategy + physical exec.
  *
  * Spark's idiomatic form (`row_number().over(partitionBy(g).orderBy(o))
  * .filter(rn <= k)`, used by RelQueries.topkPerGroup) fully sorts every
  * group before discarding all but k rows. This operator keeps a bounded
  * heap of k rows per group instead: O(n log k) time and O(groups × k)
  * memory per partition, no sort buffer, no rank column materialized.
  * At 100 TB with small k this is the difference between spilling a full
  * sort and never spilling at all.
  *
  * The O(groups × k) term is itself bounded: past `maxGroups` resident
  * groups the partition SPILLS — the current heaps are drained, sorted
  * by group-key bytes, and written to a local temp segment; at the end
  * the sorted segments stream back through a k-way merge grouped by
  * key, re-heaping each group's ≤ k-per-segment candidates. Peak memory
  * is O(maxGroups × k + segments × k) regardless of how many groups a
  * pathological partition holds (the hazard the window form avoids by
  * externally sorting everything). Spill count is a SQL metric.
  *
  * The physical exec declares ClusteredDistribution on the group keys,
  * so Catalyst inserts exactly one hash shuffle — the same exchange the
  * window form needs — and AQE still coalesces/splits it.
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan,
    maxGroups: Int = TopK.defaultMaxGroups) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan,
    maxGroups: Int) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numSpills" -> SQLMetrics.createMetric(sparkContext, "number of spilled segments"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(groupExprs) :: Nil

  // Row-set is filtered, never re-keyed: the child's hash partitioning on
  // the group keys still holds, so declare it and let a downstream
  // window/agg over the same keys reuse the exchange instead of adding a
  // second one (the default is UnknownPartitioning). No outputOrdering:
  // the heap drain orders rows within a group, not across groups.
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val gExprs = groupExprs
    val sOrder = order
    val kk = k
    val mg = maxGroups
    val spillMetric = longMetric("numSpills")
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(gExprs, schema)
      val rowProj = UnsafeProjection.create(schema, schema)
      val ordering = RowOrdering.create(sOrder, schema)
      val nFields = schema.length
      // heap head = worst kept row (reverse ordering), evicted past k
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
      val segments = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
      // register cleanup BEFORE consuming input: a task that fails (or is
      // killed) mid-foreach must not leak already-written segments until
      // JVM exit. The listener closes over the buffer, so it deletes
      // whatever exists at task end — success or failure.
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null) tc.addTaskCompletionListener[Unit](_ => segments.foreach(_.delete()))

      // drain one heap into rank order (heap pops worst-first)
      def drained(h: java.util.PriorityQueue[UnsafeRow]): Array[UnsafeRow] = {
        val rows = new Array[UnsafeRow](h.size)
        var i = rows.length - 1
        while (i >= 0) { rows(i) = h.poll(); i -= 1 }
        rows
      }

      // spill: all resident groups, sorted by key bytes, rows in rank
      // order — (keyLen, keyBytes, rowLen, rowBytes) records
      def spill(): Unit = {
        // managed executor-local dir (spark.local.dir), not java.io.tmpdir
        val f = ColumnBridge.managedSpillFile("graft_topk_spill")
        val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(f), 1 << 16))
        val keys = new java.util.ArrayList(heaps.keySet())
        keys.sort((a: UnsafeRow, b: UnsafeRow) =>
          java.util.Arrays.compareUnsigned(a.getBytes, b.getBytes))
        keys.forEach { key =>
          val kb = key.getBytes
          drained(heaps.get(key)).foreach { r =>
            val rb = r.getBytes
            out.writeInt(kb.length); out.write(kb)
            out.writeInt(rb.length); out.write(rb)
          }
        }
        out.close()
        heaps.clear()
        segments += f
        spillMetric += 1
      }

      it.foreach { row =>
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          if (heaps.size() >= mg) spill()
          heap = new java.util.PriorityQueue[UnsafeRow](kk + 1, ordering.reverse)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kk) heap.add(rowProj(row).copy())
        else if (ordering.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(rowProj(row).copy())
        }
      }

      if (segments.isEmpty) {
        // in-memory path: unchanged bounded-heap drain
        val out = scala.collection.mutable.ArrayBuffer.empty[UnsafeRow]
        heaps.values.forEach(h => out ++= drained(h))
        out.iterator
      } else {
        spill() // final resident groups join the merge as one more segment

        // streaming k-way merge: segments are key-sorted, so each group's
        // candidates (≤ k per segment) arrive together; re-heap them and
        // emit. Peak memory O(segments × k) — the enforced bound.
        final class SegIter(f: java.io.File) {
          private val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
            new java.io.FileInputStream(f), 1 << 16))
          var key: Array[Byte] = _
          var row: UnsafeRow = _
          // read one record eagerly, EOF ends the segment (key = null)
          def next(): Unit = {
            try {
              val kl = in.readInt()
              val kb = new Array[Byte](kl); in.readFully(kb)
              val rl = in.readInt()
              val rb = new Array[Byte](rl); in.readFully(rb)
              val r = new UnsafeRow(nFields)
              r.pointTo(rb, rb.length)
              key = kb; row = r
            } catch {
              case _: java.io.EOFException => key = null; row = null; in.close()
            }
          }
        }
        val iters = segments.map { f => val s = new SegIter(f); s.next(); s }
          .filter(_.key != null)
        val headOrder = new java.util.Comparator[SegIter] {
          def compare(a: SegIter, b: SegIter): Int =
            java.util.Arrays.compareUnsigned(a.key, b.key)
        }
        val pq = new java.util.PriorityQueue[SegIter](math.max(iters.size, 1), headOrder)
        iters.foreach(pq.add)

        new Iterator[InternalRow] {
          private var pending: Iterator[UnsafeRow] = Iterator.empty
          private def refill(): Unit = {
            if (pq.isEmpty) return
            val groupKey = pq.peek().key
            val heap = new java.util.PriorityQueue[UnsafeRow](kk + 1, ordering.reverse)
            while (!pq.isEmpty &&
              java.util.Arrays.compareUnsigned(pq.peek().key, groupKey) == 0) {
              val seg = pq.poll()
              while (seg.key != null &&
                java.util.Arrays.compareUnsigned(seg.key, groupKey) == 0) {
                if (heap.size < kk) heap.add(seg.row)
                else if (ordering.compare(seg.row, heap.peek()) < 0) {
                  heap.poll(); heap.add(seg.row)
                }
                seg.next()
              }
              if (seg.key != null) pq.add(seg)
            }
            pending = drained(heap).iterator
          }
          def hasNext: Boolean = {
            if (!pending.hasNext) refill()
            pending.hasNext
          }
          def next(): InternalRow = pending.next()
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

object TopKStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child, mg) =>
      TopKPerGroupExec(g, o, k, planLater(child), mg) :: Nil
    case _ => Nil
  }
}

object TopK {
  /** Default resident-group cap per partition: 1M groups × k rows before
    * a segment spills. At k=5 and ~100-byte rows that is ~500 MB worst
    * case — inside a sane executor; lower it for wide rows or large k. */
  val defaultMaxGroups: Int = 1 << 20

  /** Installed lazily on the session the query runs in, not through
    * [[GraftExtensions]]: a session built without those extensions (by
    * an embedding application, or by the benchmark harness) would
    * otherwise fail to plan a [[TopKPerGroup]] node. The install is
    * idempotent per session. */
  private def ensureStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ TopKStrategy

  /** Top-k rows per group; `orderSpec` is (column, ascending) pairs and
    * should form a total order for deterministic output (same contract
    * as the window form). Expressions are built directly against the
    * analyzed child's attributes, so the custom node enters the planner
    * fully resolved. */
  def perGroup(df: DataFrame, groupCols: Seq[String],
               orderSpec: Seq[(String, Boolean)], k: Int,
               maxGroups: Int = defaultMaxGroups): DataFrame = {
    val spark = df.sparkSession
    ensureStrategy(spark)
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Attribute = analyzed.output
      .find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${analyzed.output.map(_.name).mkString(", ")}"))
    val plan = TopKPerGroup(
      groupCols.map(attr),
      orderSpec.map { case (n, asc) =>
        SortOrder(attr(n), if (asc) Ascending else Descending) },
      k,
      analyzed,
      maxGroups)
    ColumnBridge.ofRows(spark, plan)
  }
}
