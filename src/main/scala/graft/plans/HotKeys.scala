package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._

/** Hot-key devices for the near-duplicate pair joins: every band or
  * bucket self-join (MinHash bands, SimHash bands, embedding LSH
  * buckets) owes |bucket|²/2 pairs, so a deep duplicate pile makes it
  * quadratic on one key. Two answers, each written once here:
  *
  *  - [[starPairs]], the capped join: buckets above `cap` pair only
  *    against their min-id representative, O(|bucket|) rows;
  *  - [[guard]], the fail-fast for the uncapped joins: one cheap
  *    aggregate aborts with the hot-key profile before any pair work.
  */
object HotKeys {

  /** Per-key representatives of the HOT keys only: (keys..., rep[,
    * <payload>_a]) for every key with more than `cap` rows, where rep =
    * min(id) and `<payload>_a` = min_by(payload, id), the rep's own
    * payload out of the same aggregate that counts the key
    * (deterministic when id is unique within a key). Every hot key owes
    * more than `cap` rows, so this frame is bounded by rows/cap at any
    * corpus size, unlike the full count frame; it is the frame the
    * capped joins broadcast. */
  def reps(keyed: DataFrame, keys: Seq[String], id: String, cap: Long,
           payload: Option[String] = None): DataFrame = {
    val picks = min(col(id)).as("rep") +:
      payload.toSeq.map(p => min_by(col(p), col(id)).as(s"${p}_a"))
    keyed.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), picks: _*)
      .filter(col("n") > cap)
      .drop("n")
  }

  /** Capped pair device: (id_a, id_b[, <payload>_a, <payload>_b]) with
    * id_a < id_b for every key of `keyed`. Keys with at most `cap` rows
    * (cold) pair all-vs-all by the key equi-join; keys above `cap` (hot)
    * star-expand as (rep, member) pairs against their min-id rep. Only
    * the hot [[reps]] frame is broadcast, and cold membership is the
    * left join's null side. Pairs found under several keys repeat: each
    * caller dedups and scores them its own way.
    *
    * A fixed-width payload (a fingerprint) rides the [[reps]] aggregate.
    * A variable-length one (an embedding) would make that aggregate
    * sort-based over the whole keyed frame, so its rep value is read off
    * the hot keys' rep rows instead: one row per hot key when id is
    * unique within a key, bounded like [[reps]] and broadcast too.
    *
    * Cold pairs are the bounded key equi-join; star pairs are
    * O(corpus). A hot pile of exact duplicates still collapses
    * downstream, because every member connects to the rep and the
    * cluster step closes the component through it; a hot key of merely
    * similar rows keeps only its rep edges, the recall the cap trades
    * for its output bound. */
  def starPairs(keyed: DataFrame, keys: Seq[String], id: String,
                payload: Option[String], cap: Long): DataFrame = {
    val fused = payload.filter(p => UnsafeRow.isMutable(keyed.schema(p).dataType))
    val tagged = keyed.join(broadcast(reps(keyed, keys, id, cap, fused)), keys, "left")
    val cold = tagged.filter(col("rep").isNull)
    def side(s: String): DataFrame = cold.select(keys.map(col) ++
      (col(id).as(s"id_$s") +: payload.toSeq.map(p => col(p).as(s"${p}_$s"))): _*)
    val out = Seq("id_a", "id_b") ++ payload.toSeq.flatMap(p => Seq(s"${p}_a", s"${p}_b"))
    val coldPairs = side("a").join(side("b"), keys)
      .filter(col("id_a") < col("id_b"))
      .select(out.map(col): _*)
    // min-id rep < every other member: (rep, member) already canonical
    val members = tagged.filter(col("rep").isNotNull && col(id) =!= col("rep"))
      .select(keys.map(col) ++ (col("rep").as("id_a") +: col(id).as("id_b") +:
        (payload.toSeq.map(p => col(p).as(s"${p}_b")) ++
          fused.toSeq.map(p => col(s"${p}_a")))): _*)
    val stars = payload.filterNot(fused.contains).fold(members) { p =>
      val repRows = tagged.filter(col(id) === col("rep"))
        .select(keys.map(col) :+ col(p).as(s"${p}_a"): _*)
      members.join(broadcast(repRows), keys)
    }
    coldPairs.unionAll(stars.select(out.map(col): _*))
  }

  /** Fail-fast before an uncapped self-join: one map-side-combined
    * aggregate of `frame` by `key`; any key with more than `maxRows`
    * rows aborts, and `message` receives the five deepest as
    * "<show(key)>=<rows>", BEFORE any quadratic pair work runs. */
  def guard(frame: DataFrame, key: Column, maxRows: Long,
            show: Any => String)(message: String => String): Unit = {
    val hot = frame.groupBy(key).agg(count(lit(1)).as("n"))
      .filter(col("n") > maxRows).orderBy(col("n").desc).limit(5)
      .collect().map(r => s"${show(r.get(0))}=${r.getLong(1)}")
    require(hot.isEmpty, message(hot.mkString(", ")))
  }
}
