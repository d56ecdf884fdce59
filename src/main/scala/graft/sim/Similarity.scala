package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.{Checkpointer, HotKeys}
import graft.vec.VectorOps

/** Similarity search over embedding columns (SURVEY.md §2.C).
  *
  * Embeddings in the testdata are L2-normalized (‖v‖²=1, verified in
  * FIXTURES.md), so cosine similarity ≡ dot product — every scorer here
  * uses [[VectorOps.dot]], the native [[graft.plans.DotProduct]]
  * expression: a sequential fold in array order, bit-identical to
  * DuckDB's list_aggregate fold.
  *
  * Scale story: brute-force top-k broadcasts the (small) query side and
  * scans candidates once — linear, shuffle-free, the right baseline up to
  * ~10⁶ candidates per query batch. Beyond that, [[lshBuckets]] gives the
  * sub-linear path: random-hyperplane signatures bucket candidates so
  * each query probes only its own bucket (equi-join on the signature
  * instead of a cross join).
  *
  * Every ANN rung is candidate pruning followed by one ranking step, and
  * the devices they share exist once: [[topN]] ranks, [[rankedTopK]]
  * shapes the top-k output, [[probeCentroids]] probes a broadcast
  * centroid frame, [[fixedSeedIvf]] builds the fixed-seed quantizer,
  * [[probedOnly]] prunes a persisted index, and [[centroidMean]] is the
  * decimal centroid mean.
  */
object Similarity {

  private val d9 = org.apache.spark.sql.types.DecimalType(18, 9)

  /** The one ranking device: the first `n` rows per `keys` under
    * `order`, numbered from 1 in column `rn`. row_number, so tied rows
    * never share a rank; callers end `order` on a unique id. */
  private def topN(df: DataFrame, keys: Seq[String], order: Seq[Column], n: Int): DataFrame =
    df.withColumn("rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
      .filter(col("rn") <= n)

  /** The top-k keys' ranking and output: the `k` best-scoring `cid` per
    * `qid` (score desc, then cid asc), scores rounded to 6 dp, ordered
    * by (qid, rn). */
  private def rankedTopK(scored: DataFrame, k: Int): DataFrame =
    topN(scored, Seq("qid"), Seq(col("score").desc, col("cid")), k)
      .select(col("qid"), col("cid"), round(col("score"), 6).as("score"), col("rn"))
      .orderBy("qid", "rn")

  /** The serving keys' split of the embeddings table: vec_id < 8 are the
    * queries (qid, qe), the rest are the candidates (cid, ce). */
  private[graft] def querySplit(emb: DataFrame): (DataFrame, DataFrame) = (
    emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe")),
    emb.filter(col("vec_id") >= 8)
      .select(col("vec_id").as("cid"), col("embedding").as("ce")))

  /** Brute-force cosine top-k: queries × candidates via broadcast
    * cross-join, per-query window rank. Tie-break on candidate id. */
  def cosineTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame =
    rankedTopK(candidates.crossJoin(broadcast(queries))
      .select(col("qid"), col("cid"),
        VectorOps.dot(col("qe"), col("ce")).as("score")), k)

  def qCosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val (queries, cands) = querySplit(Tables.embeddings(spark, dir))
    cosineTopK(queries, cands, 3)
  }

  /** kNN label-noise audit (confident-learning-lite) — the label-quality
    * pass a labeled-embedding corpus gets before training: each probe's
    * label is compared against the majority label of its k nearest
    * neighbors; disagreement flags a likely mislabel. Output keeps the
    * agreement count so reviewers can rank by confidence.
    *
    * Scale shape: the bounded probe batch broadcasts over one candidate
    * scan (the q_cosine_topk serving shape); every aggregate after the
    * top-k window runs on ≤ probes·k rows. A FULL-corpus audit swaps the
    * probe broadcast for the IVF/LSH bucket join (q_ivf_topk's shape) —
    * the voting tail is identical. */
  def knnLabelNoise(emb: DataFrame, probeBound: Long = 64, k: Int = 5): DataFrame = {
    val probes = emb.filter(col("vec_id") < probeBound)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"))
    val cands = emb.filter(col("vec_id") >= probeBound)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("label").as("clabel"))
    val nn = topN(cands.crossJoin(broadcast(probes))
      .select(col("qid"), col("qlabel"), col("cid"), col("clabel"),
        VectorOps.dot(col("qe"), col("ce")).as("score")),
      Seq("qid"), Seq(col("score").desc, col("cid")), k)
    val agree = nn.groupBy(col("qid"), col("qlabel"))
      .agg(sum(when(col("clabel") === col("qlabel"), 1).otherwise(0))
        .cast("int").as("n_agree"))
    val maj = topN(nn.groupBy(col("qid"), col("clabel")).agg(count(lit(1)).as("votes")),
        Seq("qid"), Seq(col("votes").desc, col("clabel")), 1)
      .select(col("qid"), col("clabel").as("majority_label"))
    agree.join(maj, Seq("qid"))
      .select(col("qid"), col("qlabel").as("label"), col("majority_label"),
        col("n_agree"),
        (col("majority_label") =!= col("qlabel")).cast("int").as("flagged"))
  }

  def qKnnLabelNoise(spark: SparkSession, dir: String): DataFrame =
    knnLabelNoise(Tables.embeddings(spark, dir)).orderBy("qid")

  /** Embedding-cosine near-duplicate pairs: probe block (vec_id < 100)
    * against all candidates, keep pairs above threshold. The probe bound
    * keeps the demo linear; the production path for all-pairs near-dup is
    * LSH bucketing (see lshBuckets) + within-bucket scoring. */
  def qDedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val a = emb.filter(col("vec_id") < 100)
      .select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    b.crossJoin(broadcast(a))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorOps.dot(col("ea"), col("eb")).as("score"))
      .filter(col("score") > 0.25)
      .select(col("id_a"), col("id_b"), round(col("score"), 6).as("score"))
      .orderBy("id_a", "id_b")
  }

  // ----------------------------------------------------------- LSH / ANN

  /** Deterministic pseudo-random hyperplanes (no RNG at plan time so the
    * operator is reproducible across sessions): plane p component i is a
    * fixed hash-derived value in [-1, 1]. `offset` selects a disjoint
    * plane family — used for independent hash tables and for the
    * refinement blocks of [[cappedLshBuckets]]. */
  def hyperplanes(nPlanes: Int, dim: Int, offset: Int = 0): Seq[Seq[Double]] =
    (0 until nPlanes).map { p =>
      (0 until dim).map { i =>
        val h = ((p + offset) * 1327L + i * 7919L + 104729L) % 1999L
        (h.toDouble / 999.5) - 1.0
      }
    }

  /** Size the plane count from the corpus size: 2^nPlanes buckets ≈
    * n / targetBucketSize, i.e. nPlanes ≈ log₂(n / target) — expected
    * per-bucket work (|b|²/2) then stays ≈ target²/2 regardless of
    * corpus scale. Clamped: below 2 planes bucketing is pointless,
    * above 24 the signature no longer fits useful bucket-id space and
    * per-bucket population is sub-1 anyway. */
  def autoPlanes(n: Long, targetBucketSize: Long = 64L,
                 minPlanes: Int = 2, maxPlanes: Int = 24): Int = {
    // integer form of ceil(log₂(n/target)): smallest k with 2^k·target ≥ n.
    // Pure BIGINT arithmetic (r15) so the DuckDB oracle mirror of the
    // adaptive capped-LSH key computes the identical plane count from
    // the identical corpus count — a float log₂ can land ±1 ulp around
    // integers at exact powers of two, where ceil then differs by one
    // between engines. Values are unchanged for every non-edge n.
    var k = minPlanes
    while (k < maxPlanes && (1L << k) * math.max(targetBucketSize, 1L) < n) k += 1
    k
  }

  /** Random-hyperplane signature: bit p = sign(v · plane_p). Returns an
    * int bucket id in [0, 2^nPlanes). */
  def lshBuckets(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex
      .map { case (plane, p) =>
        when(VectorOps.dotLit(v, plane) >= 0, lit(1 << p)).otherwise(lit(0))
      }
      .reduce(_ + _)

  /** DuckDB mirror of the sequential [[VectorOps.dot]] fold (identical
    * to SparkEntry's dotSql shape: element-cast to DOUBLE, summed in
    * array order — bit-identical to [[graft.plans.DotProduct]]). */
  def dotSqlExpr(a: String, b: String, dim: Int): String =
    s"list_aggregate(list_transform(range(1, ${dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), 'sum')"

  /** Generated-SQL mirror of [[lshBuckets]] — the ZOrder.zvalueSql
    * pattern: the deterministic [[hyperplanes]] are interpolated as
    * literal lists from the SAME Scala source the Spark plan uses, so
    * the oracle cannot drift from the operator. Scala's shortest-
    * round-trip Double.toString guarantees DuckDB parses back the
    * identical double (the wLit/mlpW1 parity fact), and the sign test
    * folds the identical sequential dot product, so bucket ids agree
    * bit-for-bit across engines. */
  def lshBucketSql(vecExpr: String, nPlanes: Int, dim: Int, offset: Int = 0): String =
    hyperplanes(nPlanes, dim, offset).zipWithIndex.map { case (plane, p) =>
      val planeLit = plane.mkString("([", ", ", "])")
      s"(CASE WHEN ${dotSqlExpr(vecExpr, planeLit, dim)} >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")

  /** Formula-computed variant of [[lshBucketSql]] where the plane count
    * and family offset are SQL EXPRESSIONS instead of Scala constants —
    * the device that puts the ADAPTIVE capped-LSH key under the oracle
    * (r15): [[hyperplanes]] is a pure integer formula, so DuckDB can
    * compute plane p of family `off` inline, and a data-driven plane
    * count (np = [[autoPlanes]] of the corpus count, itself integer
    * arithmetic since r15) becomes a lambda range bound. Verified
    * bucket-identical to the literal-interpolating [[lshBucketSql]] for
    * np ∈ {3,5,24} × offsets {0,7,101,106} on the real corpus, and the
    * literal form is the long-proven Spark parity path. `npExpr` /
    * `offExpr` must be COLUMN references or constants — DuckDB rejects
    * subqueries inside lambda bodies, so thread np in via CROSS JOIN. */
  def lshBucketFormulaSql(vecExpr: String, npExpr: String, offExpr: String,
                          dim: Int = 64): String =
    s"list_aggregate(list_transform(range(0, $npExpr), p -> CASE WHEN " +
      s"list_aggregate(list_transform(range(0, $dim), i -> CAST($vecExpr[i+1] AS DOUBLE) * " +
      s"(CAST(((p + ($offExpr))*1327 + i*7919 + 104729) % 1999 AS DOUBLE)/999.5 - 1.0)), 'sum') >= 0 " +
      s"THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END), 'sum')"

  /** Static DuckDB mirror of the ADAPTIVE [[embeddingNearDupPairsCapped]]
    * (r15, verdict ask #2 — `no_oracle` extinction): the data-driven
    * plane count is the integer [[autoPlanes]] formula over
    * `COUNT(*)`, and the refinement LOOP is unrolled to its `maxDepth`
    * bound — round d's hot set, settled cold rows, and sub-signature
    * re-bucketing (`bucket·2^subPlanes + sig(off+np+(d−1)·subPlanes)`)
    * are each one CTE, and early loop exit is just empty CTEs
    * propagating. Everything downstream (post-loop hot flag, cold
    * pairs, star expansion, cross-table pair dedup, the sequential dot
    * fold, threshold + ROUND) mirrors the fixed-core key's proven SQL.
    * Verified row-identical to the Spark operator at sf0.01 (1072
    * pairs) and sf0.1 (11011 pairs, np=5). */
  def cappedLshMirrorSql(threshold: Double, target: Long, cap: Long,
                         subPlanes: Int = 3, maxDepth: Int = 3,
                         nTables: Int = 2): String = {
    def tableCtes(t: Int): Seq[String] = {
      val off = t * 101
      val l0 = s"l0_$t AS (SELECT vec_id, embedding, 0 AS lvl, " +
        s"${lshBucketFormulaSql("embedding", "np", off.toString)} AS bucket " +
        "FROM embeddings CROSS JOIN npv)"
      var cur = s"l0_$t"
      val ctes = scala.collection.mutable.ArrayBuffer(l0)
      val settled = scala.collection.mutable.ArrayBuffer[String]()
      for (d <- 1 to maxDepth) {
        ctes += s"h$t$d AS (SELECT lvl, bucket FROM $cur GROUP BY lvl, bucket HAVING COUNT(*) > $cap)"
        ctes += s"s$t$d AS (SELECT c.vec_id, c.embedding, c.lvl, c.bucket FROM $cur c " +
          s"LEFT JOIN h$t$d h ON c.lvl = h.lvl AND c.bucket = h.bucket WHERE h.lvl IS NULL)"
        ctes += s"c$t$d AS (SELECT c.vec_id, c.embedding, $d AS lvl, " +
          s"c.bucket * ${1 << subPlanes} + ${lshBucketFormulaSql("c.embedding", subPlanes.toString, s"$off + np + ${(d - 1) * subPlanes}")} AS bucket " +
          s"FROM $cur c JOIN h$t$d h ON c.lvl = h.lvl AND c.bucket = h.bucket CROSS JOIN npv)"
        settled += s"s$t$d"
        cur = s"c$t$d"
      }
      ctes += s"f$t AS (SELECT lvl, bucket FROM $cur GROUP BY lvl, bucket HAVING COUNT(*) > $cap)"
      val settledUnion = settled
        .map(s => s"SELECT vec_id, embedding, lvl, bucket, FALSE AS hot FROM $s")
        .mkString(" UNION ALL ")
      ctes += s"bk$t AS ($settledUnion UNION ALL SELECT c.vec_id, c.embedding, c.lvl, c.bucket, " +
        s"(h.lvl IS NOT NULL) AS hot FROM $cur c LEFT JOIN f$t h ON c.lvl = h.lvl AND c.bucket = h.bucket)"
      ctes += s"cp$t AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM bk$t a JOIN bk$t b " +
        s"ON a.lvl = b.lvl AND a.bucket = b.bucket AND a.vec_id < b.vec_id WHERE NOT a.hot AND NOT b.hot)"
      ctes += s"rp$t AS (SELECT lvl, bucket, MIN(vec_id) AS id_a FROM bk$t WHERE hot GROUP BY lvl, bucket)"
      ctes += s"sp$t AS (SELECT r.id_a, h.vec_id AS id_b FROM bk$t h JOIN rp$t r " +
        s"ON h.lvl = r.lvl AND h.bucket = r.bucket AND h.vec_id <> r.id_a WHERE h.hot)"
      ctes.toSeq
    }
    val head = Seq(
      "nn AS (SELECT COUNT(*) AS n FROM embeddings)",
      s"npv AS (SELECT COALESCE((SELECT MIN(p) FROM range(2,25) t(p) WHERE (CAST(1 AS BIGINT) << p) * $target >= (SELECT n FROM nn)), 24) AS np)")
    val pairUnion = (0 until nTables)
      .flatMap(t => Seq(s"SELECT id_a, id_b FROM cp$t", s"SELECT id_a, id_b FROM sp$t"))
      .mkString(" UNION ALL ")
    val tail = Seq(
      s"pairs AS (SELECT DISTINCT id_a, id_b FROM ($pairUnion))",
      s"sc AS (SELECT id_a, id_b, ${dotSqlExpr("ea.embedding", "eb.embedding", 64)} AS score " +
        "FROM pairs JOIN embeddings ea ON ea.vec_id = id_a JOIN embeddings eb ON eb.vec_id = id_b)")
    ((head ++ (0 until nTables).flatMap(tableCtes)) ++ tail)
      .mkString("WITH ", ", ", "") +
      s" SELECT id_a, id_b, ROUND(score, 6) AS score FROM sc WHERE score > $threshold ORDER BY id_a, id_b"
  }

  /** One-bit-flip multi-probe: bucket `b` and its `nPlanes` one-bit-flip
    * neighbours, exploded to one row each. [[annTopK]] and
    * [[embeddingNearDupPairs]] probe with it; [[multiProbeSql]] is its
    * DuckDB mirror. */
  private def multiProbe(b: Column, nPlanes: Int): Column =
    explode(array(b +: (0 until nPlanes).map(p => b.bitwiseXOR(lit(1 << p))): _*))

  /** One-bit-flip multi-probe bucket list as a DuckDB UNNEST literal,
    * mirroring [[multiProbe]]. */
  def multiProbeSql(b0: String, nPlanes: Int): String =
    (Seq(b0) ++ (0 until nPlanes).map(p => s"xor($b0, ${1 << p})"))
      .mkString("UNNEST([", ", ", "])")

  /** ANN top-k via LSH bucketing: candidates and queries hash to buckets;
    * each query scores only its own bucket — the scan becomes an
    * equi-join keyed on bucket id (shuffle-partitionable, sub-linear per
    * query). Approximate: recall measured against brute force in
    * SimilaritySpec. Multi-probe (flip one bit) widens recall. */
  def annTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              nPlanes: Int = 4, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val cands = candidates.withColumn("bucket", lshBuckets(col("ce"), planes))
    val probes = queries.withColumn("bucket", lshBuckets(col("qe"), planes))
      .select(col("qid"), col("qe"), multiProbe(col("bucket"), nPlanes).as("bucket"))
    rankedTopK(cands.join(probes, Seq("bucket"))
      .select(col("qid"), col("cid"), VectorOps.dot(col("qe"), col("ce")).as("score"))
      .dropDuplicates("qid", "cid"), k)
  }

  // ------------------------------------------------------------- IVF

  /** Score every row of `df` against the broadcast centroid frame
    * (centroid_id, centroid) and keep, per `key`, its `n` nearest
    * centroids: highest dot product first, ties to the lower
    * centroid_id. The window is keyed on the row's unique id, so the
    * pick is deterministic under task retries (unlike
    * monotonically_increasing_id). Output: `df`'s columns plus
    * centroid_id. */
  private def probeCentroids(df: DataFrame, cents: DataFrame, key: String,
                             vecCol: String, n: Int): DataFrame =
    topN(df.crossJoin(broadcast(cents))
        .withColumn("__s", VectorOps.dot(col(vecCol), col("centroid"))),
      Seq(key), Seq(col("__s").desc, col("centroid_id")), n)
      .drop("__s", "rn", "centroid")

  /** The inverted lists (centroid_id, cid, ce): every candidate assigned
    * to its nearest centroid. */
  private def nearestCentroid(cents: DataFrame, candidates: DataFrame): DataFrame =
    probeCentroids(candidates, cents, "cid", "ce", 1)
      .select(col("centroid_id"), col("cid"), col("ce"))

  /** The decimal centroid mean, per (keys, dim): each component of the
    * array column `vec` is ROUND(x,9) → DECIMAL(18,9) and summed
    * EXACTLY (order-independent — a float sum in partition order is not
    * reproducible across runs or engines), mean = ROUND(CAST(sum AS
    * DOUBLE)/n, 6). Output (keys..., dim, n_points, coord). The
    * aggregate is map-side combined: the shuffle carries one narrow row
    * per (keys, dim) per partition. */
  private def centroidMean(rows: DataFrame, keys: Seq[String], vec: String): DataFrame = {
    val keyCols = keys.map(col)
    rows.select(keyCols :+ posexplode(col(vec)).as(Seq("dim", "x")): _*)
      .groupBy(keyCols :+ col("dim"): _*)
      .agg(count(lit(1)).as("n_points"),
        sum(round(col("x").cast("double"), 9).cast(d9)).as("s"))
      .select(keyCols ++ Seq(col("dim"), col("n_points"),
        round(col("s").cast("double") / col("n_points"), 6).as("coord")): _*)
  }

  /** [[centroidMean]] gathered back into one vector per key, in dim
    * order, as column `out`. */
  private def centroidVectors(rows: DataFrame, keys: Seq[String], vec: String,
                              out: String): DataFrame = {
    val keyCols = keys.map(col)
    centroidMean(rows, keys, vec).groupBy(keyCols: _*)
      .agg(array_sort(collect_list(struct(col("dim"), col("coord")))).as("a"))
      .select(keyCols :+ transform(col("a"), _.getField("coord")).as(out): _*)
  }

  /** Knuth-style multiplicative hash over candidate ids — the seed
    * sampling order for [[buildIvfIndex]]. Pure BIGINT arithmetic
    * (multiply, mod a prime) so the oracle computes the identical
    * permutation: xxhash64 (the pre-r15 choice) is opaque to DuckDB,
    * which is the whole reason q_ivf_topk sat rows-only for 14 rounds.
    * Quasi-random over the id space; collisions are broken by the id. */
  val seedHashMul = 2654435761L
  val seedHashMod = 999999937L

  /** Build the IVF index: (centroids, inverted lists).
    *
    * Deterministic hash-sampled seed centroids: ORDER BY the
    * multiplicative hash LIMIT K compiles to TakeOrderedAndProject —
    * per-partition bounded top-K merged on the driver, no global-window
    * exchange and no driver-side count() (round-1 verdict scale-killer).
    * The seed row's own cid IS the centroid id — unique and
    * deterministic — so seeding needs no window at all; the whole plan
    * is free of empty-partition windows (asserted in SimilaritySpec).
    *
    * One Lloyd refinement then re-centers cells with [[centroidMean]]
    * (r15, the [[qLloydRound]] oracle pattern promoted into the
    * production build). The 1e-9/1e-6 quantization is noise for a
    * coarse quantizer, and in exchange the whole build→assign→probe
    * pipeline is bit-reproducible on ANY cluster layout and mirrors in
    * SQL — deterministic distributed training as a feature, not just an
    * oracle device. K·dim rows shuffle. */
  def buildIvfIndex(candidates: DataFrame, nCentroids: Int = 16): (DataFrame, DataFrame) = {
    // reduce BEFORE multiplying (r15 advice): (mod−1)·mul ≈ 2.65e18
    // fits BIGINT, but a raw cid·mul wraps silently in Spark Long
    // arithmetic past cid ≈ 3.4e9 while DuckDB's BIGINT multiply RAISES
    // on overflow — the oracle would error (or the permutation diverge)
    // exactly where ids get large; identical values for cid < mod
    val seeds = candidates
      .orderBy(((col("cid") % seedHashMod) * seedHashMul) % seedHashMod, col("cid"))
      .limit(nCentroids)
      .select(col("cid").as("centroid_id"), col("ce").as("centroid"))
    val refined = centroidVectors(nearestCentroid(seeds, candidates),
      Seq("centroid_id"), "ce", "centroid")
    (refined, nearestCentroid(refined, candidates))
  }

  /** The fixed-seed coarse quantizer: the first `nCentroids` candidate
    * ids seed it directly — no hash-ordered sample, no Lloyd
    * re-centering — so assignment is a dot-product fold over stored
    * vectors, bit-reproducible in SQL. (seeds, lists) in the
    * [[buildIvfIndex]] shapes. */
  private def fixedSeedIvf(candidates: DataFrame, nCentroids: Int): (DataFrame, DataFrame) = {
    val seeds = candidates.orderBy(col("cid")).limit(nCentroids)
      .select(col("cid").as("centroid_id"), col("ce").as("centroid"))
    (seeds, nearestCentroid(seeds, candidates))
  }

  /** Static pruning for a persisted index, whose lists (or codes) are
    * PARTITIONED BY centroid_id on disk: collect the probed centroid ids
    * (bounded by |Q|·nProbe ≤ K — the hot-bucket-ids device, a driver
    * collect of ids only, never data) and push them as an `isin` filter,
    * which becomes a partition filter — the probe job lists and reads
    * only the probed `centroid_id=` directories and the rest of the
    * on-disk corpus is never opened (join-side pruning alone would need
    * DPP to fire). It costs one driver action, so only the loaded-index
    * entries [[ivfProbe]] and [[ivfPqProbe]] pay it. */
  private def probedOnly(lists: DataFrame, probes: DataFrame): DataFrame = {
    val ids = probes.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    lists.filter(col("centroid_id").isin(ids: _*))
  }

  /** IVF serving: each query scores only its `nProbe` nearest
    * centroids' lists — an equi-join on centroid_id, never a corpus scan
    * per query. `prune` adds [[probedOnly]] for a persisted index. */
  private def ivfServe(queries: DataFrame, centroids: DataFrame, lists: DataFrame,
                       k: Int, nProbe: Int, prune: Boolean): DataFrame = {
    val probes = probeCentroids(queries, centroids, "qid", "qe", nProbe)
    val probed = if (prune) probedOnly(lists, probes) else lists
    rankedTopK(probed.join(probes, Seq("centroid_id"))
      .select(col("qid"), col("cid"), VectorOps.dot(col("qe"), col("ce")).as("score")), k)
  }

  /** Probe a persisted IVF index ([[loadIvfIndex]]): [[ivfServe]] with
    * the probed ids pushed into the lists scan ([[probedOnly]]). */
  def ivfProbe(queries: DataFrame, centroids: DataFrame, lists: DataFrame,
               k: Int, nProbe: Int = 4): DataFrame =
    ivfServe(queries, centroids, lists, k, nProbe, prune = true)

  /** IVF (inverted-file) ANN: a coarse quantizer assigns every candidate
    * to its nearest centroid once; queries score only the `nProbe`
    * nearest centroid lists. Centroids are the [[buildIvfIndex]]
    * hash-sampled seeds refined by one Lloyd iteration (the decimal
    * [[centroidMean]] — distributed, no collect of vectors beyond the K
    * centroids themselves, which is the IVF contract). The inline build
    * is not partitioned, so it skips [[ivfProbe]]'s prune collect.
    *
    * Scale: candidate assignment is a broadcast of K centroids + one
    * scan; the probe join is an equi-join on centroid id. K ~ sqrt(N)
    * keeps lists balanced; skewed lists would AQE-split. */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val (centroids, lists) = buildIvfIndex(candidates, nCentroids)
    ivfServe(queries, centroids, lists, k, nProbe, prune = false)
  }

  /** Persist the IVF index: build once, probe many — at 100 TB the
    * build (full-corpus assignment) amortizes over every query batch
    * that follows. Lists are PARTITIONED BY centroid_id on disk, the
    * literal inverted-file layout: a probe of nProbe centroids reads
    * nProbe directories (partition pruning / DPP through the equi-join)
    * and leaves the rest of the corpus untouched. */
  def saveIvfIndex(candidates: DataFrame, dir: String, nCentroids: Int = 16): Unit = {
    val (centroids, lists) = buildIvfIndex(candidates, nCentroids)
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    lists.write.mode("overwrite").partitionBy("centroid_id").parquet(s"$dir/lists")
  }

  /** Load a persisted IVF index as (centroids, lists) for [[ivfProbe]]. */
  def loadIvfIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val centroids = spark.read.parquet(s"$dir/centroids")
    val lists = spark.read.parquet(s"$dir/lists")
      .select(col("centroid_id").cast("long"), col("cid"), col("ce"))
    (centroids, lists)
  }

  /** ANN path on testdata — oracled via [[lshBucketSql]]'s generated
    * SQL mirror (bucket assignment + probe join reproduced literally in
    * DuckDB); recall-vs-brute-force properties in SimilaritySpec. */
  def qAnnTopK(spark: SparkSession, dir: String): DataFrame = {
    val (queries, cands) = querySplit(Tables.embeddings(spark, dir))
    annTopK(queries, cands, 3)
  }

  /** IVF ANN on the driver gate — oracled since r15: the multiplicative-
    * hash seed sample and the decimal-device Lloyd refinement are both
    * engine-reproducible, so the FULL production build→probe pipeline
    * (not just the fixed-seed core) hash-matches DuckDB. Same
    * query/candidate split as q_cosine_topk; recall + no-global-window
    * plan assertion in SimilaritySpec. */
  def qIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val (queries, cands) = querySplit(Tables.embeddings(spark, dir))
    ivfTopK(queries, cands, 3)
  }

  // -------------------------------------------- all-pairs near-dup (LSH)

  /** Hot-bucket density budget for the UNCAPPED LSH pair join: the pair
    * work per bucket is ~(probes+1)·c² in the bucket population c, so a
    * guarded run does at most ~(nPlanes+1)·2^nPlanes·guard² candidate
    * dot products — bounded minutes at guard 8192, and the ×100
    * rehearsal's planted 100-deep duplicate piles (c ≈ 10⁴–10⁵ per
    * bucket) trip it immediately instead of silently burning a 25-min+
    * run (r13 verdict item 4: the demonstrated failure mode). Passes
    * untouched at every test SF and the ×10 corpus (max bucket ≈ 3 k). */
  val uncappedBucketGuard = 8192L

  /** All-pairs embedding near-duplicate pairs via LSH bucketing — the
    * scale path that [[qDedupEmbedding]]'s broadcast probe block stands
    * in for: every vector hashes to a random-hyperplane bucket, pairs
    * form by equi-join WITHIN a bucket, and the exact dot product
    * verifies. The probe side multi-probes its one-bit-flip neighbor
    * buckets, so any pair whose signatures differ in at most one plane
    * is co-bucketed at least once (each match is unique — no dedup
    * shuffle needed).
    *
    * Scale: the join is keyed on bucket id — shuffle-partitionable,
    * never all-pairs; per-bucket work is |bucket|²/2, so size nPlanes ≈
    * log₂(N / targetBucketSize). Approximate: pairs split by two or more
    * hyperplanes (each cuts a pair at angle θ with prob θ/π) can be
    * missed — recall is measured vs bounded brute force in
    * SimilaritySpec, not assumed. */
  def embeddingNearDupPairs(emb: DataFrame, threshold: Double,
                            nPlanes: Int = 4, dim: Int = 64,
                            maxBucket: Long = uncappedBucketGuard): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val withBucket = emb.select(col("vec_id"), col("embedding"),
      lshBuckets(col("embedding"), planes).as("b0"))
    // fail fast before the pair join: one map-side-combined aggregate
    // into the ≤2^nPlanes-row bucket-count frame
    HotKeys.guard(withBucket, col("b0"), maxBucket, b => s"bucket $b") { hot =>
      s"uncapped LSH bucket density exceeds guard $maxBucket (hot: " +
        s"$hot); the pair join would be ~quadratic in " +
        "the hot-bucket population — use embeddingNearDupPairsCapped " +
        "(q_dedup_embedding_lsh_capped) at this duplicate density"
    }
    val a = withBucket.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
      multiProbe(col("b0"), nPlanes).as("bucket"))
    val b = withBucket.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
      col("b0").as("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorOps.dot(col("ea"), col("eb")).as("score"))
      .filter(col("score") > threshold)
      .select(col("id_a"), col("id_b"), round(col("score"), 6).as("score"))
  }

  /** LSH-bucketed embedding near-dup on the driver gate — oracled via
    * [[lshBucketSql]]'s generated SQL mirror. Same threshold as the
    * oracled q_dedup_embedding, minus its probe bound. Density-guarded
    * (r14): a corpus whose duplicate piles exceed
    * [[uncappedBucketGuard]] per bucket fails fast with the capped
    * operator's name instead of running a quadratic pair join. */
  def qDedupEmbeddingLsh(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupPairs(Tables.embeddings(spark, dir), 0.25)
      .orderBy("id_a", "id_b")

  /** SemDeDup-style embedding-cluster dedup — the semantic analogue of
    * the MinHash cluster keys: LSH pair edges ([[embeddingNearDupPairs]])
    * feed [[graft.graph.ConnectedComponents.run]], one row per vector
    * with its cluster's min id and a keep flag (keep exactly the min-id
    * survivor per semantic cluster). This is the decision step a
    * SemDeDup pass actually ships — pairs alone don't dedup anything.
    *
    * Scale: edge generation is the bucket equi-join (document-linear,
    * never all-pairs) and CC is the checkpointed iterative core both
    * already proven at the banded-MinHash key — composition adds no new
    * shape; the edge pass carries the [[uncappedBucketGuard]] fail-fast
    * (r14), so a dup density the uncapped join cannot survive aborts in
    * one cheap aggregate (use the capped variants there). Oracled: the
    * LSH bucket mirror is SQL-generated, so the pair set AND the
    * recursive-CTE fixpoint reproduce in DuckDB. */
  def qDedupEmbeddingCluster(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val edges = embeddingNearDupPairs(emb, 0.25)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val nodes = emb.select(col("vec_id").as("id"))
    graft.graph.ConnectedComponents.run(edges, nodes)
      .select(col("id").as("vec_id"), col("lbl").as("cluster_id"),
        (col("id") === col("lbl")).as("keep"))
      .orderBy("vec_id")
  }

  /** Auto-sized + skew-guarded LSH near-dup on the driver gate
    * (rows-only, like [[qDedupEmbeddingLsh]]): plane count derived from
    * the corpus count, hot buckets refined or star-expanded — the
    * parameter-free form a 100 TB caller would invoke. */
  def qDedupEmbeddingLshCapped(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupPairsCapped(Tables.embeddings(spark, dir), 0.25,
      targetBucketSize = 64L, cap = 256L)

  /** The NON-ADAPTIVE core of [[embeddingNearDupPairsCapped]], with the
    * plane count fixed instead of derived from a corpus count: one
    * bucketing level per table, hot = population > cap, cold buckets
    * pair within-bucket, hot buckets star-expand against their min-id
    * representative, tables union + pair-dedup before scoring. This is
    * exactly one refinement round of the capped operator (maxDepth = 0
    * semantics), so it is fully SQL-expressible and oracled via the
    * [[lshBucketSql]] generated mirror — the adaptive wrapper
    * ([[qDedupEmbeddingLshCapped]]) stays rows-only because its plane
    * count and refinement depth are data-driven at runtime.
    *
    * Scale: identical shapes to the adaptive form — the
    * [[graft.plans.HotKeys.starPairs]] device per table: bucket
    * equi-joins (never all-pairs), O(|b|) star expansion for skew piles,
    * a broadcast of the hot buckets' reps with their embeddings. */
  def embeddingNearDupPairsCappedFixed(emb: DataFrame, threshold: Double,
                                       nPlanes: Int, dim: Int = 64,
                                       cap: Long = 64L, nTables: Int = 2): DataFrame = {
    val tables = (0 until nTables).map { t =>
      val bk = emb.select(col("vec_id"), col("embedding"),
        lshBuckets(col("embedding"), hyperplanes(nPlanes, dim, t * 101)).as("bucket"))
      HotKeys.starPairs(bk, Seq("bucket"), "vec_id", Some("embedding"), cap)
    }
    scorePairs(tables.reduce(_ unionAll _), threshold)
  }

  /** The capped operators' shared tail: dedup the pairs found in several
    * tables or levels, then the exact dot-product verify and the
    * canonical output order. */
  private def scorePairs(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        VectorOps.dot(col("embedding_a"), col("embedding_b")).as("score"))
      .filter(col("score") > threshold)
      .select(col("id_a"), col("id_b"), round(col("score"), 6).as("score"))
      .orderBy("id_a", "id_b")

  /** Oracled driver-gate form of the capped operator's non-adaptive core
    * (round-9 verdict ask #6): nPlanes fixed at 4 (profiled so both the
    * cold-pair and star-expansion paths carry rows at every test SF),
    * same threshold/cap/table layout as the adaptive key. */
  def qDedupEmbeddingLshCappedFixed(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupPairsCappedFixed(Tables.embeddings(spark, dir), 0.25,
      nPlanes = 4, cap = 64L)

  /** ONE hot-bucket refinement round of [[cappedLshBuckets]] under the
    * oracle (r13 verdict ask #6 — the q_lloyd_round pattern applied to
    * the capped-LSH training loop): level-0 bucketing, the hot test
    * (population > cap), the sub-plane re-bucketing composition
    * (`bucket·2^subPlanes + sub-signature`, plane offset = nPlanes — the
    * exact arithmetic the adaptive loop iterates), and the POST-round
    * population + residual-hot flag (the loop's next decision). The
    * rows-only adaptive key (`q_dedup_embedding_lsh_capped`) is THIS
    * plan iterated with a data-driven plane count and depth.
    *
    * Scale shape: two map-side-combined bucket-count aggregates, each
    * broadcast back over the corpus (≤2^nPlanes / ≤2^(nPlanes+subPlanes)
    * rows); the signature folds are per-row codegen. Nothing quadratic —
    * this key is the refinement machinery WITHOUT the pair join. */
  def lshRefineRound(emb: DataFrame, nPlanes: Int, subPlanes: Int,
                     cap: Long, dim: Int = 64): DataFrame = {
    val b0 = emb.select(col("vec_id"), col("embedding"),
      lshBuckets(col("embedding"), hyperplanes(nPlanes, dim))
        .cast("long").as("bucket"))
    val counts = b0.groupBy(col("bucket"))
      .agg((count(lit(1)) > cap).as("hot0"))
    val refined = b0.join(broadcast(counts), Seq("bucket"))
      .select(col("vec_id"),
        when(col("hot0"), lit(1)).otherwise(lit(0)).as("lvl"),
        when(col("hot0"), col("bucket") * (1 << subPlanes) +
            lshBuckets(col("embedding"), hyperplanes(subPlanes, dim, nPlanes)))
          .otherwise(col("bucket")).as("bucket"))
    val after = refined.groupBy(col("lvl"), col("bucket"))
      .agg(count(lit(1)).as("n_bucket"))
    refined.join(broadcast(after), Seq("lvl", "bucket"))
      .select(col("vec_id"), col("lvl"), col("bucket"), col("n_bucket"),
        (col("n_bucket") > cap).cast("int").as("still_hot"))
      .orderBy("vec_id")
  }

  /** Driver gate for [[lshRefineRound]]: same plane/cap geometry as the
    * oracled fixed-core key (nPlanes 4, cap 64; subPlanes 3 = the
    * adaptive loop's default), profiled so the hot path fires at every
    * test SF. */
  def qLshRefineRound(spark: SparkSession, dir: String): DataFrame =
    lshRefineRound(Tables.embeddings(spark, dir),
      nPlanes = 4, subPlanes = 3, cap = 64L)

  /** IVF probe with SQL-expressible seeding (round-9 verdict ask #7):
    * the [[fixedSeedIvf]] quantizer, so assignment, probe selection and
    * final ranking are all dot-product folds over stored vectors,
    * bit-reproducible in DuckDB via [[dotSqlExpr]]. The production path
    * ([[qIvfTopK]]) keeps the hash-seeded + Lloyd-refined build; this
    * fixed-seed form pins the probe/assignment machinery under the
    * oracle. */
  def ivfTopKFixedSeeds(queries: DataFrame, candidates: DataFrame, k: Int,
                        nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val (seeds, lists) = fixedSeedIvf(candidates, nCentroids)
    ivfServe(queries, seeds, lists, k, nProbe, prune = false)
  }

  def qIvfTopKFixed(spark: SparkSession, dir: String): DataFrame = {
    val (queries, cands) = querySplit(Tables.embeddings(spark, dir))
    ivfTopKFixedSeeds(queries, cands, 3)
  }

  // ------------------------------- capped LSH (auto-sized + skew-guarded)

  /** LSH bucketing with a hard per-bucket population cap — the df-cap
    * analogue for the embedding side. Two distinct skew sources need two
    * distinct guards:
    *
    *  1. DIVERSE hot buckets (random collisions because nPlanes was too
    *     small for the corpus): REFINE — rows in any bucket above `cap`
    *     get `subPlanes` extra hyperplanes appended to their signature,
    *     splitting the bucket ~2^subPlanes ways; repeat to `maxDepth`.
    *  2. DEGENERATE hot buckets (piles of near-identical vectors): no
    *     amount of extra planes splits them — every hyperplane puts
    *     near-identical vectors on the same side (the same failure mode
    *     as salting identical rows, SkewJoin.salt). These stay above
    *     `cap` after maxDepth, and pair generation handles them by
    *     star-expansion instead (see [[embeddingNearDupPairsCapped]]).
    *
    * Output: (idCol, vecCol, lvl, bucket) — bucket ids are only
    * comparable WITHIN a level (the join key downstream is (lvl,
    * bucket)); a bucket still holding more than `cap` rows after
    * maxDepth is degenerate, and only a level-`maxDepth` bucket can be.
    *
    * Scale: each round's hot-bucket id list is broadcast — bounded by
    * #buckets-above-cap ≤ N/cap, and in practice tiny because
    * [[autoPlanes]] sizes the primary signature so only genuine skew
    * survives. The loop is `maxDepth` (≤ 3) rounds of lazy plan
    * composition, not actions. */
  def cappedLshBuckets(df: DataFrame, idCol: String, vecCol: String,
                       nPlanes: Int, dim: Int, cap: Long,
                       subPlanes: Int = 3, maxDepth: Int = 3,
                       planeOffset: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // materialize the signature scan ONCE: every probe below and every
    // downstream consumer then reads these blocks instead of recomputing
    // the nPlanes×dim hyperplane fold over the corpus (the probe loop
    // used to recompute it per round — half this operator's runtime)
    val base = Checkpointer(df.select(col(idCol), col(vecCol), lit(0).as("lvl"),
      lshBuckets(col(vecCol), hyperplanes(nPlanes, dim, planeOffset))
        .cast("long").as("bucket")))
    var cur = base
    var settled: Option[DataFrame] = scala.None
    var d = 1
    var exhausted = false
    var refined = false
    while (d <= maxDepth && !exhausted) {
      // hot ids are bounded by N/cap and headed for a broadcast anyway:
      // COLLECT them once — one small aggregate job — instead of an
      // isEmpty probe plus a lazy re-aggregation inside the final plan.
      // With an auto-sized signature the common case is zero hot buckets
      // and the loop exits after this one job.
      val hot = cur.groupBy(col("lvl"), col("bucket")).count()
        .filter(col("count") > cap)
        .select(col("lvl"), col("bucket"))
        .as[(Int, Long)].collect()
      if (hot.isEmpty) {
        settled = Some(settled.map(_.unionAll(cur)).getOrElse(cur))
        cur = cur.limit(0)
        exhausted = true
      } else {
        refined = true
        val hotIds = broadcast(hot.toSeq.toDF("h_lvl", "h_bucket"))
        val joined = cur.join(hotIds,
          col("lvl") === col("h_lvl") && col("bucket") === col("h_bucket"), "left")
        val cold = joined.filter(col("h_lvl").isNull)
          .select(col(idCol), col(vecCol), col("lvl"), col("bucket"))
        settled = Some(settled.map(_.unionAll(cold)).getOrElse(cold))
        val sub = hyperplanes(subPlanes, dim,
          planeOffset + nPlanes + (d - 1) * subPlanes)
        cur = joined.filter(col("h_lvl").isNotNull)
          .select(col(idCol), col(vecCol), lit(d).as("lvl"),
            (col("bucket") * (1 << subPlanes) +
              lshBuckets(col(vecCol), sub)).as("bucket"))
      }
      d += 1
    }
    // no bucket was ever hot: the checkpointed base IS the answer;
    // otherwise the refined composition is multiply-consumed downstream
    // (~6 ways) — one materialization
    if (!refined) base
    else Checkpointer(settled.map(_.unionAll(cur)).getOrElse(cur))
  }

  /** All-pairs embedding near-dup with auto-sized planes and the skew
    * guard — the form you'd actually run at 100 TB, where neither the
    * plane count nor the skew profile is known in advance:
    *
    *  - nPlanes = [[autoPlanes]](corpus count / targetBucketSize): per-
    *    bucket work stays ≈ target²/2 at ANY corpus size.
    *  - `nTables` independent plane families (classic multi-table LSH)
    *    recover the recall that a single auto-sized table loses — a pair
    *    is found if it co-buckets in ANY table; dedup before scoring.
    *  - hot buckets surviving refinement (near-identical piles) emit
    *    pairs against the bucket's min-id REPRESENTATIVE only (the
    *    [[graft.plans.HotKeys.starPairs]] device, keyed on (lvl,
    *    bucket)): O(|b|) rows instead of |b|²/2. Component-lossless for
    *    downstream clustering: every member connects to the
    *    representative, so the pile still collapses into one duplicate
    *    cluster — exactly the role the pairs play in qDedupCluster.
    *
    * The corpus count is one metadata-cheap aggregate action at plan
    * time (the one driver round-trip; it sizes the signature). Pair
    * dedup carries the two vectors through the shuffle for simplicity —
    * at extreme dim, re-join the vectors after dedup instead. */
  def embeddingNearDupPairsCapped(emb: DataFrame, threshold: Double,
                                  dim: Int = 64, targetBucketSize: Long = 64L,
                                  cap: Long = 256L, nTables: Int = 2): DataFrame = {
    val n = emb.count()
    val nPlanes = autoPlanes(n, targetBucketSize)
    val tables = (0 until nTables).map { t =>
      // cappedLshBuckets checkpoints internally (the signature scan once,
      // plus the refined composition only when refinement fired) — its
      // output reads materialized blocks for every consumer below
      val bk = cappedLshBuckets(emb, "vec_id", "embedding", nPlanes, dim, cap,
        planeOffset = t * 101)
      // the star device finds the degenerate buckets (count > cap per
      // (lvl, bucket)) with its own hot-rep aggregate
      HotKeys.starPairs(bk, Seq("lvl", "bucket"), "vec_id",
        Some("embedding"), cap)
    }
    scorePairs(tables.reduce(_ unionAll _), threshold)
  }

  // ------------------------------------------------- int8 quantization

  /** Per-vector symmetric int8 quantization (r11): scale = 127/max|x|,
    * q_i = ⌊x_i·scale + 0.5⌋ ∈ [−127, 127]. At 100 TB this is a 4×
    * storage/scan-IO cut on the embedding column (float32 → int8 + one
    * double per vector) — the standard first step before ANN serving.
    * `floor(x·s + 0.5)` instead of `round()`: both engines define floor
    * identically on doubles, while round-half ties differ by engine.
    * All arithmetic in double (exact float widening both engines), so
    * the oracle reproduces q bit-for-bit. Zero vectors quantize to a
    * zero scale and all-zero codes rather than killing the job. */
  private[graft] def quantized(emb: DataFrame): DataFrame = {
    val mx = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    emb.select(col("vec_id"), col("embedding"), mx.as("mx"))
      .withColumn("scale",
        when(col("mx") > 0, lit(127.0) / col("mx")).otherwise(lit(0.0)))
      .select(col("vec_id"), col("scale"),
        transform(col("embedding"),
          x => floor(x.cast("double") * col("scale") + lit(0.5)).cast("int")).as("q"))
  }

  def qEmbeddingQuantize(spark: SparkSession, dir: String): DataFrame =
    quantized(Tables.embeddings(spark, dir))
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        // serialized codes, not a raw array column: the driver's hash
        // compare sorts rows with pandas over all columns, which crashes
        // on ndarray cells — a round-1 lesson baked into preflight
        concat_ws(",", transform(col("q"), _.cast("string"))).as("q_codes"))
      .orderBy("vec_id")

  // ---------------------------------------------- product quantization

  private val pqM = 8  // subspaces (64-dim embedding → 8 × 8-dim)
  private val pqD = 8  // dims per subspace
  private val pqK = 16 // centroids per subspace

  /** m-th subvector (0-based) of a 64-dim embedding, widened to double. */
  private def pqSubvec(e: Column, m: Int): Column =
    transform(slice(e, m * pqD + 1, pqD), _.cast("double"))

  /** Deterministic PQ codebook: the subvectors of the first [[pqK]]
    * candidates (cid 8 .. 8+pqK-1) of a (cid, ce) table (relational
    * rather than k-means-trained — SQL-reproducible; the Lloyd-trained
    * variant [[pqCodebookTrained]] joins the same plans). Schema
    * (m, k, cv: array<double>). */
  private def pqCodebook(cands: DataFrame): DataFrame =
    cands.filter(col("cid") >= 8 && col("cid") < 8 + pqK)
      .select(explode(array((0 until pqM).map(m =>
        struct(lit(m).as("m"), (col("cid") - 8).cast("int").as("k"),
          pqSubvec(col("ce"), m).as("cv"))): _*)).as("e"))
      .select(col("e.m").as("m"), col("e.k").as("k"), col("e.cv").as("cv"))

  /** Squared L2 distance of two vector columns: the sequential (x−y)²
    * fold in array order, elements widened to double — the PQ encode and
    * silhouette device, mirrored by the oracle's list fold. */
  private def sqL2(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  /** (carry..., cid, m, sv): the per-subspace exploded form of a
    * candidate table — the one corpus-linear explode every PQ pass
    * shares. Callers that encode repeatedly (Lloyd training) checkpoint
    * this once instead of re-exploding per round. */
  private def pqSubvecs(cands: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val carryCols = carry.map(col)
    cands
      .select(carryCols :+ col("cid") :+ explode(array((0 until pqM).map(m =>
        struct(lit(m).as("m"), pqSubvec(col("ce"), m).as("sv"))): _*)).as("e"): _*)
      .select(carryCols :+ col("cid") :+ col("e.m").as("m") :+ col("e.sv").as("sv"): _*)
  }

  /** Encode pre-exploded subvectors ([[pqSubvecs]] shape) against a
    * codebook: broadcast join + squared-L2 + (cid, m)-keyed argmin. */
  private def pqEncodeSub(sub: DataFrame, codebook: DataFrame,
                          carry: Seq[String] = Nil): DataFrame = {
    val carryCols = carry.map(col)
    sub.join(broadcast(codebook), Seq("m"))
      .select(carryCols :+ col("cid") :+ col("m") :+ col("k") :+
        sqL2(col("sv"), col("cv")).as("dist"): _*)
      .groupBy(carryCols :+ col("cid") :+ col("m"): _*)
      .agg(min(struct(col("dist"), col("k"))).as("best"))
      .select(carryCols :+ col("cid") :+ col("m") :+ col("best.k").as("k"): _*)
  }

  /** PQ-encode candidates against a codebook: each (cid, subspace m) maps
    * to its nearest codeword k (squared-L2 argmin, ties to min k via a
    * struct-min agg — no corpus window). `carry` columns (e.g. the IVF
    * centroid_id) ride along through the explode and the keyed agg.
    * Corpus-linear: one explode (×[[pqM]]) + a broadcast-codebook join +
    * a (cid, m)-keyed aggregate. */
  private def pqEncode(cands: DataFrame, codebook: DataFrame,
                       carry: Seq[String] = Nil): DataFrame =
    pqEncodeSub(pqSubvecs(cands, carry), codebook, carry)

  /** Per-query ADC lookup table: pdot(q, m, k) = ⟨q_m, codeword(m,k)⟩,
    * rounded to 6 dp and carried as DECIMAL so the final per-candidate
    * sum never depends on float addition order (the BM25 device).
    * [[pqM]]·[[pqK]] rows per query — broadcast at the scoring join. */
  private def pqLut(queries: DataFrame, codebook: DataFrame): DataFrame =
    queries
      .select(col("qid"), explode(array((0 until pqM).map(m =>
        struct(lit(m).as("m"), pqSubvec(col("qe"), m).as("qv"))): _*)).as("e"))
      .select(col("qid"), col("e.m").as("m"), col("e.qv").as("qv"))
      .join(broadcast(codebook), Seq("m"))
      .select(col("qid"), col("m"), col("k"),
        round(VectorOps.dot(col("qv"), col("cv")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("pdot"))

  /** ADC-score encoded candidates against per-query LUT rows and rank:
    * score(q, c) = Σ_m pdot(q, m, code_m(c)), summed as DECIMAL then cast
    * back. `codes` must carry (cid, m, k) and — when pre-pruned — a qid
    * column restricting which queries score which candidates. */
  private def pqScoreTopK(codes: DataFrame, lut: DataFrame, k: Int,
                          joinKeys: Seq[String]): DataFrame =
    rankedTopK(codes.join(broadcast(lut), joinKeys)
      .groupBy(col("qid"), col("cid"))
      .agg(sum(col("pdot")).cast("double").as("score")), k)

  /** PQ-compressed ANN with asymmetric-distance scoring (r11) — the
    * third rung of the compression ladder after float
    * ([[qCosineTopK]]) and int8 ([[qAnnTopKInt8]]): each candidate is
    * stored as 8 four-bit codes (64 floats → 8 codebook ids, a 64×
    * compression), and queries score candidates WITHOUT decompressing:
    * score = Σ_m ⟨q_m, centroid(m, code_m)⟩ via a per-query lookup
    * table. Codebooks are the first [[pqK]] candidates' subvectors —
    * deterministic/relational rather than k-means-trained, which is
    * what keeps the whole key DuckDB-oracle-able (the Lloyd-trained
    * variant would join this plan unchanged; only the codebook rows
    * differ — the IVF key already demonstrates that trade).
    *
    * Determinism devices: sub-distances and partial dots are the
    * sequential fold (engine-identical); code assignment breaks dist
    * ties by min k via a struct-min aggregate (no window over the
    * corpus); ADC partials are rounded to 6 dp and summed as DECIMAL so
    * the score never depends on float addition order (the BM25 device).
    *
    * Scale shape: the codebook (M·K = 128 rows) and per-query LUT
    * (8·128 rows) are broadcasts; encoding is one corpus-linear
    * explode + broadcast join + keyed argmin agg; scoring is a
    * broadcast join + (qid,cid)-keyed sum. No corpus-sized window, no
    * cross join. */
  def qPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val (queries, cands) = querySplit(Tables.embeddings(spark, dir))
    val codebook = pqCodebook(cands)
    val codes = pqEncode(cands, codebook)
    val lut = pqLut(queries, codebook)
    // un-pruned: every candidate scores against every query's LUT rows
    pqScoreTopK(codes, lut, 3, Seq("m", "k"))
  }

  /** The IVF side of the composed key, exposed for the spec's pruning
    * proof: (inverted lists with centroid assignment, per-query probe
    * set), from the same [[fixedSeedIvf]] and [[probeCentroids]] devices
    * [[ivfPqTopK]] serves with. */
  private[graft] def ivfPqParts(queries: DataFrame, candidates: DataFrame,
                                nCentroids: Int, nProbe: Int): (DataFrame, DataFrame) = {
    val (seeds, lists) = fixedSeedIvf(candidates, nCentroids)
    (lists, probeCentroids(queries, seeds, "qid", "qe", nProbe)
      .select(col("qid"), col("centroid_id")))
  }

  /** The IVF+PQ index (centroids, codebook, codes): the [[fixedSeedIvf]]
    * lists PQ-encoded IN PLACE, the centroid id carried on the code
    * rows. */
  private def ivfPqIndex(candidates: DataFrame,
                         nCentroids: Int): (DataFrame, DataFrame, DataFrame) = {
    val (seeds, lists) = fixedSeedIvf(candidates, nCentroids)
    val codebook = pqCodebook(candidates)
    (seeds, codebook, pqEncode(lists, codebook, carry = Seq("centroid_id")))
  }

  /** IVF+PQ serving: each query picks its `nProbe` nearest centroids,
    * the probe frame (|Q|·nProbe rows) broadcasts into an equi-join on
    * centroid_id against the code rows, and ADC scoring joins the
    * per-query LUT on (qid, m, k) — pruned first, so LUT rows only meet
    * candidates their own query probed. `prune` adds [[probedOnly]] for
    * a persisted index. */
  private def ivfPqServe(queries: DataFrame, centroids: DataFrame, codebook: DataFrame,
                         codes: DataFrame, k: Int, nProbe: Int,
                         prune: Boolean): DataFrame = {
    val probes = probeCentroids(queries, centroids, "qid", "qe", nProbe)
      .select(col("qid"), col("centroid_id"))
    val probed = if (prune) probedOnly(codes, probes) else codes
    val pruned = probed.join(broadcast(probes), Seq("centroid_id"))
      .select(col("qid"), col("cid"), col("m"), col("k"))
    pqScoreTopK(pruned, pqLut(queries, codebook), k, Seq("qid", "m", "k"))
  }

  /** The composed ANN SERVING key (r12, verdict ask #1): IVF coarse
    * pruning feeding PQ asymmetric-distance rescoring — the production
    * 100 TB serving pipeline the ladder keys individually gesture at.
    *
    * Index-build side (once per corpus, [[ivfPqIndex]]): fixed-seed
    * coarse quantizer (the [[ivfTopKFixedSeeds]] shape — SQL-expressible,
    * which is what keeps the whole key under the DuckDB oracle), every
    * candidate assigned to its nearest centroid, then PQ-encoded IN PLACE
    * with the centroid id carried on the code rows — on disk this is the
    * lists layout of [[saveIvfIndex]] with 8 four-bit codes per row
    * instead of 64 floats (a 64× scan-IO cut on the probe path).
    *
    * Serving side (per query batch, [[ivfPqServe]]): the scored candidate
    * set comes ONLY from the probed lists, so no stage after the probe
    * join touches the full corpus (asserted structurally and by
    * candidate-set equality in SimilaritySpec). Determinism devices
    * inherited from [[qPqTopK]] (DECIMAL ADC sums) and
    * [[ivfTopKFixedSeeds]] (min-id tie-breaks). */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val (centroids, codebook, codes) = ivfPqIndex(candidates, nCentroids)
    ivfPqServe(queries, centroids, codebook, codes, k, nProbe, prune = false)
  }

  def qIvfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val (queries, cands) = querySplit(Tables.embeddings(spark, dir))
    ivfPqTopK(queries, cands, 3)
  }

  /** Persist the composed IVF+PQ index — the literal on-disk serving
    * layout [[ivfPqTopK]] computes inline: centroids (K rows), the PQ
    * codebook (M·K rows), and the code table PARTITIONED BY centroid_id
    * so a probe of nProbe centroids reads nProbe directories of 8
    * four-bit codes per row and leaves the rest of the corpus untouched
    * — a 64× scan-IO cut on top of the inverted-file pruning. Build
    * once at ingest; every query batch after pays only the probe. */
  def saveIvfPqIndex(candidates: DataFrame, dir: String,
                     nCentroids: Int = 16): Unit = {
    val (centroids, codebook, codes) = ivfPqIndex(candidates, nCentroids)
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    codebook.write.mode("overwrite").parquet(s"$dir/codebook")
    codes.write.mode("overwrite").partitionBy("centroid_id").parquet(s"$dir/codes")
  }

  /** Load a persisted IVF+PQ index as (centroids, codebook, codes). */
  def loadIvfPqIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val centroids = spark.read.parquet(s"$dir/centroids")
    val codebook = spark.read.parquet(s"$dir/codebook")
    val codes = spark.read.parquet(s"$dir/codes")
      .select(col("centroid_id").cast("long"), col("cid"), col("m"), col("k"))
    (centroids, codebook, codes)
  }

  /** Probe a persisted IVF+PQ index: the serving plan of the inline
    * [[ivfPqTopK]] plus the reason the index is partitioned at all — the
    * probed centroid ids are pushed as a STATIC partition filter on the
    * code scan ([[probedOnly]]; PartitionFilters asserted in
    * SimilaritySpec). */
  def ivfPqProbe(queries: DataFrame, centroids: DataFrame, codebook: DataFrame,
                 codes: DataFrame, k: Int, nProbe: Int = 4): DataFrame =
    ivfPqServe(queries, centroids, codebook, codes, k, nProbe, prune = true)

  /** Lloyd-trained PQ codebook (r12, verdict ask #5): per-subspace
    * k-means — seeds are the deterministic [[pqCodebook]] codewords,
    * refined by `iters` Lloyd rounds (assign every candidate subvector to
    * its nearest codeword, re-center each codeword as the decimal
    * [[centroidMean]] of its subvectors — the exact machinery
    * [[buildIvfIndex]] uses one level down). Emptied codewords keep
    * their seed (left join + coalesce), so k never collapses.
    *
    * Scale: each round is one corpus-linear encode (explode + broadcast
    * codebook join + keyed argmin) and one (m, k)-keyed average of 8-dim
    * subvectors — no window over the corpus, no collect. */
  def pqCodebookTrained(cands: DataFrame, iters: Int = 2,
                        trainFraction: Double = 1.0): DataFrame = {
    val seeds = pqCodebook(cands)
    // trainFraction is the 100 TB knob: production PQ fits the codebook
    // on a bounded deterministic content-hash SAMPLE (training cost
    // decouples from corpus size — train on ~10⁵ vectors, encode
    // everything; the sampled path is property-tested in
    // SimilaritySpec). Default 1.0 because the test fixture is 500
    // near-random clusterless vectors, where a 25% sample measurably
    // loses recall — real embedding corpora cluster and sample well.
    // The training set is exploded ONCE and materialized so every Lloyd
    // round's encode and re-centering join read the same blocks
    // instead of re-exploding per round.
    val train =
      if (trainFraction >= 1.0) cands
      else cands.filter(graft.text.Sampling.inSample(col("cid"), trainFraction))
    val sub = Checkpointer(pqSubvecs(train))
    // re-centering uses the decimal [[centroidMean]] (r15, the
    // qPqLloydRound oracle pattern promoted into the production
    // trainer): exact sums, addition-order-proof across cluster layouts
    // AND engines. The quantization is noise against codeword distances;
    // in exchange the trained codebook — and therefore the whole
    // trained-PQ serving key — is bit-reproducible and DuckDB-oracled.
    (1 to iters).foldLeft(seeds) { case (book, _) =>
      val means = centroidVectors(pqEncodeSub(sub, book).join(sub, Seq("cid", "m")),
        Seq("m", "k"), "sv", "cv_new")
      // LAZY checkpoint of each round's book (M·K = 128 tiny rows):
      // round N's plan references `book` TWICE (the encode's broadcast
      // AND the empty-codeword left join), so the unrolled lazy fold
      // re-executed every earlier round's encode+re-center subtree per
      // reference (guide §2.4 duplicated subtrees — the r17 ask on
      // q_pq_topk_trained; no ReusedExchange fires across them, see
      // plans/r17). eager=false makes both references share ONE
      // checkpointed RDD computed inside the same job — dedupe without
      // the serial job barrier an eager checkpoint would add (measured:
      // eager per-round checkpoint was 4.24 → 5.11 s, a dead end — do
      // not redo).
      Checkpointer(book.join(means, Seq("m", "k"), "left")
        .select(col("m"), col("k"), coalesce(col("cv_new"), col("cv")).as("cv")),
        eager = false)
    }
  }

  /** PQ ANN over the TRAINED codebook — oracled since r15: the Lloyd
    * re-centering is the decimal device (exact sums, order-proof), so
    * both training rounds unroll into the oracle SQL and the
    * encode/LUT/ADC tail is the oracled [[qPqTopK]] plan verbatim.
    * SimilaritySpec pins recall ≥ the deterministic-codebook key on the
    * fixture corpus. */
  def qPqTopKTrained(spark: SparkSession, dir: String): DataFrame = {
    val (queries, cands) = querySplit(Tables.embeddings(spark, dir))
    // train once, reuse for encode + LUT: the codebook is M·K = 128 tiny
    // rows consumed by two broadcasts — the checkpoint cuts the 2×
    // re-execution of the iterative training subtree, the same device as
    // the CC keys' per-round state
    val codebook = Checkpointer(pqCodebookTrained(cands))
    val codes = pqEncode(cands, codebook)
    val lut = pqLut(queries, codebook)
    pqScoreTopK(codes, lut, 3, Seq("m", "k"))
  }

  /** Cosine top-k where the CANDIDATE side is the int8-quantized table —
    * the serving shape after [[qEmbeddingQuantize]]'s layout: score =
    * dot(qe, q)/scale (the scale factors out of the integer fold, so the
    * sum accumulates exact small integers × query doubles — same
    * sequential fold as [[VectorOps.dot]], mirrored in SQL). Recall loss
    * vs exact cosine comes only from the ≤ 0.5/127 per-element rounding;
    * the spec pins top-1 agreement with the float path. */
  def qAnnTopKInt8(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val (queries, _) = querySplit(emb)
    val cands = quantized(emb.filter(col("vec_id") >= 8))
      .select(col("vec_id").as("cid"), col("scale"), col("q"))
    rankedTopK(cands.crossJoin(broadcast(queries))
      .select(col("qid"), col("cid"),
        // int→double cast is exact, so the fused codegen fold applies;
        // dividing by scale AFTER the fold keeps the sum over exact
        // small integers × query doubles (sequential, oracle-mirrored)
        when(col("scale") > 0,
          VectorOps.dot(col("qe"), col("q").cast("array<double>")) / col("scale"))
          .otherwise(lit(0.0)).as("score")), 3)
  }

  // -------------------------------------- sign random projection (JL)

  /** Output dims / input dims / fixed-point scale for
    * [[qRandomProjection]]. */
  val rpOutDims = 16
  val rpInDims = 64
  val rpScale = 1000000.0

  /** Deterministic ±1 sign matrix (md5-derived per cell, computed ONCE
    * driver-side) — interpolated as literals into BOTH the Spark column
    * chain and the oracle SQL, the PageRank generated-from-the-same-
    * constants device. */
  lazy val rpSigns: IndexedSeq[IndexedSeq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until rpOutDims).map { j =>
      (0 until rpInDims).map { d =>
        val b = md.digest(s"rp:$j:$d".getBytes("UTF-8"))(0)
        if ((b & 1) == 0) 1.0 else -1.0
      }
    }
  }

  /** Sign random projection (Achlioptas/JL) — the DIMENSIONALITY-
    * REDUCTION rung of the ANN ladder the compression keys skip: at
    * 100 TB the 1024-dim corpus projects to a few dozen dims BEFORE
    * LSH bucketing / IVF training, cutting every downstream distance
    * computation and index byte by the same factor while JL preserves
    * pairwise geometry in expectation (E[⟨Ru,Rv⟩]/k = ⟨u,v⟩ —
    * SimilaritySpec pins the realized correlation on the fixture).
    *
    * Determinism: each output dim is the native [[graft.plans.DotProduct]]
    * sequential fold (acc starts 0.0, += xᵢ·sᵢ in array order) against
    * the literal sign row — BIT-IDENTICAL to the old unrolled
    * ±x_d literal chain (same left association, multiply commutes
    * bitwise) and to the oracle's interpolated list fold; the emitted
    * value is fixed-point (×1e6, floor+0.5) so the output carries only
    * BIGINTs.
    *
    * Scale shape: pure per-row codegen, zero shuffles beyond the
    * output sort. r14: the 16 dims used to be 16 UNROLLED 64-term
    * expression chains (~2048 plan nodes) whose per-invocation
    * analysis/codegen cost ~3 s at ANY data size; 16 fused-dot
    * expressions over literal arrays plan in milliseconds and run the
    * identical arithmetic (solo 3.1 → 0.6 s, hashes unchanged). */
  def qRandomProjection(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val dims = (0 until rpOutDims).map { j =>
      val y = VectorOps.dotLit(col("embedding"), rpSigns(j))
      struct(lit(j).as("dim"),
        floor(y * rpScale + lit(0.5)).cast("long").as("y_fix"))
    }
    emb
      .select(col("vec_id"), explode(array(dims: _*)).as("p"))
      .select(col("vec_id"), col("p.dim").as("dim"), col("p.y_fix").as("y_fix"))
      .orderBy("vec_id", "dim")
  }

  /** Cluster count for [[qSilhouette]] — the first `silhouetteK`
    * vec_ids seed the centroids (the [[ivfTopKFixedSeeds]] device, so
    * the whole key stays SQL-expressible). */
  val silhouetteK = 16

  /** q_silhouette — centroid-based silhouette score per cluster: the
    * clustering-quality audit for the IVF/SemDeDup layer. Exact
    * silhouette is O(n²) (mean pairwise distance to every point in
    * every cluster) — unrunnable at 100 TB; the centroid
    * approximation (Pampalk's "simplified silhouette": a = d(x, own
    * centroid), b = min over other centroids) keeps the separation-vs-
    * cohesion readout at one broadcast join per point. s near 1 =
    * tight, well-separated lists (good IVF recall/probe economics);
    * s near 0 = boundary points that make nProbe=1 lossy.
    *
    * Scale shape: ONE pass — points × the K-row broadcast centroid
    * frame (bounded cross, the q_cosine_topk class), a per-point
    * 2-row rank window keyed on vec_id, then a K-row aggregate.
    * Determinism: d = the sequential (x−c)² fold (the PQ ADC device);
    * ranking ties break on centroid_id; per-point s is ROUND(,9) →
    * DECIMAL so cluster means are addition-order-proof. */
  def qSilhouette(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val ctr = pts.orderBy(col("vec_id")).limit(silhouetteK)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
    val ranked = topN(pts.crossJoin(broadcast(ctr))
        .select(col("vec_id"), col("centroid_id"),
          sqL2(col("embedding"), col("centroid")).as("d")),
      Seq("vec_id"), Seq(col("d"), col("centroid_id")), 2)
    val ab = ranked.groupBy(col("vec_id")).agg(
      max(when(col("rn") === 1, col("centroid_id"))).as("cluster"),
      max(when(col("rn") === 1, col("d"))).as("a"),
      max(when(col("rn") === 2, col("d"))).as("b"))
    val s = when(greatest(col("a"), col("b")) === 0.0, lit(0.0))
      .otherwise((col("b") - col("a")) / greatest(col("a"), col("b")))
    ab.select(col("cluster").as("centroid_id"),
        round(s, 9).cast(d9).as("s"))
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_points"),
        round(sum(col("s")).cast("double") / count(lit(1)).cast("double"), 6)
          .as("mean_silhouette"))
      .orderBy("centroid_id")
  }

  /** The Lloyd round keys' output, from a per-(keys, dim) frame with
    * the new `coord`, its `n_points` and the old coord `o`: adds the
    * squared centroid shift summed over the key's dims (each term
    * ROUND(,9) → DECIMAL(18,9), so the sum is order-proof), ordered by
    * (keys, dim). */
  private def withMovement(nc: DataFrame, keys: Seq[String]): DataFrame = {
    val out = (keys ++ Seq("dim", "n_points", "coord")).map(col)
    nc.select(out :+ round((col("coord") - col("o")) * (col("coord") - col("o")), 9)
        .cast(d9).as("mv"): _*)
      .select(out :+ round(sum(col("mv")).over(Window.partitionBy(keys.map(col): _*))
        .cast("double"), 6).as("movement"): _*)
      .orderBy((keys :+ "dim").map(col): _*)
  }

  /** q_lloyd_round — ONE Lloyd k-means iteration under the oracle:
    * assignment (the [[fixedSeedIvf]] max-dot device over the
    * first-[[silhouetteK]] seeds) followed by the centroid UPDATE —
    * per-dimension means of the assigned vectors — plus the squared
    * movement per centroid (the convergence number a k-means loop
    * watches). This puts the TRAINING step the production keys run
    * (`q_ivf_topk`'s Lloyd refinement, `q_pq_topk_trained`'s codebook)
    * under the DuckDB gate: both iterate THIS plan's [[centroidMean]].
    *
    * Scale shape: assignment = points × K-row broadcast (the IVF
    * contract); the update is ONE map-side-combined (centroid, dim)
    * aggregate — the explode is absorbed before the shuffle, which
    * carries ≤ K·64 narrow rows; movement is a window over that tiny
    * frame. Determinism: per-dim terms ROUND(,9) → DECIMAL(18,9) so
    * the mean's numerator is addition-order-proof (float sums in
    * arbitrary partition order are NOT); all divisions and the movement
    * chain run once per (centroid, dim) in fixed order. */
  def qLloydRound(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val (seeds, asg) = fixedSeedIvf(pts, silhouetteK)
    val old = seeds.select(col("centroid_id"), posexplode(col("centroid")).as(Seq("dim", "o")))
      .select(col("centroid_id"), col("dim"), col("o").cast("double").as("o"))
    withMovement(centroidMean(asg, Seq("centroid_id"), "ce")
      .join(old, Seq("centroid_id", "dim")), Seq("centroid_id"))
  }

  /** q_pq_lloyd_round — ONE Lloyd round of the PQ CODEBOOK training,
    * (m, k)-keyed (round-13 verdict ask #6): the [[qLloydRound]] device
    * applied per SUBSPACE, putting [[pqCodebookTrained]]'s iterated step
    * under the DuckDB gate — assignment is the exact [[pqEncodeSub]]
    * squared-L2 argmin (fold order mirrored, ties to min k), the update
    * is the per-(m, k, dim) mean of assigned subvectors, and movement is
    * the squared centroid shift a PQ training loop watches per codeword.
    * Emptied codewords keep their seed with n_points = 0 (the
    * left-join + coalesce semantics of the real trainer). The rows-only
    * `q_pq_topk_trained` key remains the float end-to-end; this key
    * gate-checks its training round exactly.
    *
    * Scale shape: one corpus-linear explode (× [[pqM]]) + a broadcast
    * codebook join + a (cid, m)-keyed argmin, then ONE map-side-combined
    * (m, k, dim) aggregate whose shuffle carries ≤ M·K·D narrow rows;
    * the movement window runs over that tiny frame. Determinism: the
    * [[centroidMean]] ROUND(,9) → DECIMAL device for the mean numerator. */
  def qPqLloydRound(spark: SparkSession, dir: String): DataFrame = {
    val (_, cands) = querySplit(Tables.embeddings(spark, dir))
    val seeds = pqCodebook(cands)
    val sub = pqSubvecs(cands)
    val means = centroidMean(pqEncodeSub(sub, seeds).join(sub, Seq("cid", "m")),
      Seq("m", "k"), "sv")
    val old = seeds.select(col("m"), col("k"), posexplode(col("cv")).as(Seq("dim", "o")))
    withMovement(old.join(means, Seq("m", "k", "dim"), "left")
      .select(col("m"), col("k"), col("dim"),
        coalesce(col("n_points"), lit(0L)).as("n_points"),
        coalesce(col("coord"), round(col("o"), 6)).as("coord"),
        col("o")), Seq("m", "k"))
  }

  /** q_pca_power — one power-method iteration toward the corpus's
    * dominant principal direction: u = Xᵀ(X·v₀) with the deterministic
    * all-ones start, emitted both raw and L2-normalized per dimension.
    * The PCA-at-scale primitive (uncentered, i.e. the top right
    * singular vector): iterated, this is how the leading direction of
    * a 100 TB embedding corpus is actually computed — each round is
    * ONE corpus pass and a 64-row reduce, never a 64×64 covariance
    * materialization per partition pair, never a driver-side matrix.
    * The leading direction feeds whitening, ABTT-style common-
    * direction removal, and the q_random_projection ladder.
    *
    * Scale shape: s = x·v₀ is a per-row codegen fold; the dim explode
    * is absorbed map-side into the 64-row (dim, Σ s·x_d) aggregate;
    * the norm is a window over those 64 rows. Determinism: per-row
    * terms ROUND(,9) → DECIMAL(18,9) (the [[qLloydRound]] device —
    * float sums in partition order are not order-proof); the norm
    * chain runs once per dim in fixed order. */
  def qPcaPower(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // v0 = ones: x·v0 is just the coordinate sum (a sequential fold)
    val s = aggregate(col("embedding"), lit(0.0), (acc, x) => acc + x.cast("double"))
    val terms = emb
      .select(s.as("s"), explode(zip_with(
        sequence(lit(0), lit(63)), col("embedding"),
        (i, x) => struct(i.cast("int").as("dim"), x.as("v")))).as("p"))
      .select(col("p.dim").as("dim"),
        round(col("s") * col("p.v").cast("double"), 9).cast(d9).as("t"))
    val u = terms.groupBy(col("dim"))
      .agg(sum(col("t")).cast("double").as("u"))
    val wAll = Window.partitionBy()
    // u is an UNNORMALIZED corpus-size-proportional sum, so u² needs the
    // wide accumulator: DECIMAL(18,9) caps at <1e9 and Spark (non-ANSI)
    // would silently NULL the overflow past |u| ≈ 31.6k while DuckDB's
    // CAST raises — DECIMAL(38,9) holds u up to ~5.4e14, far beyond any
    // plausible corpus (the per-row t terms stay (18,9): s·x is bounded
    // by the 64-dim coordinate range, not the corpus size)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 9)
    u.withColumn("nrm",
        sqrt(sum(round(col("u") * col("u"), 9).cast(d38)).over(wAll)
          .cast("double")))
      .select(col("dim"), round(col("u"), 6).as("u"),
        round(col("u") / col("nrm"), 6).as("v1"))
      .orderBy("dim")
  }

  /** Oracle: the same 8 literal sign chains, same association order,
    * same fixed-point emit — generated from [[rpSigns]]. */
  def randomProjectionOracleSql: String = {
    val branches = (0 until rpOutDims).map { j =>
      val chain = rpSigns(j).zipWithIndex.foldLeft("0.0") { case (acc, (s, d)) =>
        s"($acc + (${if (s > 0) "" else "-"}1.0 * CAST(embedding[${d + 1}] AS DOUBLE)))"
      }
      s"SELECT vec_id, $j AS dim, CAST(FLOOR($chain * ${rpScale} + 0.5) AS BIGINT) AS y_fix FROM embeddings"
    }
    branches.mkString("SELECT vec_id, dim, y_fix FROM (", " UNION ALL ",
      ") ORDER BY vec_id, dim")
  }
}
