package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.plans.Checkpointer

/** Text-analysis + deduplication operators for LLM training-data
  * pipelines (SURVEY.md §2.C; beyond the reference surface, which has no
  * text ops). All plumbing is Catalyst HOFs — tokenization, shingling,
  * hashing and banding never leave whole-stage codegen; the only shuffles
  * are the final groupBys, each keyed on a hash (uniform, skew-free).
  */
object TextOps {

  def tokens(text: Column): Column = split(text, " ")

  /** Exact dedup at 100 TB = hash-partition by content digest; the
    * groupBy below shuffles only (digest, doc_id, 1) — constant width per
    * row regardless of document size. */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"), col("h"))
      .orderBy("keep_id")

  /** Term frequency top-20: explode → count → global top-k with a total
    * (count DESC, term) order. At scale the partial aggregation absorbs
    * the explosion map-side; the final limit is TakeOrderedAndProject. */
  def qTextTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(tokens(lower(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term"))
      .limit(20)

  /** Corpus stats per language. */
  def qTextStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")

  /** Token counting: whitespace tokens, tokens-per-char density, and
    * the standard chars/4 BPE-ish subword estimate used for LLM budget
    * accounting. */
  def qTokenCount(spark: SparkSession, dir: String): DataFrame = {
    val n = size(tokens(col("text")))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        n.as("n_tokens"),
        round(n.cast("double") / col("n_chars"), 6).as("tokens_per_char"),
        ceil(col("n_chars").cast("double") / 4.0).as("est_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Quality scoring: type-token ratio + stopword ratio → composite
    * score. Stopword list fixed so Spark and the oracle agree. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "data", "table", "row")

  def qQualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val nDistinct = size(array_distinct(toks)).cast("double")
    val nStop = size(filter(toks, t => array_contains(typedLit(stopwords), t))).cast("double")
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        round(nDistinct / nTok, 6).as("distinct_ratio"),
        round(nStop / nTok, 6).as("stop_ratio"),
        round((nDistinct / nTok) * 0.5 + (lit(1.0) - nStop / nTok) * 0.5, 6).as("quality"))
      .orderBy("doc_id")
  }

  /** Content-defined document fingerprint: md5 over the sorted distinct
    * term set (bag fingerprint — order-insensitive, so a shuffled
    * near-copy maps to the same fingerprint). */
  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(tokens(col("text")))))).as("fp"))
      .orderBy("doc_id")

  // --------------------------------------------------- near-dup (MinHash)

  /** MinHash parameters: k permutations split into `minhashBands` bands
    * of r = perms/bands rows. r=8 keeps the per-band collision
    * probability for unrelated same-vocabulary documents negligible
    * (P ≈ jaccard^8) while 4 bands still catch pairs with jaccard ≳ 0.6.
    *
    * Permutation j is the classic (a_j·h + b_j) mod p over a base hash
    * h — but h is derived from md5 (h = conv(md5(s)[1..15], 16, 10)
    * mod p) instead of a JVM-private hash, which makes the whole
    * signature→band→candidate path ENGINE-PORTABLE: DuckDB computes the
    * identical h as a 15-term positional hex sum (see SparkEntry.
    * minhashPairsCte), the same engine-parity fact [[qDedupExact]] and
    * Sampling.cutHex rely on. Signature elements stay LONGS, so the 32
    * min-aggregates remain hash-aggregatable (narrow shuffle, no
    * SortAggregate fallback — the md5-string-min alternative measured
    * +2-4 s per minhash key at sf0.1). Deterministic (fixed a/b/p). */
  val minhashPerms = 32
  val minhashBands = 4
  private[graft] val prime = 2038074743L
  private[graft] val permA: Seq[Long] = (1 to minhashPerms).map(i => 2L * i * 977 + 1)
  private[graft] val permB: Seq[Long] = (1 to minhashPerms).map(i => i * 1303L + 7)

  /** 60-bit md5-derived hash: int(md5(s)[1..15], 16) — conv() is exact
    * to 15 hex chars (the full 16 would overflow signed 64-bit for
    * digests ≥ 0x8000...), and the identical value reproduces in DuckDB
    * as a positional sum over the same 15 chars. The engine-portable
    * replacement for xxhash64 wherever an oracle needs to recompute the
    * hash ([[minhashSignatures]] reduces it mod p; [[simhash]] reads
    * its low 32 bits). */
  def baseHash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** [[baseHash60]] reduced mod p — the MinHash permutation domain. */
  def baseHash(s: Column): Column = pmod(baseHash60(s), lit(prime))

  /** Word w-shingles of a token array as strings. */
  def shingles(toks: Column, w: Int): Column =
    transform(
      sequence(lit(0), greatest(size(toks) - w, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(w))))

  /** Document-frequency cap for shingle joins. At 100 TB, boilerplate
    * shared by millions of documents (headers, licenses, templates)
    * turns a shingle equi-join quadratic on a single hot key; dropping
    * shingles with df above the cap bounds every join key's fan-out at
    * `maxDf²` while leaving discriminative (rare) shingles — the ones
    * that actually signal duplication — untouched. 100 never fires on
    * the testdata (max df there is 9), so oracled results are unchanged;
    * the planted-hot-shingle skew test exercises the firing path. */
  val shingleDfCap = 100L

  /** Distinct w-shingle rows (doc_id, s) with the df cap applied. The
    * hot set (df > maxDf) is tiny by construction, so the filter is a
    * broadcast anti-join — no extra shuffle of the shingle stream.
    *
    * When the cap is active the stream is materialized ONCE (through
    * [[Checkpointer]]) and both consumers — the hot-set aggregation and the
    * anti-join probe — read the checkpointed blocks. Leaving it lazy
    * made every downstream consumer recompute tokenize→shingle→explode
    * plus the hot-set subtree (round 2's only real bench regression:
    * q_dedup_minhash 3.4→6.6 s).
    *
    * SIDE EFFECT: the checkpoint is eager, so with the cap active
    * merely CONSTRUCTING this DataFrame runs Spark jobs and pins
    * blocks until RDD GC. */
  def shingleRows(docs: DataFrame, w: Int, maxDf: Long = shingleDfCap): DataFrame = {
    val sh = docs.select(col("doc_id"),
      explode(array_distinct(shingles(tokens(col("text")), w))).as("s"))
    if (maxDf <= 0) sh
    else {
      val mat = Checkpointer(sh)
      val hot = mat.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf)
        .select(col("s"))
      mat.join(broadcast(hot), Seq("s"), "left_anti")
    }
  }

  /** Row-local base-hash array of a shingle set — materialize this in
    * its OWN projection before [[minhashSignatureFromHashes]]: the 32
    * per-permutation aggregates are separate expressions Catalyst does
    * not common-subexpression across, so an inlined hash array would
    * recompute every shingle's md5 32× per row (measured: the streaming
    * near-dup gate went 25 s → 5.6 s at sf0.1 after splitting). */
  def minhashHashes(sh: Column): Column =
    array_distinct(transform(sh, s => baseHash(s)))

  /** MinHash signature from a PRECOMPUTED hash array column. */
  def minhashSignatureFromHashes(hashes: Column): Column =
    array((0 until minhashPerms).map { j =>
      aggregate(
        hashes,
        lit(Long.MaxValue),
        (acc, h) => least(acc, pmod(lit(permA(j)) * h + lit(permB(j)), lit(prime))))
    }: _*)

  /** MinHash signature (array of minhashPerms longs) of a shingle set —
    * row-local HOF form of [[minhashSignatures]], kept as the semantic
    * spec the aggregate pipeline is tested against. Single-expression
    * convenience form: hot paths should materialize [[minhashHashes]]
    * first (see its note). */
  def minhashSignature(sh: Column): Column =
    minhashSignatureFromHashes(minhashHashes(sh))

  /** LSH banding: (bandId, md5 of the band's signature slice) keys.
    * Docs sharing any band key are near-dup candidates. The band hash is
    * md5 over the comma-joined slice — engine-portable like the
    * signature itself (DuckDB mirror: md5(string_agg(m, ',' ORDER BY j))
    * per band). */
  def bandKeys(sig: Column): Column = {
    val r = minhashPerms / minhashBands
    transform(
      sequence(lit(0), lit(minhashBands - 1)),
      b => struct(b.as("band"),
        md5(concat_ws(",",
          transform(slice(sig, b * r + 1, lit(r)), _.cast("string")))).as("bh")))
  }

  /** MinHash/LSH near-duplicate candidate pairs with exact-Jaccard
    * verification. Fully SQL-oracled (md5-derived permutations are
    * engine-portable — see [[minhashSignature]]); planted-pair
    * properties in TextOpsSpec cover the statistical behavior.
    *
    * Scale path: explode to (bandKey → doc) and self-join on the band
    * key — a pure equi-shuffle join on uniform hash keys; candidate
    * verification touches only colliding pairs, never the cross product.
    */
  /** Signature via explode + one hash aggregate: each (doc, shingle)
    * row computes ONE md5-derived [[baseHash]], then feeds 32 codegen'd
    * `min((a_j·h+b_j) mod p)` aggregates with map-side partial
    * combine — the per-element work stays inside whole-stage codegen
    * (long buffers → HashAggregate), and the shuffle carries one
    * 32-long signature row per document. This is the 100 TB shape:
    * explode → partial agg, never a per-row lambda fold. */
  /** [[minhashSignatures]] over a PREBUILT (doc_id, s) shingle stream —
    * the shared-stream form: q_dedup_eval computes truth AND candidates
    * from ONE tokenize→shingle pass instead of two (r14; halved that
    * key's corpus passes). */
  def minhashSignaturesFromShingles(sh: DataFrame): DataFrame = {
    val hashed = sh.select(col("doc_id"), baseHash(col("s")).as("h"))
    val mins = (0 until minhashPerms).map(j =>
      min(pmod(lit(permA(j)) * col("h") + lit(permB(j)), lit(prime))).as(s"m$j"))
    hashed.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until minhashPerms).map(j => col(s"m$j")): _*).as("sig"))
  }

  def minhashSignatures(docs: DataFrame, w: Int,
                        maxDf: Long = shingleDfCap): DataFrame =
    minhashSignaturesFromShingles(shingleRows(docs, w, maxDf))

  /** Band-join candidate pairs from precomputed signatures. */
  def bandedCandidatesFromSignatures(sigs: DataFrame): DataFrame = {
    val keyed = sigs.select(col("doc_id"), explode(bandKeys(col("sig"))).as("k"))
    keyed.select(col("k"), col("doc_id").as("id_a"))
      .join(keyed.select(col("k"), col("doc_id").as("id_b")), Seq("k"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Banded MinHash candidate pairs BEFORE exact verification — the
    * probabilistic half of [[nearDupPairs]], exposed so [[qDedupEval]]
    * can measure what banding alone finds and misses. */
  def bandedCandidates(docs: DataFrame, w: Int = 3): DataFrame =
    bandedCandidatesFromSignatures(minhashSignatures(docs, w))

  /** Exact-Jaccard verification of candidate (id_a, id_b) pairs —
    * the shared tail of [[nearDupPairs]] / [[nearDupPairsCapped]].
    * Shingle sets are computed only for the surviving candidates,
    * never for the whole corpus. */
  private def verifyJaccard(cand: DataFrame, docs: DataFrame, w: Int,
                            minJaccard: Double): DataFrame = {
    // Shingle sets are computed PER DOCUMENT on the scan side, not per
    // pair side after the join (r17; named limiter from the sf1 8-vs-32
    // core probe): the candidate frame is tiny in BYTES, so AQE
    // coalesces the post-join partitions to a handful of tasks — and
    // the old form put the expensive tokenize→slice→concat shingling of
    // BOTH texts of every pair inside those tasks (q_dedup_minhash_capped
    // ran 25 s at sf1 on 8 AND 32 cores: two 9 s stages whose whole
    // task-time sat in ONE task each). Shingling per doc (a) runs in
    // the well-partitioned scan/shuffle-write stage, (b) is computed
    // once per document instead of once per pair side — on dup-heavy
    // corpora each doc appears in many pairs. Identical expressions →
    // identical jaccard values; only placement and multiplicity change.
    val sh = docs.select(col("doc_id"),
      array_distinct(shingles(tokens(col("text")), w)).as("sh"))
    cand
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** Duplicate-pile budget for the UNCAPPED MinHash band join (r16
    * verdict ask #2 — the [[graft.sim.Similarity.uncappedBucketGuard]]
    * fail-fast device applied to the text family): a pile of `depth`
    * identical documents shares every band key, so the band self-join
    * owes C(depth, 2) pairs per pile — the ×100 rehearsal adjudicated
    * q_dedup_minhash output-bound at 27.5× against planted 100-deep
    * piles. Guarded runs abort in ONE cheap md5-multiplicity aggregate
    * instead (see [[assertDupPileDepth]] for why the guard is
    * text-level, not band-level). Sized from measured depths: sf0.1
    * max exact-dup pile = 2 (→ ~20 at ×10, ~200 at ×100), so 128
    * passes every test SF and the ×10 corpus, and trips the ×100
    * planted piles immediately. */
  val minhashBandGuard = 128L

  /** Fail-fast EXACT-DUPLICATE-pile guard for the uncapped MinHash band
    * join: one md5(text)-multiplicity aggregate over the corpus — no
    * shingles, no signatures, and no materialization that would break
    * the band join's single-shuffle plan. A pile of `depth` identical
    * documents shares every band key, so the band self-join owes
    * C(depth, 2) pairs per pile — exactly the ×100 rehearsal's
    * demonstrated Ω(result) blow-up. (Near-identical-but-distinct
    * floods are bounded separately by the shingle df-cap, which drops
    * any shingle shared by >maxDf documents before it can band.) */
  private def assertDupPileDepth(docs: DataFrame, guard: Long,
                                 capped: String): Unit = {
    val hot = docs.groupBy(md5(lower(col("text"))).as("h"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > guard).orderBy(col("n").desc).limit(5)
      .collect().map(r => s"pile ${r.getString(0).take(8)}…=${r.getLong(1)}")
    require(hot.isEmpty,
      s"exact-duplicate pile depth exceeds guard $guard (deepest: " +
        s"${hot.mkString(", ")}); every copy shares every band key, so " +
        "the band self-join owes C(depth, 2) pairs per pile — run exact " +
        s"dedup first (q_dedup_exact / the q_llm_pipeline composition) " +
        s"or use $capped at this duplicate density")
  }

  /** Fail-fast density check before an uncapped band self-join: one
    * aggregate over the (already checkpointed) band-key frame; any
    * bucket above `guard` aborts with the hot-bucket profile and the
    * capped operator's name, BEFORE any quadratic pair work runs. */
  private def assertBandDensity(keyed: DataFrame, guard: Long,
                                capped: String): Unit = {
    val hot = keyed.groupBy(col("k")).agg(count(lit(1)).as("n"))
      .filter(col("n") > guard).orderBy(col("n").desc).limit(5)
      .collect().map(r => s"bucket ${r.get(0)}=${r.getLong(1)}")
    require(hot.isEmpty,
      s"uncapped band-bucket density exceeds guard $guard (hot: " +
        s"${hot.mkString(", ")}); the band self-join would be " +
        s"~quadratic in the hot-bucket population — use $capped at " +
        "this duplicate density")
  }

  def nearDupPairs(docs: DataFrame, w: Int = 3, minJaccard: Double = 0.6,
                   guard: Long = minhashBandGuard): DataFrame = {
    // Band join ships only (bandKey, doc_id) — constant-width rows — and
    // candidate pairs are de-duplicated BEFORE any document content is
    // rejoined. The WHOLE plan stays lazy: the signature aggregate's
    // hashpartitioning(doc_id) flows through the broadcast band join,
    // the (id_a, id_b) distinct and the verify joins (id_a = doc_id
    // satisfies their clustering), so the pipeline runs with ONE
    // corpus shuffle. Every materialization variant measured at ×10
    // corpus scale lost that property and re-shuffled the exploded
    // candidate stream — 3-3.5× slower (a localCheckpoint leaf reports
    // unknown partitioning, so AQE re-plans every downstream exchange).
    // The guard is therefore a TEXT-level aggregate, not a band-level
    // one: one cheap md5-multiplicity pass, no signature recompute.
    if (guard > 0) assertDupPileDepth(docs, guard, "q_dedup_minhash_capped")
    verifyJaccard(bandedCandidates(docs, w), docs, w, minJaccard)
  }

  def qDedupMinhash(spark: SparkSession, dir: String): DataFrame =
    nearDupPairs(Tables.documents(spark, dir))

  /** Per-(band, bh) population cap for [[bandedCandidatesCapped]] —
    * profiled so BOTH the cold-pair and star-expansion paths carry rows
    * at every test SF (band-bucket populations there peak at 4). */
  val minhashBandBucketCap = 2L

  /** CAPPED banded MinHash candidates (r15) — the production form at
    * adversarial duplicate density, completing the capped family
    * (embedding LSH r13, SimHash r14, MinHash now): a deep
    * exact-duplicate pile shares every band key, so the uncapped band
    * self-join owes Σ C(pile,2) candidate rows — the ×100 rehearsal
    * adjudicated `q_dedup_minhash` output-bound at 27.5× against
    * planted 100-deep piles. A (band, bh) bucket above `cap`
    * star-expands against its min-id representative instead of pairing
    * all-vs-all — O(|bucket|) candidates; exact-duplicate piles still
    * collapse downstream because every (rep, member) pair verifies at
    * jaccard 1.0 and the cluster step closes the component through the
    * rep (the same argument as the SimHash/embedding capped keys; a
    * hot bucket of merely-similar docs keeps only its rep edges — the
    * documented recall trade the cap buys its output bound with).
    *
    * Scale: only the HOT (band, bh) keys are broadcast (r16) — unlike
    * the SimHash twin, whose full count frame is bounded by the
    * ≤nBands·2^(32/nBands) keyspace, a MinHash band hash is md5 of the
    * band's signature slice, so the FULL count frame grows
    * ~nBands·|distinct docs| (≈4 B rows at 1 B docs — an executor OOM
    * as a forced broadcast). Every hot key owes >cap member rows, so
    * the hot subset is bounded by band-rows/cap regardless of corpus
    * size; cold membership is recovered by left-join +
    * coalesce(hot, false) — the [[graft.sim.Similarity.cappedLshBuckets]]
    * device. Cold pairs are the bounded band equi-join; star pairs are
    * O(corpus). */
  def bandedCandidatesCapped(sigs: DataFrame,
                             cap: Long = minhashBandBucketCap): DataFrame = {
    val keyed = sigs.select(col("doc_id"), explode(bandKeys(col("sig"))).as("k"))
      .select(col("doc_id"), col("k.band").as("band"), col("k.bh").as("bh"))
    // r16 fuse: the hot-key frame carries each hot bucket's min-id
    // REPRESENTATIVE out of the same aggregate that counts it — the
    // star expansion then reads `rep` off the broadcast row instead of
    // re-aggregating the hot membership and re-joining reps (one
    // Exchange + one join removed from the plan; guide §2.4). Output
    // unchanged: rep ≡ min(doc_id) per hot (band, bh) either way.
    val hotKeys = keyed.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("rep"))
      .filter(col("n") > cap)
      .select(col("band"), col("bh"), col("rep"))
    val tagged = keyed.join(broadcast(hotKeys), Seq("band", "bh"), "left")
    val cold = tagged.filter(col("rep").isNull)
    val coldPairs = cold
      .select(col("band"), col("bh"), col("doc_id").as("id_a"))
      .join(cold.select(col("band"), col("bh"), col("doc_id").as("id_b")),
        Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    // min-id rep < every other member: (rep, member) already canonical
    val starPairs = tagged.filter(col("rep").isNotNull)
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("doc_id").as("id_b"))
    coldPairs.unionAll(starPairs).distinct()
  }

  /** [[nearDupPairs]] with the capped candidate generator. */
  def nearDupPairsCapped(docs: DataFrame, w: Int = 3, minJaccard: Double = 0.6,
                         cap: Long = minhashBandBucketCap): DataFrame =
    verifyJaccard(bandedCandidatesCapped(minhashSignatures(docs, w), cap),
      docs, w, minJaccard)

  /** Driver gate for the capped MinHash band join. */
  def qDedupMinhashCapped(spark: SparkSession, dir: String): DataFrame =
    nearDupPairsCapped(Tables.documents(spark, dir))

  /** CAPPED corpus band table for the online near-dup ingest gate
    * (r16, verdict ask #3): (band, bh, corpus_id) rows an incoming
    * document's row-local band keys equi-join against. Shingles are
    * UNCAPPED (maxDf = 0) because the stream side cannot see document
    * frequencies; the table itself is capped — a (band, bh) bucket
    * above `cap` keeps only its min-id representative, so an incoming
    * doc hits at most one witness per pile (all an ingest DECISION
    * needs) and candidate emission stays O(new × bands) at any corpus
    * duplicate density. Hot keys only are broadcast (bounded by
    * band-rows/cap — the [[bandedCandidatesCapped]] device).
    *
    * Production refreshes this table OUT-OF-BAND (the
    * [[graft.sim.Similarity.saveIvfIndex]] precedent): build + save on
    * corpus updates, serve every ingest micro-batch from the loaded
    * parquet — the signature pass over the corpus is paid per refresh,
    * not per query. */
  def corpusBandTable(corpus: DataFrame, w: Int = 3,
                      cap: Long = minhashBandBucketCap): DataFrame = {
    val allBands = minhashSignaturesFromShingles(
        shingleRows(corpus, w, maxDf = 0))
      .select(col("doc_id").as("corpus_id"),
        explode(bandKeys(col("sig"))).as("k"))
      .select(col("k.band").as("band"), col("k.bh").as("bh"), col("corpus_id"))
    // r16 fuse (the bandedCandidatesCapped device): the hot-key
    // aggregate carries each hot bucket's min-id representative, which
    // IS the hot branch's entire output — no re-aggregation of the hot
    // membership, the hot rows come straight off the (bounded,
    // band-rows/cap) broadcast frame itself.
    val hotKeys = allBands.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("n"), min(col("corpus_id")).as("rep"))
      .filter(col("n") > cap)
      .select(col("band"), col("bh"), col("rep"))
    allBands.join(broadcast(hotKeys), Seq("band", "bh"), "left")
      .filter(col("rep").isNull).drop("rep")
      .unionAll(hotKeys.select(col("band"), col("bh"), col("rep").as("corpus_id")))
  }

  /** Persist [[corpusBandTable]] — the out-of-band refresh step. */
  def saveCorpusBandTable(corpus: DataFrame, dir: String, w: Int = 3,
                          cap: Long = minhashBandBucketCap): Unit =
    corpusBandTable(corpus, w, cap).write.mode("overwrite").parquet(dir)

  /** Load a persisted corpus band table for gate serving. */
  def loadCorpusBandTable(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)
      .select(col("band").cast("int"), col("bh"), col("corpus_id"))

  // ----------------------------------------------------- near-dup (SimHash)

  /** 32-bit SimHash over word hashes: per bit, sum +1/-1 weighted by
    * token occurrences; sign → bit. Token hash = [[baseHash60]] (md5-
    * derived), so fingerprints are engine-reproducible and the gate
    * keys carry full DuckDB oracles. */
  def simhash(toks: Column): Column = {
    val hashes = transform(toks, t => baseHash60(t))
    array((0 until 32).map { bit =>
      when(
        aggregate(hashes, lit(0L),
          (acc, h) => acc + when(shiftright(h, bit).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
          > 0, 1).otherwise(0)
    }: _*)
  }

  /** SimHash fingerprints for a whole corpus via the same explode +
    * codegen-aggregate shape as [[minhashSignatures]]: one row per
    * (doc, tokenHash) feeds 32 conditional-sum aggregates (±1 per bit),
    * partial-merged map-side; sign → bit. Occurrence-weighted (tokens
    * are NOT deduplicated, matching SimHash semantics). */
  def simhashFingerprints(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"),
      explode(transform(tokens(lower(col("text"))), t => baseHash60(t))).as("h"))
    val bitSums = (0 until 32).map(bit =>
      sum(when(shiftright(col("h"), bit).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
        .as(s"b$bit"))
    hashed.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        concat_ws("", (0 until 32).map(bit =>
          when(col(s"b$bit") > 0, "1").otherwise("0")): _*).as("sh"))
  }

  /** 32-bit SimHash fingerprints as a long column (doc_id, fp) — the
    * input shape for Hamming-band candidate joins. Same explode +
    * codegen-aggregate pipeline as [[simhashFingerprints]]. */
  def simhashFingerprintsLong(docs: DataFrame): DataFrame = {
    val hashed = docs.select(col("doc_id"),
      explode(transform(tokens(lower(col("text"))), t => baseHash60(t))).as("h"))
    val bitSums = (0 until 32).map(bit =>
      sum(when(shiftright(col("h"), bit).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
        .as(s"b$bit"))
    hashed.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(bit =>
          when(col(s"b$bit") > 0, lit(1L << bit)).otherwise(lit(0L)))
          .reduce(_ + _).as("fp"))
  }

  /** Hamming-band near-dup pairs over precomputed fingerprints: the
    * 32-bit fingerprint splits into `nBands` bands of 32/nBands bits;
    * by pigeonhole, two fingerprints within Hamming distance < nBands
    * MUST agree exactly on at least one band, so candidates come from
    * nBands equi-joins on (band, bits) keys — never an all-pairs
    * comparison — and are verified with an exact popcount
    * (`bit_count(xor)`). Guaranteed recall for distance ≤ nBands − 1;
    * pairs at distance in (nBands−1, maxHamming] are caught only if
    * their flips cluster outside one band. */
  /** Hot-bucket density budget for the UNCAPPED SimHash band join (r16
    * verdict ask #2, twin of [[minhashBandGuard]]): a 32-bit
    * fingerprint space collides hard under exact-duplicate piles (every
    * copy shares every band key), and the uncapped self-join owes
    * Σ C(pile, 2) pairs — the ×10 rehearsal measured q_dedup_simhash_
    * banded output-bound at 101.7× rows. Sized from measured
    * populations: sf0.1 max (band, bits) bucket = 748 (→ ~7.5 k at ×10,
    * ~75 k at ×100), so 16384 passes every test SF and the ×10 corpus,
    * and trips the ×100 planted piles immediately. */
  val simhashBandGuard = 16384L

  def simhashBandPairs(fps: DataFrame, maxHamming: Int = 3,
                       nBands: Int = 4,
                       guard: Long = simhashBandGuard): DataFrame = {
    require(32 % nBands == 0, s"nBands must divide 32, got $nBands")
    val width = 32 / nBands
    val mask = (1L << width) - 1
    // materialized once: both self-join sides reuse the banded keys
    val keyed = Checkpointer(fps.select(col("doc_id"), col("fp"),
      explode(array((0 until nBands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("fp"), b * width).bitwiseAND(lit(mask)).as("bits"))): _*))
        .as("k")))
    if (guard > 0)
      assertBandDensity(keyed, guard, "q_dedup_simhash_capped")
    keyed.select(col("k"), col("doc_id").as("id_a"), col("fp").as("fp_a"))
      .join(keyed.select(col("k"), col("doc_id").as("id_b"), col("fp").as("fp_b")), Seq("k"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("fp_a"), col("fp_b"))
      .distinct()
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("id_a", "id_b")
  }

  /** Hamming-band SimHash near-dup pairs for a document corpus. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   nBands: Int = 4): DataFrame =
    simhashBandPairs(simhashFingerprintsLong(docs), maxHamming, nBands)

  /** Per-bucket population cap for [[simhashBandPairsCapped]] /
    * q_dedup_simhash_capped — profiled so BOTH the cold-pair and the
    * star-expansion paths carry rows at every test SF. */
  val simhashBucketCap = 16L

  /** CAPPED Hamming-band pairs — the production form of
    * [[simhashBandPairs]] at adversarial duplicate density (r14): a
    * 32-bit fingerprint space collides hard when a corpus carries deep
    * exact-duplicate piles (every copy shares every band key), and the
    * uncapped band self-join then owes Σ C(pile,2) pair rows — the
    * ×100 rehearsal measured q_dedup_simhash_banded output-bound at
    * ~10⁴× pairs (its artifact note). Here a (band, bits) bucket whose
    * population exceeds `cap` STAR-EXPANDS against its min-id
    * representative instead of pairing all-vs-all — O(|bucket|) pairs,
    * the [[graft.sim.Similarity.embeddingNearDupPairsCappedFixed]]
    * device — while cold buckets keep the exact pairing. Members of a
    * hot pile still reach each other transitively through the rep (the
    * duplicate-CLUSTER step downstream closes the component, exactly
    * as in the capped embedding-LSH family).
    *
    * Scale: the hot map is a ≤nBands·2^(32/nBands)-row broadcast
    * (1024 rows at the default 4×8-bit geometry); cold pairs are the
    * bounded band equi-join; star pairs are O(corpus). Fully
    * SQL-expressible — counts, reps and the popcount verify all
    * mirror — so the key is DuckDB-oracled, unlike the capped
    * embedding key whose plane count is data-driven. */
  def simhashBandPairsCapped(fps: DataFrame, maxHamming: Int = 3,
                             nBands: Int = 4, cap: Long = simhashBucketCap): DataFrame = {
    require(32 % nBands == 0, s"nBands must divide 32, got $nBands")
    val width = 32 / nBands
    val mask = (1L << width) - 1
    val keyed = Checkpointer(fps.select(col("doc_id"), col("fp"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("fp"), b * width).bitwiseAND(lit(mask)).as("bits"))): _*))
          .as("k"))
      .select(col("doc_id"), col("fp"),
        col("k.band").as("band"), col("k.bits").as("bits")))
    // r16 fuse (the bandedCandidatesCapped device): the ≤1024-row count
    // frame carries each hot bucket's min-id representative AND its
    // fingerprint (`min_by(fp, doc_id)` — doc_id is unique per bucket,
    // so the pick is deterministic), so the star expansion reads both
    // off the broadcast row: the hot-membership re-aggregation and the
    // two rep joins are gone from the plan (guide §2.4).
    val counts = keyed.groupBy(col("band"), col("bits"))
      .agg((count(lit(1)) > cap).as("hot"),
        min(col("doc_id")).as("rep"), min_by(col("fp"), col("doc_id")).as("rep_fp"))
    val tagged = keyed.join(broadcast(counts), Seq("band", "bits"))
    val cold = tagged.filter(!col("hot"))
    val coldPairs = cold
      .select(col("band"), col("bits"), col("doc_id").as("id_a"), col("fp").as("fp_a"))
      .join(cold.select(col("band"), col("bits"),
        col("doc_id").as("id_b"), col("fp").as("fp_b")), Seq("band", "bits"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("fp_a"), col("fp_b"))
    // min-id rep < every other member: (rep, member) already canonical
    val starPairs = tagged.filter(col("hot"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("doc_id").as("id_b"),
        col("rep_fp").as("fp_a"), col("fp").as("fp_b"))
    coldPairs.unionAll(starPairs)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy("id_a", "id_b")
  }

  /** Driver gate for the capped SimHash band join. */
  def qDedupSimhashCapped(spark: SparkSession, dir: String): DataFrame =
    simhashBandPairsCapped(simhashFingerprintsLong(Tables.documents(spark, dir)))

  /** Hamming-banded SimHash near-dup on the driver gate — the production
    * path for fingerprint near-dup (pigeonhole-guaranteed recall for
    * distance < nBands, candidates from band equi-joins, popcount
    * verify — never all-pairs). Oracled (md5-derived fingerprints
    * reproduce in DuckDB; band split and popcount mirror as shift/
    * bit_count); 1-bit-flip and brute-force-parity properties in
    * TextOpsSpec cover semantics. */
  def qDedupSimhashBanded(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(Tables.documents(spark, dir))

  /** SimHash near-dup: exact-match on the 32-bit fingerprint (documents
    * differing in a few low-weight tokens collide). Grouping key is the
    * fingerprint → uniform shuffle. For Hamming-distance near-dups (a
    * few flipped bits) use [[simhashPairs]], whose banded join catches
    * distance ≤ nBands−1 with guaranteed recall. */
  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashFingerprints(Tables.documents(spark, dir))
      .groupBy(col("sh"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .select(col("keep_id"), col("n_docs"), col("sh"))
      .orderBy("keep_id")

  /** N-gram Jaccard near-dup over word trigram shingles — the oracled
    * variant of near-dup detection, in the fully relational shape:
    * explode shingles → equi-join probe×candidate on the shingle →
    * count matches per pair → jaccard = |∩| / (|A|+|B|−|∩|).
    *
    * This never materializes the cross product: only pairs sharing ≥1
    * shingle appear after the join (pairs with jaccard = 0 are excluded
    * by the > 0.1 filter anyway, so the result set is identical to the
    * nested-loop form the DuckDB oracle uses). At scale the join is a
    * hash shuffle on shingle strings — skew-free for natural text. */
  /** Shared pair engine for [[qDedupNgram]] and [[qDedupCluster]]'s edge
    * set: df-capped shingle rows → equi-join → per-pair intersection
    * count → jaccard. `probeFilter` bounds the probe side (None = full
    * corpus self-join, still shingle-keyed, never a cross product). */
  def ngramJaccardPairs(docs: DataFrame, w: Int, minJaccard: Double,
                        probeFilter: Option[Column],
                        maxDf: Long = shingleDfCap): DataFrame = {
    // With the df cap active, shingleRows already materialized the
    // stream — its output is a cheap broadcast anti-join over
    // checkpointed blocks, fine to recompute per consumer. Only the
    // uncapped full-corpus self-join (probeFilter=None) still needs the
    // stream pinned here: it consumes it three ways (counts, probe,
    // candidate side) and each would rebuild tokenize→shingle→explode.
    val shBase = shingleRows(docs, w, maxDf)
    val sh = if (probeFilter.isEmpty && maxDf <= 0) Checkpointer(shBase) else shBase
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val probe = probeFilter.fold(sh)(sh.filter)
    val inter = probe.select(col("doc_id").as("id_a"), col("s"))
      .join(sh.select(col("doc_id").as("id_b"), col("s")), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("ni"))
    inter
      .join(counts.select(col("doc_id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(counts.select(col("doc_id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(col("ni").cast("double") / (col("na") + col("nb") - col("ni")), 6)
          .as("jaccard"))
      .filter(col("jaccard") > minJaccard)
  }

  def qDedupNgram(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(Tables.documents(spark, dir), 3, 0.1,
      Some(col("doc_id") < 50))
      .orderBy("id_a", "id_b")

  /** Containment near-dup — the asymmetric regime Jaccard misses by
    * construction: a short document fully CONTAINED in a longer one
    * (quoted article, excerpt, truncated recrawl) has containment
    * |S(A)∩S(B)| / min(|S(A)|,|S(B)|) ≈ 1 while its Jaccard drowns in
    * the long side's union. Output keeps both scores so the gap is
    * visible per pair.
    *
    * Scale: the SAME df-capped shingle equi-join as [[ngramJaccardPairs]]
    * (never a cross product; hot boilerplate shingles dropped by the
    * broadcast anti-join before fan-out); with the cap active the
    * shingle stream is checkpointed once inside [[shingleRows]] and its
    * three consumers re-read cheap blocks. */
  def containmentPairs(docs: DataFrame, w: Int = 3,
                       minContainment: Double = 0.9,
                       maxDf: Long = shingleDfCap): DataFrame = {
    val sh = shingleRows(docs, w, maxDf)
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.select(col("doc_id").as("id_a"), col("s"))
      .join(sh.select(col("doc_id").as("id_b"), col("s")), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("ni"))
    inter
      .join(counts.select(col("doc_id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(counts.select(col("doc_id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(col("ni").cast("double") / least(col("na"), col("nb")), 6)
          .as("containment"),
        round(col("ni").cast("double") / (col("na") + col("nb") - col("ni")), 6)
          .as("jaccard"))
      .filter(col("containment") >= minContainment)
  }

  /** Twin-id offset for [[qDedupContainment]]'s planted excerpts. 2^40
    * so twin ids cannot collide with real doc_ids on any corpus this
    * demo key would run on (a collision would silently merge two docs'
    * shingle sets IDENTICALLY in both engines — the oracle can't catch
    * it); [[containmentPairs]] itself takes caller ids as-is and has no
    * collision hazard. */
  val containmentTwinOffset: Long = 1L << 40

  /** Gate key: every 31st document gets a planted 25-token-prefix twin
    * (doc_id + [[containmentTwinOffset]]) — an excerpt whose shingles
    * are a strict subset of the original's, so containment = 1.0 while
    * jaccard stays low. The derivation reproduces verbatim in the
    * oracle SQL. */
  def qDedupContainment(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val prefixes = docs.filter(col("doc_id") % 31 === 0)
      .select((col("doc_id") + containmentTwinOffset).as("doc_id"),
        concat_ws(" ", slice(tokens(col("text")), 1, 25)).as("text"))
    // w = 5: an excerpt still shares ALL its 5-shingles with the
    // original (containment unchanged at 1.0), but 5-grams are far
    // rarer than trigrams, so the self-join pair fan-out — the only
    // corpus-quadratic term — collapses (measured 3.9 → ~1 s at sf0.1)
    containmentPairs(docs.union(prefixes), w = 5).orderBy("id_a", "id_b")
  }

  /** Span length (tokens) for exact-substring dedup. */
  val substringSpanTokens = 20

  /** Exact-substring duplicate pairs — the "deduplicating training
    * data" (Lee et al. 2021) detection regime: two documents are
    * flagged when they share ANY exact `w`-token span, regardless of
    * overall similarity. Catches copied paragraphs inside
    * otherwise-distinct documents, which Jaccard near-dup misses by
    * construction (one shared span among ~80 shingles is jaccard
    * ≈ 0.01, far under any threshold). Output: (id_a, id_b,
    * n_shared_spans).
    *
    * Scale: the SAME df-capped shingle equi-join as the ngram family —
    * long spans are rarer than trigrams, so the join is strictly
    * cheaper than the w=3 form; boilerplate spans above the df cap are
    * dropped by the broadcast anti-join before they can go quadratic. */
  def substringDupPairs(docs: DataFrame, w: Int = substringSpanTokens,
                        maxDf: Long = shingleDfCap): DataFrame = {
    // join on the span DIGEST: the self-join shuffle carries 16-byte
    // hashes instead of ~6·w-byte span strings (at 100 TB the spans
    // dominate the exchange otherwise); md5 keeps the oracle exact —
    // DuckDB computes identical digests
    val sh = shingleRows(docs, w, maxDf)
      .select(col("doc_id"), md5(col("s")).as("h"))
    sh.select(col("doc_id").as("id_a"), col("h"))
      .join(sh.select(col("doc_id").as("id_b"), col("h")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared_spans"))
  }

  def qDedupSubstring(spark: SparkSession, dir: String): DataFrame =
    substringDupPairs(Tables.documents(spark, dir))
      .orderBy("id_a", "id_b")

  /** Duplicate-cluster assignment — the step after candidate pairs that
    * an actual training-data pipeline needs: connected components over
    * the near-dup graph, one row per document with its cluster's min id
    * and a keep flag (keep exactly the min-id survivor per cluster).
    * Edges here are the deterministic full-corpus ngram graph at
    * jaccard > 0.5, so the key is DuckDB-oracle-able (recursive CTE);
    * the same [[graft.graph.ConnectedComponents.run]] consumes MinHash/
    * SimHash pair output unchanged. */
  def qDedupCluster(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val edges = ngramJaccardPairs(docs, 3, 0.5, None)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val nodes = docs.select(col("doc_id").as("id"))
    graft.graph.ConnectedComponents.run(edges, nodes)
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
        (col("id") === col("lbl")).as("keep"))
      .orderBy("doc_id")
  }

  /** Cluster assignment over MinHash-banded edges — the 100 TB shape of
    * [[qDedupCluster]]: edge generation is document-linear (signatures +
    * band equi-join, [[nearDupPairs]]) instead of token-linear (the
    * exact shingle self-join the oracled key uses, ~100× more shuffle at
    * scale), and [[graft.graph.ConnectedComponents.run]] consumes the
    * pair output unchanged. Oracled (md5-derived minhash edges are
    * engine-reproducible → recursive-CTE CC in DuckDB); planted-cluster
    * property in TextOpsSpec. */
  def qDedupClusterBanded(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val edges = nearDupPairs(docs, 3, 0.6)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val nodes = docs.select(col("doc_id").as("id"))
    graft.graph.ConnectedComponents.run(edges, nodes)
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
        (col("id") === col("lbl")).as("keep"))
      .orderBy("doc_id")
  }

  /** [[qDedupClusterBanded]] with the O(log n)-round large-star/
    * small-star CC core instead of min-label propagation — the variant
    * you'd pick when cluster diameters are unknown (chained near-dups,
    * e.g. drifting boilerplate, can make diameter O(corpus)). Same edge
    * generation, same output contract — and the same oracle as the
    * banded key (both algorithms reach the identical min-label
    * fixpoint). */
  def qDedupClusterStar(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val edges = nearDupPairs(docs, 3, 0.6)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val nodes = docs.select(col("doc_id").as("id"))
    graft.graph.ConnectedComponents.runStar(edges, nodes)
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
        (col("id") === col("lbl")).as("keep"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------------- language ID

  /** Tiny n-gram-profile language scorer: marker-term hit counts per
    * language; argmax wins, 'und' (undetermined) when nothing matches.
    * Profiles are literal so the op is deterministic and broadcast-free.
    * (The synthetic corpus shares one vocabulary across langs, so this is
    * exercised properly in LangIdSpec with real-language samples.) */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "ist", "nicht"),
    "es" -> Seq("el", "la", "que", "de", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))

  def langScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => array_contains(typedLit(markers), t)))

  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val langs = langMarkers.keys.toSeq.sorted
    val scored = langs.map(l => struct(langScore(toks, langMarkers(l)).as("s"), lit(l).as("l")))
    val best = greatest(scored: _*)
    when(best.getField("s") > 0, best.getField("l")).otherwise("und")
  }

  def qLangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), langId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  // -------------------------------------------- unigram LM quality score

  /** Unigram log-likelihood quality score — the perplexity-filter proxy
    * corpus pipelines run when a real LM is too expensive for a first
    * pass: score every document by the mean negative log-probability of
    * its tokens under the corpus unigram distribution. Repetitious /
    * template text (common tokens) scores LOW, rare-token line noise
    * scores HIGH; both tails get cut.
    *
    * Scale shape: the vocabulary is a corpus-wide hash aggregate
    * (term-keyed, combiner-reduced map-side); per-token costs come from
    * an equi-join of the token stream to the vocab on term — at 100 TB
    * the vocab of a cleaned corpus is millions of rows, so this is a
    * plain shuffle join (broadcast only if you cap the vocab). The
    * corpus total is a one-row broadcast. Per-token costs are rounded
    * to 6 dp and summed as DECIMAL so the doc score is independent of
    * addition order (the BM25 device). */
  def unigramScores(docs: DataFrame): DataFrame = {
    // r16: collapse the token stream to per-doc (t, k) multiplicity rows
    // BEFORE anything shuffles — the (doc_id, t) aggregate is map-side
    // combined, so the vocabulary join and the per-doc sum both move
    // |distinct tokens per doc| rows instead of the raw token stream
    // (guide §2.3 "aggregate before you shuffle"). The score is EXACTLY
    // unchanged: k copies of round(-ln(c/n), 6) summed as DECIMAL(18,6)
    // ≡ round(-ln(c/n), 6) × k in decimal arithmetic (scale-6 value
    // times an exact integer), and n_tokens = Σk.
    val tk = docs.select(col("doc_id"), explode(tokens(lower(col("text")))).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("k"))
    val tf = tk.groupBy(col("t")).agg(sum(col("k")).as("c"))
    val tot = tf.agg(sum(col("c")).as("n"))
    val cost = tk.join(tf, Seq("t")).crossJoin(broadcast(tot))
      .select(col("doc_id"), col("k"),
        (round(-log(col("c").cast("double") / col("n").cast("double")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)) * col("k")).as("nll"))
    cost.groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"), sum(col("nll")).as("snll"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("snll").cast("double") / col("n_tokens"), 6).as("avg_nll"))
  }

  def qQualityUnigram(spark: SparkSession, dir: String): DataFrame =
    unigramScores(Tables.documents(spark, dir)).orderBy("doc_id")

  /** Tail cut over the unigram scores — the perplexity-filter DECISION
    * step (CCNet/Gopher regime): documents in the bottom decile of
    * avg_nll (too predictable: templates, boilerplate) and the top
    * decile (too surprising: line noise, rare-token salad) get flagged;
    * the middle mass trains. Cuts are exact interpolated percentiles
    * (Spark `percentile` ≡ DuckDB `quantile_cont`, parity proven by
    * q_percentile) rounded to 6 dp so both engines compare scores
    * against the identical cut double.
    *
    * Scale shape: the cuts are a one-row aggregate broadcast back over
    * the scores — no global sort, no window; at 100 TB swap the exact
    * percentile for approx_percentile with the same broadcast shape
    * (the decision join is unchanged). */
  def qualityTails(docs: DataFrame): DataFrame = {
    // (r16 measured dead end, do not redo: materializing `scores` via
    // localCheckpoint costs MORE than the lazy double-consumption —
    // the cut aggregate and the rejoin share every exchange of the
    // unigram pipeline via ReusedExchange, so the "recompute" the
    // checkpoint would save is already one post-shuffle pass; 0.98 →
    // 1.13 s at sf0.1.)
    val scores = unigramScores(docs)
    val cuts = scores.agg(
      round(expr("percentile(avg_nll, 0.1)"), 6).as("p10"),
      round(expr("percentile(avg_nll, 0.9)"), 6).as("p90"))
    scores.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("avg_nll"),
        when(col("avg_nll") <= col("p10"), "low")
          .when(col("avg_nll") >= col("p90"), "high")
          .otherwise("mid").as("tail"))
  }

  def qQualityTails(spark: SparkSession, dir: String): DataFrame =
    qualityTails(Tables.documents(spark, dir)).orderBy("doc_id")

  /** Per-source adaptive tail cuts — [[qualityTails]] with the p10/p90
    * thresholds computed PER SOURCE instead of globally: a global cut
    * systematically guts whichever domain scores high (legalese reads
    * as "bad" next to chat text), so production gates adapt thresholds
    * to each domain's own score distribution. The cuts are emitted per
    * row so the adaptive thresholds are visible in the output.
    *
    * Scale shape: the grouped exact-percentile aggregate shuffles one
    * narrow (source, avg_nll) row per doc; the cuts frame is |sources|
    * rows broadcast back over the score stream. At 100 TB swap the
    * exact percentile for the q_approx_percentile GK sketch — the plan
    * shape (grouped agg + broadcast rejoin) is unchanged. */
  def qualityTailsBySource(docs: DataFrame): DataFrame = {
    val scores = unigramScores(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val cuts = scores.groupBy(col("source")).agg(
      round(expr("percentile(avg_nll, 0.1)"), 6).as("p10"),
      round(expr("percentile(avg_nll, 0.9)"), 6).as("p90"))
    scores.join(broadcast(cuts), Seq("source"))
      .select(col("doc_id"), col("source"), col("avg_nll"),
        col("p10"), col("p90"),
        when(col("avg_nll") <= col("p10"), "low")
          .when(col("avg_nll") >= col("p90"), "high")
          .otherwise("mid").as("tail"))
  }

  def qQualityTailsBySource(spark: SparkSession, dir: String): DataFrame =
    qualityTailsBySource(Tables.documents(spark, dir)).orderBy("doc_id")

  /** Bigram-LM quality score (r11) — one modeling step past
    * [[unigramScores]], the same step CCNet-style pipelines take before
    * paying for a real LM: score each document by the mean −ln p(b|a)
    * of its token bigrams under the corpus bigram distribution, with
    * p(b|a) = c(a,b)/c(a,·) estimated from the corpus itself (so every
    * scored bigram has c ≥ 1 — no smoothing needed, as with the unigram
    * key). Repetitive text (predictable continuations) scores LOW; word
    * salad scores HIGH — and unlike the unigram score this catches
    * scrambled-but-common-words junk, which unigrams can't.
    *
    * Scale shape: identical to [[unigramScores]] one level up — the
    * bigram table is a corpus-wide hash aggregate keyed on (a,b), the
    * history marginal on (a); per-token costs come from two equi-joins
    * of the bigram stream, DECIMAL-summed per doc so the score is
    * addition-order-proof. Single-token docs have no bigrams and drop
    * out (both engines). */
  def bigramScores(docs: DataFrame): DataFrame = {
    val toks = tokens(lower(col("text")))
    val pairs = docs
      .select(col("doc_id"),
        explode(zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("bg"))
      .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b"))
    // r16: the unigramScores multiplicity device one level up — collapse
    // to per-doc (a, b, k) rows before the two vocabulary joins, so they
    // and the final per-doc sum move |distinct bigrams per doc| rows
    // instead of the raw bigram stream; k copies of the scale-6 decimal
    // cost ≡ cost × k exactly, n_bigrams = Σk.
    val keyed = pairs.groupBy(col("doc_id"), col("a"), col("b"))
      .agg(count(lit(1)).as("k"))
    val bf = keyed.groupBy(col("a"), col("b")).agg(sum(col("k")).as("cab"))
    val af = keyed.groupBy(col("a")).agg(sum(col("k")).as("ca"))
    val cost = keyed.join(bf, Seq("a", "b")).join(af, Seq("a"))
      .select(col("doc_id"), col("k"),
        (round(-log(col("cab").cast("double") / col("ca").cast("double")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)) * col("k")).as("nll"))
    cost.groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"), sum(col("nll")).as("snll"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("snll").cast("double") / col("n_bigrams"), 6).as("avg_nll"))
  }

  def qQualityBigram(spark: SparkSession, dir: String): DataFrame =
    bigramScores(Tables.documents(spark, dir)).orderBy("doc_id")

  /** Overlapping token-window chunking (r11) — the retrieval/embedding
    * prep step: split each document into `window`-token chunks every
    * `stride` tokens (overlap = window − stride keeps context across
    * boundaries). One row per (doc, chunk) with the chunk text
    * re-joined — the unit a downstream embedder consumes.
    *
    * Scale shape: pure per-row expression work (split → explode of the
    * start-offset sequence → slice), no joins, no corpus state — the
    * shuffle is only the output ORDER BY; chunk count per doc is
    * ⌈len/stride⌉ so output size is corpus-linear. */
  def chunkOverlap(docs: DataFrame, window: Int = 50, stride: Int = 40): DataFrame = {
    val toks = tokens(col("text"))
    docs
      .select(col("doc_id"), toks.as("l"))
      .select(col("doc_id"), col("l"),
        explode(sequence(lit(0), greatest(size(col("l")) - 1, lit(0)), lit(stride))).as("st"))
      .select(
        col("doc_id"),
        (col("st") / stride).cast("int").as("chunk_id"),
        size(slice(col("l"), col("st") + 1, lit(window))).as("n_tokens"),
        concat_ws(" ", slice(col("l"), col("st") + 1, lit(window))).as("chunk_text"))
  }

  def qChunkOverlap(spark: SparkSession, dir: String): DataFrame =
    chunkOverlap(Tables.documents(spark, dir)).orderBy("doc_id", "chunk_id")

  /** DSIR-lite importance weighting (r11) — hashed-n-gram data selection
    * (the DSIR recipe: importance weight = likelihood ratio between a
    * target and the raw-source distribution over hashed n-gram feature
    * buckets). Here: unigram tokens hashed into `buckets` via the
    * engine-portable [[baseHash60]], target = the corpus's `lang='en'`
    * slice, source = the whole corpus, add-1 smoothing over the bucket
    * domain. Per-doc log-weight = Σ ln(p_t(b)/p_s(b)) over its tokens,
    * per-bucket terms rounded to 6 dp and summed as DECIMAL so the
    * weight is addition-order-proof; `selected` = weight > 0 (doc looks
    * more target-like than source-like).
    *
    * Scale shape: the bucket tables are FIXED-width corpus aggregates
    * (≤ `buckets` rows — broadcast-joined back to the token stream), so
    * the only corpus-sized shuffles are the token-bucket agg and the
    * per-doc sum; at 100 TB swap the target slice for a curated seed
    * corpus, same plan. */
  def dsirWeights(docs: DataFrame, buckets: Int = 256): DataFrame = {
    // r16: collapse the exploded stream to per-doc (b, k) multiplicity
    // rows FIRST (map-side combined) — the old lazy `tk` projection had
    // no exchange, so its two consumers each re-ran the explode AND the
    // per-token md5 bucket hash over the whole corpus; the aggregate
    // below is one exchange that both consumers REUSE, and the rates
    // join + per-doc sum move |distinct buckets per doc| (≤256) rows
    // per doc instead of the raw token stream (guide §2.3/§2.4).
    // Scores are exactly unchanged: Σ llr_b over tokens ≡ Σ_b k·llr_b
    // (scale-6 decimal × exact integer), n_tokens = Σk.
    val tk = docs
      .select(col("doc_id"), col("lang"),
        explode(tokens(lower(col("text")))).as("t"))
      .withColumn("b", pmod(baseHash60(col("t")), lit(buckets.toLong)))
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("k"))
    val stats = tk.groupBy(col("b")).agg(
      sum(col("k")).as("cs"),
      sum(when(col("lang") === "en", col("k")).otherwise(lit(0L))).as("ct"))
    val totals = stats.agg(sum(col("cs")).as("ns"), sum(col("ct")).as("nt")) // ≤`buckets` rows in
    val rates = stats
      .crossJoin(broadcast(totals))
      .select(col("b"),
        round(log(
          ((col("ct") + 1).cast("double") / (col("nt") + buckets)) /
            ((col("cs") + 1).cast("double") / (col("ns") + buckets))), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("llr_b"))
    tk.join(broadcast(rates), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"), sum(col("llr_b") * col("k")).as("sllr"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("sllr").cast("double"), 6).as("llr"),
        (col("sllr") > 0).cast("int").as("selected"))
  }

  def qDsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeights(Tables.documents(spark, dir)).orderBy("doc_id")

  // --------------------------------------------- per-source KL drift

  /** Per-source distribution drift — the mixing diagnostic a corpus
    * team watches when a new crawl lands: KL(source ‖ corpus) over the
    * same 256-bucket hashed-unigram space as [[dsirWeights]] (add-1
    * smoothed on both sides, so empty buckets are defined). A source
    * whose KL jumps between snapshots changed character (spam influx,
    * template shift) before any quality score moves.
    *
    * Scale shape: ONE corpus token pass ends at the (source, bucket)
    * hash aggregate — map-side combine caps each mapper's output at
    * |sources|·256 narrow rows, and everything after (corpus marginals,
    * source totals, the 256-term KL sum) runs on that ≤ |sources|·256-row
    * frame; nothing rejoins the corpus. Per-term ROUND(·, 9) then
    * DECIMAL(18,9) summation makes the 256-term sum addition-order-proof
    * (the [[dsirWeights]] device, one digit-budget finer because KL
    * terms carry a p·ln p factor that 6 dp would flatten). */
  def domainShift(docs: DataFrame, buckets: Int = 256): DataFrame = {
    val nb = buckets.toLong
    val per = docs
      .select(col("source"), explode(tokens(lower(col("text")))).as("t"))
      .withColumn("b", pmod(baseHash60(col("t")), lit(nb)))
      .groupBy(col("source"), col("b")).agg(count(lit(1)).as("c"))
    val corpus = per.groupBy(col("b")).agg(sum(col("c")).as("cc"))
    val totals = per.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val grand = corpus.agg(sum(col("cc")).as("n"))
    // smoothed KL needs the FULL source × 256-bucket grid: an empty
    // bucket still contributes p_s·ln(p_s/p) > 0 on BOTH sides (dropping
    // corpus-absent buckets biases KL negative on sparse fixtures), so
    // the bucket axis is range(0, 256), not the observed bucket set
    val allB = docs.sparkSession.range(0, buckets.toLong)
      .select(col("id").as("b"))
      .join(corpus, Seq("b"), "left").na.fill(0L, Seq("cc"))
    val grid = per.select(col("source")).distinct().crossJoin(broadcast(allB))
    val ps = ((coalesce(col("c"), lit(0L)) + 1).cast("double") / (col("n_s") + nb))
    val pc = ((col("cc") + 1).cast("double") / (col("n") + nb))
    grid
      .join(per, Seq("source", "b"), "left")
      .join(broadcast(totals), Seq("source"))
      .crossJoin(broadcast(grand))
      .select(col("source"), col("n_s"),
        round(ps * log(ps / pc), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("term"))
      .groupBy(col("source"), col("n_s"))
      .agg(round(sum(col("term")).cast("double"), 6).as("kl"))
      .select(col("source"), col("n_s").as("n_tokens"), col("kl"))
  }

  def qDomainShift(spark: SparkSession, dir: String): DataFrame =
    domainShift(Tables.documents(spark, dir)).orderBy("source")

  /** PSI bins (equal-width over document length) and bin width. */
  val psiBins = 10
  val psiBinWidth = 64

  /** q_psi — population stability index between the REAL train and val
    * splits (the q_split_assign md5 cut) over document-length bins:
    * per bin, both split counts, smoothed frequencies, and the PSI
    * term (p_t − p_v)·ln(p_t/p_v), plus the total. The industry twin
    * of q_domain_shift's KL — domain_shift asks "did a SOURCE change
    * character between crawls", PSI asks "do my SPLITS still look like
    * each other" (rule of thumb: > 0.2 = the split is stale or the
    * assignment broke). Add-0.5 smoothing keeps empty bins finite on a
    * fixed [[psiBins]]-bin spine so both engines pair every bin.
    *
    * Scale shape: one corpus pass ends at the ≤ 2·[[psiBins]]-cell
    * conditional aggregate; the bin spine, split totals, and the
    * DECIMAL-exact PSI total are all bounded broadcasts. */
  /** q_ks_test — two-sample Kolmogorov-Smirnov statistic between the
    * REAL train and val splits (the q_split_assign md5 cut) over
    * document length: D = max |ECDF_train − ECDF_val|, with the
    * smallest length attaining it. The bin-free sibling of [[qPsi]]:
    * PSI fixes 10 equal-width bins a priori (a shift inside one bin is
    * invisible), KS compares the full distributions exactly — the
    * classic split-drift significance screen.
    *
    * Scale shape: the corpus pass ends at the distinct-length
    * conditional aggregate (bounded by the length domain, the
    * q_auc_exact device); cumulative counts are one window over that
    * frame. Exactness: D's argmax is selected on the INTEGER
    * cross-product |cum_a·n_b − cum_b·n_a| (DECIMAL(38,0) against
    * overflow at extreme counts) so float division cannot reorder
    * candidates; ties broken by the smaller length; one final double
    * division. */
  def qKsTest(spark: SparkSession, dir: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    val byLen = Tables.documents(spark, dir)
      .select(
        Sampling.splitAssign(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"),
        length(col("text")).cast("long").as("len"))
      .filter(col("split").isin("train", "val"))
      .groupBy(col("len"))
      .agg(sum((col("split") === "train").cast("long")).as("a"),
        sum((col("split") === "val").cast("long")).as("b"))
    val upTo = Window.orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byLen.agg(sum(col("a")).as("n_train"), sum(col("b")).as("n_val"))
    byLen
      .withColumn("ca", sum(col("a")).over(upTo))
      .withColumn("cb", sum(col("b")).over(upTo))
      .crossJoin(broadcast(tot))
      .withColumn("diff2",
        abs(col("ca").cast(d38) * col("n_val").cast(d38)
          - col("cb").cast(d38) * col("n_train").cast(d38)))
      .orderBy(col("diff2").desc, col("len"))
      .limit(1)
      .select(col("n_train"), col("n_val"), col("len").as("at_len"),
        round(col("diff2").cast("double") /
          (col("n_train").cast("double") * col("n_val").cast("double")),
          9).as("d_stat"))
  }

  def qPsi(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(
        Sampling.splitAssign(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"),
        least(floor(length(col("text")) / psiBinWidth), lit((psiBins - 1).toLong))
          .cast("int").as("bin"))
      .filter(col("split").isin("train", "val"))
      .groupBy(col("bin"))
      .agg(sum((col("split") === "train").cast("long")).as("n_train"),
        sum((col("split") === "val").cast("long")).as("n_val"))
    val spine = spark.range(psiBins).select(col("id").cast("int").as("bin"))
    val filled = spine.join(broadcast(counts), Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        coalesce(col("n_val"), lit(0L)).as("n_val"))
    val totals = filled.agg(sum(col("n_train")).as("nt"), sum(col("n_val")).as("nv"))
    val pT = (col("n_train").cast("double") + lit(0.5)) /
      (col("nt").cast("double") + lit(0.5 * psiBins))
    val pV = (col("n_val").cast("double") + lit(0.5)) /
      (col("nv").cast("double") + lit(0.5 * psiBins))
    val terms = filled.crossJoin(broadcast(totals))
      .select(col("bin"), col("n_train"), col("n_val"),
        round(pT, 6).as("p_train"), round(pV, 6).as("p_val"),
        round((pT - pV) * log(pT / pV), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("term"))
    val total = terms.agg(round(sum(col("term")).cast("double"), 6).as("psi_total"))
    terms
      .select(col("bin"), col("n_train"), col("n_val"), col("p_train"),
        col("p_val"), col("term").cast("double").as("psi_term"))
      .crossJoin(broadcast(total))
      .orderBy("bin")
  }

  /** q_source_concentration — corpus mixing health in one readout: per
    * source its document share, plus the corpus-level concentration
    * scalars repeated on every row — Herfindahl–Hirschman index
    * (Σ share²), Shannon entropy (−Σ share·ln share) and the effective
    * source count (e^entropy). The ONE-GLANCE diagnostic behind the
    * q_domain_mix/q_domain_cap machinery: a pipeline whose effective
    * source count collapses toward 1 is training on a single domain no
    * matter how many sources its manifest lists.
    *
    * Scale shape: one map-side-combined source count; every scalar
    * derives from the ≤ |sources| frame with ROUND(,9)→DECIMAL terms so
    * the folds are order-proof; one-row broadcast back. */
  def qSourceConcentration(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("n_total"))
    val share = col("n").cast("double") / col("n_total").cast("double")
    val terms = counts.crossJoin(broadcast(total))
      .select(col("source"), col("n"), round(share, 6).as("share"),
        round(share * share, 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("hhi_term"),
        round(-share * log(share), 9)
          .cast(org.apache.spark.sql.types.DecimalType(18, 9)).as("ent_term"))
    val scalars = terms.agg(
      round(sum(col("hhi_term")).cast("double"), 6).as("hhi"),
      round(sum(col("ent_term")).cast("double"), 6).as("entropy"),
      round(exp(sum(col("ent_term")).cast("double")), 6).as("effective_sources"))
    terms.select(col("source"), col("n"), col("share"))
      .crossJoin(broadcast(scalars))
      .orderBy("source")
  }

  /** Ingest-prefix buckets for [[qVocabGrowth]]. */
  val vocabBuckets = 10

  /** q_vocab_growth — Heaps'-law vocabulary growth curve: distinct
    * vocabulary size after each tenth of the corpus (hash-order
    * "ingest"), with cumulative token counts — the capacity-planning
    * curve behind every vocabulary-keyed structure in this repo (CMS
    * width, DSIR buckets, BPE merge tables): does vocab saturate or
    * keep growing? The one-pass trick: a prefix-cumulative distinct
    * needs no 10 rescans — each token's FIRST-appearance bucket is one
    * min-aggregate over the vocab, and V(k) is then a 10-row
    * cumulative sum of first-appearance counts.
    *
    * Scale shape: the corpus pass ends at the (token) min/count agg;
    * everything after runs on ≤ |vocab| then ≤ [[vocabBuckets]] rows.
    * Buckets are md5-derived (the snapshot-diff device), so "ingest
    * order" is reproducible on both engines. */
  def qVocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val hb = pmod(baseHash60(concat(lit("vg:"), col("doc_id").cast("string"))),
      lit(vocabBuckets.toLong)).cast("int")
    val tok = Tables.documents(spark, dir)
      .select(hb.as("hb"), explode(tokens(lower(col("text")))).as("t"))
      .filter(col("t") =!= "")
    val perTok = tok.groupBy(col("t"))
      .agg(min(col("hb")).as("first_hb"), count(lit(1)).as("n"))
    // tokens-per-bucket needs the raw stream (a token's occurrences span
    // buckets); new-vocab-per-bucket reads the first-appearance agg
    val tokPerB = tok.groupBy(col("hb")).agg(count(lit(1)).as("n_tokens"))
    val newPerB = perTok.groupBy(col("first_hb").as("hb"))
      .agg(count(lit(1)).as("n_new_vocab"))
    val w = Window.orderBy(col("hb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokPerB.join(newPerB, Seq("hb"), "left")
      .select(col("hb"), col("n_tokens"),
        coalesce(col("n_new_vocab"), lit(0L)).as("n_new_vocab"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_vocab", sum(col("n_new_vocab")).over(w))
      .select(col("hb").as("bucket"), col("n_tokens"), col("n_new_vocab"),
        col("cum_tokens"), col("cum_vocab"),
        round(log(col("cum_vocab").cast("double")) /
          log(col("cum_tokens").cast("double")), 6).as("heaps_beta"))
      .orderBy("bucket")
  }

  // ------------------------------------------------------- PII scrubbing

  /** Portable PII regexes: plain character classes only — no
    * lookaround, no backrefs — so Java regex (Spark) and RE2 (DuckDB)
    * agree token for token. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  val urlRe = "https?://[A-Za-z0-9./_%+#?=&-]+"

  /** PII scrubbing — the redaction pass an LLM training pipeline runs
    * before anything else ships: emails and URLs replaced by typed
    * placeholders, with per-document redaction counts for audit. The
    * synthetic corpus contains no PII, so every 7th document gets a
    * deterministic doc_id-derived email+URL injected FIRST (identical
    * expression in the oracle SQL) — the scrubber is exercised on real
    * matches, not vacuously green.
    *
    * Scale shape: one codegen'd regex pass per row, zero shuffles
    * before the output sort; the cleaned text is md5-compressed so the
    * result stays narrow (the full cleaned corpus would be written to a
    * sink, not compared). */
  def scrubPii(docs: DataFrame, textCol: Column): DataFrame = {
    val cleaned = regexp_replace(
      regexp_replace(textCol, emailRe, "<EMAIL>"), urlRe, "<URL>")
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(textCol, lit(emailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(textCol, lit(urlRe), lit(0))).as("n_urls"),
      md5(cleaned).as("clean_md5"))
  }

  def qScrubPii(spark: SparkSession, dir: String): DataFrame = {
    val injected = when(col("doc_id") % 7 === 0,
      concat(lit("contact user"), col("doc_id").cast("string"),
        lit("@example.com via https://example.org/u/"),
        col("doc_id").cast("string"), lit(" "), col("text")))
      .otherwise(col("text"))
    scrubPii(Tables.documents(spark, dir), injected).orderBy("doc_id")
  }

  // ------------------------------------------------------ decontamination

  /** Eval-set fraction shared by the decontamination gate key and its
    * oracle (the same 10% hash sample as q_sample_hash). */
  val decontamEvalFraction = 0.10
  /** Contamination flag threshold: fraction of a train doc's shingles
    * that also occur in the eval set. */
  val decontamThreshold = 0.05

  /** Train/eval overlap detection — the decontamination pass every LLM
    * training pipeline runs before training: any w-shingle that occurs
    * in the held-out (eval) split marks the training documents that
    * contain it. The eval split is the deterministic content-hash sample
    * ([[Sampling.inSample]]), so both membership and overlap are exactly
    * reproducible across engines and runs.
    *
    * Scale shape: one df-capped shingle scan ([[shingleRows]] — the cap
    * also kills boilerplate shingles that would flag everything), split
    * by the hash predicate into eval/train WITHOUT a join; the distinct
    * eval shingle set is broadcast (eval sets are small by design — if
    * yours is not, drop the hint and this is a plain shingle-keyed
    * equi-join). Output is per-TRAIN-doc: total shingles, shingles also
    * in eval, contamination fraction, flag. */
  def decontaminationReport(docs: DataFrame, isEval: Column, w: Int,
                            threshold: Double = decontamThreshold,
                            maxDf: Long = shingleDfCap): DataFrame = {
    val sh = shingleRows(docs, w, maxDf)
    val evalSh = sh.filter(isEval).select(col("s")).distinct()
    val trainSh = sh.filter(!isEval)
    val totals = trainSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val contaminated = trainSh.join(broadcast(evalSh), Seq("s"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    val frac = coalesce(col("n_contaminated"), lit(0L)).cast("double") / col("n_shingles")
    totals.join(contaminated, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        round(frac, 6).as("contamination"),
        (frac > threshold).as("flagged"))
  }

  def qDecontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminationReport(Tables.documents(spark, dir),
      Sampling.inSample(col("doc_id"), decontamEvalFraction), 3)
      .orderBy("doc_id")

  // ------------------------------------------- repetition quality (Gopher)

  /** Gopher-rule thresholds (Rae et al. 2021 §A1.1 use per-n-gram caps
    * of this shape): flag when the single most frequent bigram exceeds
    * 20% of all bigrams, or over half the trigrams are repeats. */
  val repTopBigramMax = 0.2
  val repDupTrigramMax = 0.5

  /** Repetition-based quality filter — the Gopher-style "repetitious
    * document" signals: top-bigram concentration and duplicate-trigram
    * fraction. Machine-generated/spammy text scores high on both; the
    * type-token ratio in [[qQualityScore]] misses exactly this failure
    * mode (a document looping 50 distinct words still has high TTR).
    *
    * Scale shape (r16 split): the BIGRAM concentration needs a
    * per-gram multiplicity, so it stays the explode → two-phase hash
    * aggregation keyed on (doc_id, gram) — partial map-side combine
    * absorbs the explosion (each document lives in one input
    * partition, so the map side already reduces to per-doc distinct
    * grams). The TRIGRAM signal needs only counts of elements vs
    * DISTINCT elements — both single native array functions — so it is
    * computed ROW-LOCALLY (`size` / `size ∘ array_distinct`) in one
    * codegen pass over the corpus: no second explode, no per-doc
    * countDistinct re-shuffle. Local A/B (RepProbe, one JVM, sf0.1):
    * medians tie at ~1.9 s — 32 local cores hide the removed pass
    * behind the bigram branch — but the plan drops one Exchange and a
    * whole corpus explode→aggregate, which is the term that matters
    * when the corpus, not the core count, is the long pole (guide
    * §2.3/§2.4); output proven row-identical (symmetric diff 0).
    *
    * Why the bigram side is not row-local too? Measured at sf0.1:
    * nested-lambda counting (`transform(distinct, x ->
    * size(filter(g2, y -> y = x)))`) re-derives the whole shingle
    * expression per outer element — Catalyst does not hoist common
    * subexpressions into lambda bodies — 150 s (~30× worse); the
    * sort-then-longest-run `aggregate` fold avoids the recompute but
    * HOF lambdas evaluate interpreted with per-element struct
    * allocation — 8.4 s. The codegen'd relational aggregation wins,
    * and its shuffle carries (doc_id, gram, count) — already
    * combiner-reduced, not the raw corpus. (`array_distinct` and
    * `size` are single NATIVE functions, not lambdas — the trigram
    * side dodges both failure modes.) */
  def repetitionReport(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val g2 = docs.select(col("doc_id"), explode(shingles(toks, 2)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("max2"), sum(col("c")).as("tot2"))
    // Membership (r16 verdict "what's wrong" #1, closed by PROOF rather
    // than a guard): a doc joins g3 iff its shingle array has ≥1
    // element, and with the current [[shingles]] that is EVERY doc —
    // sequence(0, greatest(…, 0)) emits ≥1 index for every input, even
    // NULL text, where concat_ws skips the null slice and yields [""].
    // So the row-local form's membership equals the old explode form's
    // on all inputs (pinned by the degenerate-docs spec: 1-token,
    // 2-token, empty AND null-text docs, old ≡ new row-for-row). A
    // defensive filter(size(sh3) >= 1) was measured instead and
    // REJECTED: the optimizer pushes it below the projection and
    // re-evaluates the whole shingle expression per row (guide §4.4's
    // duplicate-evaluation trap) — q_quality_repetition 0.76 → 2.46 s.
    val g3 = docs
      .select(col("doc_id"), shingles(toks, 3).as("sh3"))
      .select(col("doc_id"),
        size(col("sh3")).cast("long").as("tot3"),
        size(array_distinct(col("sh3"))).cast("long").as("dist3"))
    val topBigram = col("max2").cast("double") / col("tot2")
    val dupTrigram = lit(1.0) - col("dist3").cast("double") / col("tot3")
    g2.join(g3, Seq("doc_id"))
      .select(
        col("doc_id"),
        round(topBigram, 6).as("top_bigram_frac"),
        round(dupTrigram, 6).as("dup_trigram_frac"),
        (topBigram > repTopBigramMax || dupTrigram > repDupTrigramMax).as("flagged"))
  }

  def qQualityRepetition(spark: SparkSession, dir: String): DataFrame =
    repetitionReport(Tables.documents(spark, dir)).orderBy("doc_id")

  // ------------------------------------------------------ sequence packing

  /** Training-block size (tokens) for [[qPackChunks]]. */
  val packBlockTokens = 256L

  /** Concat-then-chunk sequence packing offsets — the bookkeeping step
    * of packing documents into fixed-size training blocks: per stream,
    * each document gets its exclusive cumulative token offset, the block
    * it starts in, and how many blocks it spans. A real packer then
    * cuts the concatenated token stream at block boundaries; offsets are
    * the part that needs the engine (the cut itself is embarrassingly
    * parallel given them).
    *
    * Scale shape: the running sum is a KEYED window (partition by
    * stream = source), never a global ORDER BY over the corpus — at
    * 100 TB each source's stream is an independent partition of work.
    * Document order within a stream is doc_id (stable, content-hash-
    * assignable — any deterministic total order works). */
  def packChunks(docs: DataFrame, stream: Column, order: Column,
                 blockTokens: Long = packBlockTokens): DataFrame = {
    val nTok = size(tokens(col("text"))).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stream).orderBy(order)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val off = coalesce(sum(nTok).over(w), lit(0L))
    // explicit floor: Spark `/` on longs is double division, and a bare
    // CAST would truncate here but ROUND in DuckDB — floor() agrees
    docs.select(
      col("doc_id"), stream.as("stream"), nTok.as("n_tokens"),
      off.as("tok_offset"),
      floor(off / lit(blockTokens.toDouble)).as("chunk_first"),
      floor((off + nTok - 1) / lit(blockTokens.toDouble)).as("chunk_last"))
  }

  def qPackChunks(spark: SparkSession, dir: String): DataFrame =
    packChunks(Tables.documents(spark, dir), col("source"), col("doc_id"))
      .orderBy("doc_id")

  // ---------------------------------------------------- incremental dedup

  /** Incremental exact dedup — the production ingest shape: a NEW batch
    * of documents arrives, the corpus already holds kept digests; keep
    * only batch docs that are neither in-batch duplicates (min doc_id
    * survives) nor already present in the corpus. The batch twin of the
    * streaming fingerprint dedup in [[graft.stream.StreamOps]], here as
    * an oracled relational op.
    *
    * Scale shape: both sides reduce to digests before any join — the
    * shuffle carries (16-byte hash, id), never documents; at 100 TB the
    * corpus side is the pre-computed digest table you already maintain,
    * and the anti-join is digest-keyed (uniform, skew-free). */
  def incrementalDedup(newBatch: DataFrame, corpus: DataFrame): DataFrame = {
    val batchKeep = newBatch
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
    val corpusDigests = corpus.select(md5(col("text")).as("h")).distinct()
    batchKeep.join(corpusDigests, Seq("h"), "left_anti")
      .select(col("doc_id"), col("h"))
  }

  /** Gate key: the 10% hash sample plays the new batch, the rest the
    * existing corpus (same deterministic split device as
    * [[qDecontaminate]], so both engines agree on membership). */
  def qDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isNew = Sampling.inSample(col("doc_id"), decontamEvalFraction)
    incrementalDedup(docs.filter(isNew), docs.filter(!isNew))
      .orderBy("doc_id")
  }

  // ------------------------------------------------ split-leakage audit

  /** Split-leakage audit — the check run after split assignment and
    * before training: exact-duplicate content that landed in MORE THAN
    * ONE of train/val/test (val/test scores on leaked content measure
    * memorization, not generalization). Splits are the same
    * deterministic md5 cut as `q_split_assign`, so the audit composes
    * with the real assignment, not a mock. One row per leaked content
    * digest with its split membership flags.
    *
    * Scale shape: ONE digest-keyed hash aggregate (the q_dedup_exact
    * class) — the shuffle carries (16-byte digest, split, id), never
    * text; uniform, skew-free, no joins. */
  def splitLeakage(docs: DataFrame): DataFrame = {
    val split = Sampling.splitAssign(col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    docs
      .select(col("doc_id"), md5(col("text")).as("h"), split.as("split"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("split")).as("n_splits"),
        min(col("doc_id")).as("min_id"),
        max(when(col("split") === "train", 1).otherwise(0)).as("in_train"),
        max(when(col("split") === "val", 1).otherwise(0)).as("in_val"),
        max(when(col("split") === "test", 1).otherwise(0)).as("in_test"))
      .filter(col("n_splits") > 1)
  }

  /** Gate key: the corpus has no exact dups below sf0.1, so every 17th
    * document collapses to one of 3 canonical boilerplate texts
    * (deterministic doc_id-derived injection, the q_scrub_pii device) —
    * each canonical group spans many doc_ids, so leakage across the
    * 80/10/10 split occurs at every SF. Identical expression in the
    * oracle SQL. */
  def qSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val injected = when(col("doc_id") % 17 === 0,
      concat(lit("standard license boilerplate variant "),
        (col("doc_id") % 3).cast("string")))
      .otherwise(col("text"))
    splitLeakage(Tables.documents(spark, dir).withColumn("text", injected))
      .orderBy("h")
  }

  // ------------------------------------------ text canonicalization (NFC)

  /** Decomposed-unicode suffix injected by [[qTextNormalize]]: é as
    * e+U+0301, ñ as n+U+0303, plus a double space — NFC composes the
    * marks, the whitespace pass collapses the gap. Mirrored in the
    * oracle via chr(769)/chr(771). */
  private[graft] val normSuffix = " café  niño"

  /** Canonical text form — the normalization EVERY digest-based
    * operator needs first (the same visible string arrives composed or
    * decomposed from different crawls; md5 sees different bytes until
    * NFC collapses them): NFC ([[graft.functions.NfcNormalize]], a
    * custom codegen Catalyst expression — Spark has no normalization
    * builtin) → lowercase → whitespace collapse → trim. Pure per-row
    * codegen, zero shuffles added to any pipeline that prepends it. */
  def normalizeText(t: Column): Column =
    trim(regexp_replace(lower(graft.functions.Normalize.nfc(t)), "\\s+", " "))

  /** Gate key: every 13th doc gets [[normSuffix]] appended, so the
    * corpus genuinely exercises composition + collapse; output carries
    * before/after codepoint counts and the canonical digest. */
  def qTextNormalize(spark: SparkSession, dir: String): DataFrame = {
    val injected = when(col("doc_id") % 13 === 0,
      concat(col("text"), lit(normSuffix))).otherwise(col("text"))
    Tables.documents(spark, dir)
      .withColumn("ti", injected)
      .select(col("doc_id"),
        length(col("ti")).cast("long").as("n_raw"),
        length(normalizeText(col("ti"))).cast("long").as("n_norm"),
        md5(normalizeText(col("ti"))).as("digest"))
      .orderBy("doc_id")
  }

  // ------------------------------------------- boilerplate n-gram mining

  /** Shingle width / df floor / result size for [[qBoilerplateNgrams]]. */
  val boilerW = 5
  val boilerMinDf = 5
  val boilerTopK = 20

  /** Corpus-wide repeated n-gram mining — the EXPLORATION step that
    * builds a boilerplate blocklist (headers, license footers, cookie
    * banners) before paragraph dedup consumes it: every [[boilerW]]-gram
    * counted by document frequency and raw occurrences, df-floored,
    * top-k. This is the other direction from the dedup keys — they JOIN
    * on shingles to pair documents; this AGGREGATES shingles to find
    * what the whole corpus keeps repeating.
    *
    * Scale shape: explode → per-(gram, doc) collapse → per-gram agg —
    * two map-side-combined keyed aggregations, no join anywhere; the
    * df floor keeps the final top-k frame tiny. At 100 TB the same
    * plan holds (the explode is absorbed map-side exactly like TF-IDF's
    * term counts); if only an approximate blocklist is needed, the
    * second agg swaps for a count-min/heavy-hitters sketch, but the
    * exact two-phase agg is itself shuffle-light because phase 1
    * already collapsed per-document repeats. */
  def boilerplateNgrams(docs: DataFrame): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"), explode(shingles(tokens(col("text")), boilerW)).as("g"))
      .groupBy(col("g"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    perDoc.groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"), sum(col("c")).as("n_occ"))
      .filter(col("n_docs") >= boilerMinDf)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("g"))
      .limit(boilerTopK)
  }

  /** Gate key: every 17th document gets a canonical 7-word license
    * footer appended (the q_split_leakage injection device, append
    * flavor), so the footer's interior 5-grams provably dominate the
    * mined list at every SF; identical injection in the oracle. */
  def qBoilerplateNgrams(spark: SparkSession, dir: String): DataFrame = {
    val injected = when(col("doc_id") % 17 === 0,
      concat(col("text"), lit(" copyright example corp all rights reserved")))
      .otherwise(col("text"))
    boilerplateNgrams(Tables.documents(spark, dir).withColumn("text", injected))
  }

  // ----------------------------------------------- corpus snapshot diff

  /** Snapshot diff — the audit step between two crawls of the same
    * corpus: classify every doc_id as added / removed / changed /
    * unchanged by comparing content digests across snapshots. This is
    * what an incremental ingest publishes as its change manifest (and
    * what [[incrementalDedup]] / CDC compaction consume downstream).
    *
    * Scale shape: each side reduces to (doc_id, 16-byte digest) AT THE
    * SCAN — the full-outer join shuffles two narrow digest streams, never
    * text; keyed on doc_id it is uniform and skew-free, and with both
    * snapshots stored doc_id-bucketed it runs shuffle-free (the
    * q_join_bucketed layout, plans/BucketedTables.scala). */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    // presence is keyed on explicit side markers, NOT digest nullity —
    // md5(NULL text) is NULL, so a null-text doc present in both
    // snapshots must not read as added/removed; the digest compare is
    // null-safe (<=>) for the same reason (oracle: IS DISTINCT FROM)
    val o = oldSnap.select(col("doc_id"), md5(col("text")).as("d_old"),
      lit(true).as("in_old"))
    val n = newSnap.select(col("doc_id"), md5(col("text")).as("d_new"),
      lit(true).as("in_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(!(col("d_old") <=> col("d_new")), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Changeset extraction — the manifest an incremental ingest SHIPS
    * (vs [[snapshotDiff]]'s audit view): one row per doc_id whose
    * content differs between snapshots, `op` = upsert (added/changed,
    * carrying the NEW text) or delete (removed, text null). Unchanged
    * rows are deliberately absent — the manifest is proportional to the
    * churn, not the corpus, which is the whole economy of CDC at
    * 100 TB (a 0.1% daily churn ships 100 GB, not 100 TB).
    *
    * Scale shape: identical to [[snapshotDiff]] — digest-narrowed
    * full-outer join on doc_id; only changed rows keep their text. */
  def cdcChangeset(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val o = oldSnap.select(col("doc_id"), md5(col("text")).as("d_old"),
      lit(true).as("in_old"))
    val n = newSnap.select(col("doc_id"), col("text"),
      md5(col("text")).as("d_new"), lit(true).as("in_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .filter(col("in_old").isNull || col("in_new").isNull ||
        !(col("d_old") <=> col("d_new")))
      .select(col("doc_id"),
        when(col("in_new").isNull, "delete").otherwise("upsert").as("op"),
        col("text"))
  }

  /** MERGE-INTO apply — the step that CONSUMES a changeset: rows of the
    * base snapshot whose doc_id appears in the manifest are dropped
    * (delete, or about to be replaced), upserts are appended with their
    * new content. Applying [[cdcChangeset]](old, new) onto old
    * reconstructs new EXACTLY — the round-trip CdcMergeSpec pins.
    * Output carries the 16-byte content digest (never the text — the
    * merged text lives in the table files; the digest is the manifest's
    * verification column) plus provenance `src` ∈ base|merged.
    *
    * Scale shape: ONE doc_id-keyed anti join (narrow: base ships
    * digests, the probe side ships bare keys) + a union with the
    * changeset — the same two-exchange bill a lakehouse MERGE pays
    * before its write; keyed on uniform doc_id it is skew-free, and
    * under the doc_id-bucketed layout (plans/BucketedTables.scala) the
    * anti join runs shuffle-free, leaving the manifest-sized union as
    * the only moved data. */
  def cdcMerge(base: DataFrame, changes: DataFrame): DataFrame = {
    val survivors = base
      .join(changes.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), md5(col("text")).as("digest"),
        lit("base").as("src"))
    val upserts = changes.filter(col("op") === "upsert")
      .select(col("doc_id"), md5(col("text")).as("digest"),
        lit("merged").as("src"))
    survivors.unionByName(upserts)
  }

  /** Gate key: the [[qSnapshotDiff]] scenario driven end-to-end through
    * manifest extraction + merge apply — old/new snapshots from the
    * same hash buckets and every-5th edit, changeset derived, merge
    * applied onto old. The output therefore equals the NEW snapshot
    * row-for-row (CdcMergeSpec asserts it), with `src` recording which
    * rows moved. Same buckets/edit/digests verbatim in the oracle. */
  def qCdcMerge(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val snapB = pmod(baseHash60(concat(lit("snap:"), col("doc_id").cast("string"))), lit(10L))
    val modB = pmod(baseHash60(concat(lit("mod:"), col("doc_id").cast("string"))), lit(5L))
    val edited = when(modB === 0, concat(col("text"), lit(" rev2"))).otherwise(col("text"))
    val oldSnap = docs.filter(snapB < 8)
    val newSnap = docs.filter(snapB >= 2).withColumn("text", edited)
    cdcMerge(oldSnap, cdcChangeset(oldSnap, newSnap)).orderBy("doc_id")
  }

  /** Incremental view maintenance — refresh a per-source aggregate
    * view from the CHURN alone: each changed doc contributes signed
    * deltas (+new, −old), summed per source and applied onto the
    * base view. At 100 TB this is the difference between a stats
    * refresh that costs O(churn) and one that rescans the corpus —
    * 0.1% daily churn means the maintained view updates from a 100 GB
    * delta stream while the recompute reads 100 TB.
    *
    * The maintained aggregates are the COUNT/SUM family (count, char
    * sum, md5-derived content checksum) — the self-maintainable class
    * (every SUM-like aggregate maintains from deltas alone; MIN/MAX
    * would need the base detail on deletes, the classic IVM asymmetry).
    * All-integer arithmetic, so maintained ≡ recomputed EXACTLY — and
    * the DuckDB oracle IS the direct recompute over the new snapshot,
    * making the correctness gate itself the IVM invariant.
    *
    * Scale shape: base view = one source-keyed agg (already
    * materialized in practice); delta = the [[snapshotDiff]] digest
    * join restricted to churn rows, aggregated per source (manifest-
    * sized); apply = a |sources|-row outer join. Nothing rescans the
    * corpus after the base view exists. */
  def aggIncremental(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val p = 1000000007L
    def f(t: Column): Column = pmod(baseHash60(t), lit(p))
    val baseAgg = oldSnap.groupBy(col("source"))
      .agg(count(lit(1)).as("b_docs"),
        sum(length(col("text")).cast("long")).as("b_chars"),
        sum(f(col("text"))).as("b_content"))
    val o = oldSnap.select(col("doc_id"), col("source").as("src_o"),
      col("text").as("t_o"), lit(true).as("in_o"))
    val n = newSnap.select(col("doc_id"), col("source").as("src_n"),
      col("text").as("t_n"), lit(true).as("in_n"))
    val delta = o.join(n, Seq("doc_id"), "full_outer")
      .filter(col("in_o").isNull || col("in_n").isNull ||
        !(md5(col("t_o")) <=> md5(col("t_n"))))
      .groupBy(coalesce(col("src_n"), col("src_o")).as("source"))
      .agg(
        sum(when(col("in_o").isNull, 1L).when(col("in_n").isNull, -1L)
          .otherwise(0L)).as("d_docs"),
        sum(coalesce(length(col("t_n")).cast("long"), lit(0L)) -
          coalesce(length(col("t_o")).cast("long"), lit(0L))).as("d_chars"),
        sum(coalesce(when(col("in_n").isNotNull, f(col("t_n"))), lit(0L)) -
          coalesce(when(col("in_o").isNotNull, f(col("t_o"))), lit(0L)))
          .as("d_content"))
    baseAgg.join(delta, Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("b_docs"), lit(0L)) + coalesce(col("d_docs"), lit(0L))).as("n_docs"),
        (coalesce(col("b_chars"), lit(0L)) + coalesce(col("d_chars"), lit(0L))).as("n_chars"),
        (coalesce(col("b_content"), lit(0L)) + coalesce(col("d_content"), lit(0L))).as("content_sum"))
      .filter(col("n_docs") > 0)
      .orderBy("source")
  }

  /** Gate key: the [[qSnapshotDiff]] snapshots again; the output is the
    * INCREMENTALLY maintained per-source view, the oracle the direct
    * recompute over the new snapshot — parity proves the maintenance
    * algebra, not just the plumbing. */
  def qAggIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val snapB = pmod(baseHash60(concat(lit("snap:"), col("doc_id").cast("string"))), lit(10L))
    val modB = pmod(baseHash60(concat(lit("mod:"), col("doc_id").cast("string"))), lit(5L))
    val edited = when(modB === 0, concat(col("text"), lit(" rev2"))).otherwise(col("text"))
    aggIncremental(
      docs.filter(snapB < 8).select(col("doc_id"), col("source"), col("text")),
      docs.filter(snapB >= 2).withColumn("text", edited)
        .select(col("doc_id"), col("source"), col("text")))
  }

  /** Gate key: two deterministic hash-derived snapshots of `documents`
    * (old = buckets 0–7, new = buckets 2–9 of a doc_id-keyed md5 hash —
    * 60% overlap, so all four statuses occur), with every 5th
    * overlapping doc "edited" in the new snapshot by a content-visible
    * suffix. Both the bucket assignment and the edit reproduce verbatim
    * in the oracle SQL. */
  def qSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val snapB = pmod(baseHash60(concat(lit("snap:"), col("doc_id").cast("string"))), lit(10L))
    val modB = pmod(baseHash60(concat(lit("mod:"), col("doc_id").cast("string"))), lit(5L))
    val edited = when(modB === 0, concat(col("text"), lit(" rev2"))).otherwise(col("text"))
    snapshotDiff(
      docs.filter(snapB < 8),
      docs.filter(snapB >= 2).withColumn("text", edited))
      .orderBy("doc_id")
  }

  // ---------------------------------------------- composed LLM pipeline

  /** Pipeline quality-gate threshold (testdata quality spans
    * 0.52–1.0 with p10 ≈ 0.58, so 0.6 actually gates). */
  val pipelineMinQuality = 0.6
  /** Pipeline split fractions (the q_split_assign shape). */
  val pipelineSplits: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  /** Near-dup cluster threshold for the pipeline's dedup stage (the
    * q_dedup_cluster threshold). */
  val pipelineClusterJaccard = 0.5
  /** Pipeline contamination ceiling — looser than the q_decontaminate
    * report threshold (0.05) because the synthetic corpus shares one
    * vocabulary across splits (median train-doc contamination is ~0.12
    * at sf0.01; 0.05 would gate 92% of the corpus and starve the
    * downstream stages). 0.2 keeps ~90% while still dropping true eval
    * copies (contamination → 1.0). */
  val pipelineContamMax = 0.2

  /** The composed LLM training-data pipeline — the end-to-end artifact
    * every individual gate key is a stage of (the reference's
    * counterpart is its end-to-end workflow notebook):
    *
    *   quality gate → repetition gate → eval carve-out +
    *   decontamination → exact dedup → near-dup cluster dedup →
    *   split assignment → sequence packing
    *
    * one DataFrame out: (doc_id, stream, n_tokens, tok_offset,
    * chunk_first, chunk_last) for every surviving training document.
    * Every stage is the EXACT operator its own gate key runs — same
    * thresholds, same hash cuts, same df caps — so the DuckDB oracle is
    * the composition of the per-stage oracle SQL in one recursive CTE,
    * and LlmPipelineSpec asserts gate-key ≡ hand-composed stages.
    *
    * Scale: no stage introduces a shape the per-stage keys don't
    * already have — the gates are hash aggregations + semi-joins on
    * doc_id (uniform), dedup shuffles carry digests/shingle hashes, CC
    * is the checkpointed iterative core, packing is a keyed window.
    * Semi-join composition keeps each filter independent (no
    * multi-hundred-column rows ever shuffle; the text column rides only
    * the final scan → pack path). */
  def llmPipeline(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val nDistinct = size(array_distinct(toks)).cast("double")
    val nStop = size(filter(toks, t => array_contains(typedLit(stopwords), t))).cast("double")
    val quality = round((nDistinct / nTok) * 0.5 + (lit(1.0) - nStop / nTok) * 0.5, 6)
    val isEval = Sampling.inSample(col("doc_id"), decontamEvalFraction)

    // gates: each report is the gate key's own relational shape.
    // The REPETITION verdict is a strictly PER-DOCUMENT function (its
    // n-gram stats read only the doc's own tokens), so its input is
    // pre-filtered to the row-local survivors (eval carve-out + quality
    // cut) — the semi-join intersection is unchanged while its
    // explode→aggregate pass runs over survivors (guide §2.3, r16).
    // DECONTAMINATION is NOT restrictable (r17, closes the r16 advice
    // medium finding): shingleRows' df cap is computed over its INPUT
    // corpus, and the oracle's cap basis is the FULL corpus (the s1
    // CTE spans all documents) — feeding it a gated subset lowers
    // document frequencies, so shingles the full-corpus cap excludes
    // could re-enter and change contamination fractions in the skew
    // regime the cap exists for. It reads the full corpus, as the
    // oracle does; the eval side must be full anyway (eval docs define
    // the contaminating shingle set regardless of their quality).
    val rowKeep = !isEval && quality >= pipelineMinQuality
    // materialize the row-local survivor set ONCE (r17, from the
    // V1Probe stage profile: the gate-execution job was 3.3-3.8 s of a
    // ~5.5 s steady-state total because the corpus was scanned TWICE
    // through the quality-HOF filter — once feeding repetitionReport,
    // once as the main branch). Both consumers now read checkpointed
    // blocks; the filter's tokenize/array_distinct/stopword HOFs run
    // one time. Identical rows — `base` IS docs.filter(rowKeep).
    val base = Checkpointer(docs.filter(rowKeep))
    val repOk = repetitionReport(base)
      .filter(!col("flagged")).select("doc_id")
    val deconOk = decontaminationReport(docs, isEval, 3,
        threshold = pipelineContamMax)
      .filter(!col("flagged")).select("doc_id")
    // checkpoint the gated set: three downstream consumers (exact
    // dedup, near-dup edges, survivor scan) would each recompute the
    // quality+repetition+decontamination subtree otherwise — measured
    // 10.3 s → materialize-once at sf0.1. Survivor rows are a filtered
    // subset of the corpus, so the checkpoint is input-bounded.
    val cleaned = Checkpointer(base
      .join(repOk, Seq("doc_id"), "left_semi")
      .join(deconOk, Seq("doc_id"), "left_semi"))

    // exact dedup: min doc_id survives per content digest
    val exactKeep = cleaned.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val deduped = Checkpointer(cleaned.join(exactKeep, Seq("doc_id"), "left_semi"))

    // near-dup cluster dedup over the surviving subset
    val edges = ngramJaccardPairs(deduped, 3, pipelineClusterJaccard, None)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val keepCluster = graft.graph.ConnectedComponents
      .run(edges, deduped.select(col("doc_id").as("id")))
      .filter(col("id") === col("lbl"))
      .select(col("id").as("doc_id"))
    val survivors = deduped.join(keepCluster, Seq("doc_id"), "left_semi")

    // split + pack: streams are (split, source) so each split's sources
    // pack independently
    val withSplit = survivors.select(col("doc_id"), col("source"), col("text"),
      Sampling.splitAssign(col("doc_id"), pipelineSplits).as("split"))
    packChunks(withSplit, concat_ws("/", col("split"), col("source")), col("doc_id"))
  }

  def qLlmPipeline(spark: SparkSession, dir: String): DataFrame =
    llmPipeline(Tables.documents(spark, dir)).orderBy("doc_id")

  /** The v2 end-to-end pipeline: [[llmPipeline]]'s six stages plus the
    * round-6 operators composed in, in production order —
    *
    *   PII scrub → Gopher gate → unigram tail cut → quality gate →
    *   repetition gate → eval carve-out + decontamination → exact dedup
    *   → exact-substring dedup → near-dup cluster dedup → split → pack
    *
    * The scrub runs FIRST and every later stage reads the SCRUBBED text
    * (redaction must precede anything that materializes tokens — the
    * reason production pipelines order it this way), seeded by the same
    * deterministic doc_id-derived injection as q_scrub_pii so the stage
    * is exercised on real matches. Each stage is the EXACT operator of
    * its own gate key — same thresholds, caps, and hash cuts — so the
    * oracle is the composition of the per-stage oracle SQL, and
    * LlmPipelineSpec asserts gate ≡ hand-composed stages.
    *
    * Scale: no new shapes — the added gates are per-row codegen passes
    * (scrub, Gopher) or one-row-broadcast aggregates (tail cuts), and
    * substring dedup is the same df-capped digest equi-join as its gate
    * key. Stages drop documents monotonically, so the expensive
    * token-stream work (shingles, CC) runs over ever-smaller survivor
    * sets.
    *
    * Stages 0–4 (scrub → gates → exact dedup → substring dedup) live in
    * [[pipelineGatedDeduped]], shared with the v3 key (r15) so the two
    * cluster-dedup variants cannot drift. */
  private def pipelineGatedDeduped(docs: DataFrame): DataFrame = {
    // stage 0: PII inject (the q_scrub_pii device) + scrub
    val injected = when(col("doc_id") % 7 === 0,
      concat(lit("contact user"), col("doc_id").cast("string"),
        lit("@example.com via https://example.org/u/"),
        col("doc_id").cast("string"), lit(" "), col("text")))
      .otherwise(col("text"))
    val cleanedText = regexp_replace(
      regexp_replace(injected, emailRe, "<EMAIL>"), urlRe, "<URL>")
    // checkpoint: every gate below re-reads the scrubbed corpus; without
    // this each would recompute the two regex passes over the raw scan
    val scrubbed = Checkpointer(docs.select(col("doc_id"), col("source"),
      cleanedText.as("text")))

    val toks = tokens(col("text"))
    val nTok = size(toks).cast("double")
    val nDistinct = size(array_distinct(toks)).cast("double")
    val nStop = size(filter(toks, t => array_contains(typedLit(stopwords), t))).cast("double")
    val quality = round((nDistinct / nTok) * 0.5 + (lit(1.0) - nStop / nTok) * 0.5, 6)
    val isEval = Sampling.inSample(col("doc_id"), decontamEvalFraction)

    // Gopher gate: pure per-row arithmetic, so it fuses INLINE into the
    // survivor filter — the exact expressions of [[gopherRules]] (same
    // 6-dp rounding, so the decision is bit-identical to the gate key),
    // without the separate scan + doc_id semi-join a report-shaped gate
    // would cost. Measured: the fused filter removes one full pass over
    // the scrubbed corpus from the pipeline's critical path.
    val n = size(toks)
    val meanLen = round(
      aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)
        .cast("double") / nTok, 6)
    val stopHits = size(filter(toks, t => array_contains(typedLit(stopwords), t)))
    val dr = round(size(array_distinct(toks)).cast("double") / nTok, 6)
    val gopherKeep = n >= gopherMinTokens && n <= gopherMaxTokens &&
      meanLen >= gopherMeanLenMin && meanLen <= gopherMeanLenMax &&
      stopHits >= gopherMinStopHits && dr >= gopherMinDistinctRatio

    // aggregation-shaped gates — each the gate key's own relational
    // shape over the scrubbed corpus; tail cuts span the WHOLE corpus
    // distribution (gating changes the percentile basis, so cuts come
    // first). The REPETITION verdict is a strictly PER-DOCUMENT
    // function (it reads only the doc's own n-grams), so its input is
    // pre-filtered to the docs the row-local gates (eval carve-out,
    // quality, Gopher) already keep — the semi-join intersection is
    // unchanged, but its explode→aggregate pass runs over survivors
    // instead of the whole corpus (guide §2.3, r16). DECONTAMINATION is
    // NOT restrictable (r17, closes the r16 advice medium finding):
    // shingleRows' df cap is computed over its INPUT corpus and the
    // oracle's cap basis is the FULL scrubbed corpus (the s1 CTE spans
    // all of d) — a gated subset lowers document frequencies, letting
    // cap-excluded shingles re-enter and change contamination verdicts
    // in exactly the skew regime the cap exists for. It reads the full
    // scrubbed corpus, as the oracle does.
    val rowKeep = !isEval && quality >= pipelineMinQuality && gopherKeep
    val tailOk = qualityTails(scrubbed).filter(col("tail") === "mid").select("doc_id")
    // (r17 measured dead end, do not redo: materializing
    // scrubbed.filter(rowKeep) once — the v1 win, see llmPipeline —
    // REGRESSES here, 3.4 → 4.1 s solo: `scrubbed` is already
    // checkpointed blocks, so the doubled rowKeep HOF filter runs over
    // cheap local reads inside one well-overlapped job, while the extra
    // eager checkpoint adds a serial job barrier.)
    val repOk = repetitionReport(scrubbed.filter(rowKeep))
      .filter(!col("flagged")).select("doc_id")
    val deconOk = decontaminationReport(scrubbed, isEval, 3,
        threshold = pipelineContamMax)
      .filter(!col("flagged")).select("doc_id")
    val cleaned = Checkpointer(scrubbed
      .filter(rowKeep)
      .join(tailOk, Seq("doc_id"), "left_semi")
      .join(repOk, Seq("doc_id"), "left_semi")
      .join(deconOk, Seq("doc_id"), "left_semi"))

    // exact dedup: min doc_id survives per content digest
    val exactKeep = cleaned.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val deduped = Checkpointer(cleaned.join(exactKeep, Seq("doc_id"), "left_semi"))

    // exact-substring dedup: any doc sharing a 20-token span with a
    // LOWER-id survivor drops (min-id-wins, the exact-dedup convention)
    val subDropped = substringDupPairs(deduped)
      .select(col("id_b").as("doc_id")).distinct()
    Checkpointer(deduped.join(subDropped, Seq("doc_id"), "left_anti"))
  }

  /** Shared v2/v3 tail: keep one doc per near-dup component, then split
    * assignment + packing over (split, source) streams. */
  private def clusterSplitPack(subKept: DataFrame, edges: DataFrame): DataFrame = {
    val keepCluster = graft.graph.ConnectedComponents
      .run(edges, subKept.select(col("doc_id").as("id")))
      .filter(col("id") === col("lbl"))
      .select(col("id").as("doc_id"))
    val survivors = subKept.join(keepCluster, Seq("doc_id"), "left_semi")
    val withSplit = survivors.select(col("doc_id"), col("source"), col("text"),
      Sampling.splitAssign(col("doc_id"), pipelineSplits).as("split"))
    packChunks(withSplit, concat_ws("/", col("split"), col("source")), col("doc_id"))
  }

  def llmPipelineV2(docs: DataFrame): DataFrame = {
    val subKept = pipelineGatedDeduped(docs)
    // near-dup cluster dedup over the surviving subset
    val edges = ngramJaccardPairs(subKept, 3, pipelineClusterJaccard, None)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    clusterSplitPack(subKept, edges)
  }

  def qLlmPipelineV2(spark: SparkSession, dir: String): DataFrame =
    llmPipelineV2(Tables.documents(spark, dir)).orderBy("doc_id")

  /** The v3 pipeline (r15, verdict ask #7): v2's exact stage chain with
    * the near-dup CLUSTER stage running on CAPPED SimHash band pairs
    * ([[simhashBandPairsCapped]] — the scale-safe operator) instead of
    * n-gram Jaccard. This is the composition the SimHash family's
    * artifact notes point users at: exact dedup FIRST (stage 3 already
    * collapsed identical texts, so fingerprint piles are near-dup, not
    * exact-dup, piles), then banded fingerprint candidates with hot
    * (band, bits) buckets star-expanding against their min-id rep —
    * components still close transitively through the rep, so the
    * cluster keep-set is pile-lossless while pair emission stays
    * O(corpus) at any duplicate density.
    *
    * Scale: identical gate shapes to v2; the cluster stage swaps a
    * shingle equi-join (corpus token stream) for one fingerprint
    * aggregate + a bounded band join — CHEAPER at equal recall targets
    * for near-identical piles, the adversarial case the rehearsals
    * plant. Oracle = v2's CTE chain with stage 5 swapped for the
    * q_dedup_simhash_capped mirror re-rooted on the survivor CTE. */
  def llmPipelineV3(docs: DataFrame): DataFrame = {
    val subKept = pipelineGatedDeduped(docs)
    val edges = simhashBandPairsCapped(simhashFingerprintsLong(subKept))
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    clusterSplitPack(subKept, edges)
  }

  def qLlmPipelineV3(spark: SparkSession, dir: String): DataFrame =
    llmPipelineV3(Tables.documents(spark, dir)).orderBy("doc_id")

  // ------------------------------------------ Gopher composite gate

  /** Gopher-rule thresholds (Rae et al. 2021 §A1.1 shape, re-centred on
    * this corpus's distributions so every rule actually discriminates:
    * token counts here span 10..99, mean token length 3.7..5.3,
    * stopword hits 0..23, distinct ratio 0.28..1.0). Single source of
    * truth — interpolated into the oracle SQL. */
  val gopherMinTokens = 20
  val gopherMaxTokens = 90
  val gopherMeanLenMin = 4.0
  val gopherMeanLenMax = 5.0
  val gopherMinStopHits = 2
  val gopherMinDistinctRatio = 0.35

  /** Gopher-style composite document gate — the rule battery corpus
    * pipelines run BEFORE any model-based scoring: token-count bounds,
    * mean-token-length bounds (word salad / char noise), minimum
    * stopword evidence (natural-language check), minimum type-token
    * ratio (repetition check). Emits every signal and per-rule verdict,
    * not just the final keep, because production filters are tuned by
    * inspecting per-rule kill rates.
    *
    * Scale shape: pure per-row HOF arithmetic — one codegen pass, zero
    * shuffles before the output sort. Signals are rounded to 6 dp
    * BEFORE thresholding so both engines make the identical decision
    * on every document. */
  def gopherRules(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val n = size(toks)
    val nd = n.cast("double")
    val meanLen = round(
      aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)
        .cast("double") / nd, 6)
    val stopHits = size(filter(toks, t => array_contains(typedLit(stopwords), t)))
    val dr = round(size(array_distinct(toks)).cast("double") / nd, 6)
    docs.select(
      col("doc_id"),
      n.as("n_tokens"),
      meanLen.as("mean_token_len"),
      stopHits.as("stop_hits"),
      dr.as("distinct_ratio"),
      (n >= gopherMinTokens && n <= gopherMaxTokens).as("len_ok"),
      (meanLen >= gopherMeanLenMin && meanLen <= gopherMeanLenMax).as("mean_len_ok"),
      (stopHits >= gopherMinStopHits).as("stop_ok"),
      (dr >= gopherMinDistinctRatio).as("diverse_ok"))
      .withColumn("keep",
        col("len_ok") && col("mean_len_ok") && col("stop_ok") && col("diverse_ok"))
  }

  def qQualityGopher(spark: SparkSession, dir: String): DataFrame =
    gopherRules(Tables.documents(spark, dir)).orderBy("doc_id")

  // ------------------------------------------------- token entropy

  /** Per-document token-entropy score — the gibberish detector that
    * catches what type-token ratio misses: a document cycling two
    * tokens and one cycling twenty both have low TTR, but their
    * entropies differ. entropy = −Σ p·ln p over the doc's token
    * distribution; norm_entropy divides by ln(n_distinct) (the maximum
    * achievable with that vocabulary), so 1.0 = perfectly uniform usage
    * and →0 = one token dominating.
    *
    * Scale shape: explode → (doc_id, term)-keyed count (map-side
    * combine absorbs the explosion) → per-doc totals → contribution
    * join co-partitioned on doc_id. Per-term contributions are rounded
    * to 6 dp and summed as DECIMAL(18,6) — the BM25 device — so the
    * score is independent of addition order (float Σ p·ln p is not). */
  def entropyScores(docs: DataFrame): DataFrame = {
    val tk = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val tf = tk.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
    val tot = tf.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("d"))
    val p = col("c").cast("double") / col("n").cast("double")
    tf.join(tot, Seq("doc_id"))
      .select(col("doc_id"), col("n"), col("d"),
        round(-p * log(p), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("e"))
      .groupBy(col("doc_id"))
      .agg(first(col("n")).as("n_tokens"), first(col("d")).as("n_distinct"),
        sum(col("e")).as("se"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("se").cast("double").as("entropy"),
        when(col("n_distinct") > 1,
          round(col("se").cast("double") / log(col("n_distinct").cast("double")), 6))
          .otherwise(lit(0.0)).as("norm_entropy"))
  }

  def qQualityEntropy(spark: SparkSession, dir: String): DataFrame =
    entropyScores(Tables.documents(spark, dir)).orderBy("doc_id")

  // --------------------------------------------- regex pre-tokenizer

  /** GPT-2-shape pre-tokenizer classes: runs of letters, runs of
    * digits, runs of other non-space chars. Plain character classes
    * only — no lookaround — so Java regex (Spark) and RE2 (DuckDB)
    * produce the identical piece stream (the classes are disjoint, so
    * leftmost-first vs leftmost-longest cannot differ either). */
  val bpeNumRe = "[0-9]+"
  val bpeSymRe = "[^A-Za-z0-9 ]+"
  val bpePieceRe = s"[A-Za-z]+|$bpeNumRe|$bpeSymRe"

  /** Regex pre-tokenization counts — the byte-level BPE FRONT END
    * (piece boundaries before merges): every LLM token budget starts
    * here, and `q_token_count`'s chars/4 estimate is calibrated against
    * it. The synthetic corpus is pure lowercase words, so every 5th
    * document gets a deterministic doc_id-derived version string,
    * price, and punctuation injected FIRST (identical expression in the
    * oracle — the q_scrub_pii device): the numeric/symbol classes are
    * exercised on real matches. The full piece stream is md5-compressed
    * (pieces joined on \\u0001) so the oracle verifies the exact
    * tokenization, not just counts.
    *
    * Scale shape: per-row regex passes, one codegen stage, zero
    * shuffles before the output sort. */
  def bpePieces(docs: DataFrame, textCol: Column): DataFrame = {
    val pieces = regexp_extract_all(textCol, lit(bpePieceRe), lit(0))
    docs.select(
      col("doc_id"),
      size(pieces).as("n_pieces"),
      size(regexp_extract_all(textCol, lit(bpeNumRe), lit(0))).as("n_numeric"),
      size(regexp_extract_all(textCol, lit(bpeSymRe), lit(0))).as("n_symbol"),
      md5(concat_ws("\u0001", pieces)).as("pieces_md5"))
  }

  def qTokenBpe(spark: SparkSession, dir: String): DataFrame = {
    val injected = when(col("doc_id") % 5 === 0,
      concat(lit("id="), col("doc_id").cast("string"), lit(" v1.2, cost $"),
        (col("doc_id") % 97).cast("string"), lit("! "), col("text")))
      .otherwise(col("text"))
    bpePieces(Tables.documents(spark, dir), injected).orderBy("doc_id")
  }

  /** The q_token_bpe injection device, shared with [[qTokenFertility]]
    * (both keys must tokenize the IDENTICAL text or fertility would not
    * be reproducible from the piece stream). */
  private[graft] def bpeInjected: Column =
    when(col("doc_id") % 5 === 0,
      concat(lit("id="), col("doc_id").cast("string"), lit(" v1.2, cost $"),
        (col("doc_id") % 97).cast("string"), lit("! "), col("text")))
      .otherwise(col("text"))

  // ----------------------------------------- BPE merge-pair counting

  /** One BPE training iteration — the adjacent-symbol-pair count that
    * picks the next merge when training a tokenizer on the corpus
    * ([[bpePieces]] is inference with a FIXED vocab; this is the step
    * that builds one). Returns the top `topN` character pairs by
    * frequency, weighted by word count.
    *
    * Scale shape: the 100 TB trick is that pair counting runs over the
    * DISTINCT VOCABULARY, not the corpus — the corpus-linear pass is a
    * word-frequency hash aggregate (map-side combined, shuffle carries
    * one narrow (word, count) row per distinct word per mapper), and the
    * pair explode + re-aggregate then touch only |vocab| rows with
    * counts as weights. The final frame is ≤ |alphabet|² rows, so the
    * unpartitioned rank window is a one-partition sort over a frame
    * that CANNOT grow with the data. */
  def bpeMergePairs(docs: DataFrame, topN: Int = 50): DataFrame = {
    val vocab = docs
      .select(explode(tokens(lower(col("text")))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
    val pairs = vocab
      .select(col("wc"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("pc"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("pc").desc, col("pair"))
    pairs
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("pair"), col("pc"), col("rank"))
  }

  def qBpeMerge(spark: SparkSession, dir: String): DataFrame =
    bpeMergePairs(Tables.documents(spark, dir)).orderBy("rank")

  /** Result of [[bpeTrain]]: the learned merge list in order (symbol
    * pair + its count at selection time) and the final vocab
    * segmentation (w, wc, syms). */
  final case class BpeTrainResult(merges: Seq[(String, String, Long)],
                                  vocab: DataFrame)

  /** FULL iterated BPE training (Sennrich et al. 2016) — the loop whose
    * single step `q_bpe_merge` puts under the oracle: start from the
    * character segmentation of the DISTINCT word vocabulary (weighted
    * by word count), then per merge round (1) count adjacent symbol
    * pairs weighted by wc, (2) pick the max-count pair (count desc,
    * then (a, b) lexicographic — deterministic across partitionings),
    * (3) re-segment every word by greedy left-to-right non-overlapping
    * replacement of that pair.
    *
    * Scale shape — why this survives 100 TB: the CORPUS is touched
    * exactly once (the word-count aggregate); every round after that
    * runs over the distinct VOCAB (Heaps-law sublinear in corpus size),
    * as one explode + map-side-combined pair aggregate plus a per-row
    * re-segmentation fold (pure Catalyst `aggregate`, no UDF). The only
    * driver traffic is ONE (pair, count) row per round — the bounded
    * probe collect of the CC/Lloyd loops — and per-round state is
    * lineage-truncated through the [[graft.plans.Checkpointer]] so
    * plans don't grow with merges. Spec-pinned against an in-memory
    * reference implementation (BpeTrainSpec). */
  def bpeTrain(docs: DataFrame, nMerges: Int): BpeTrainResult = {
    // the single corpus pass: distinct words + counts, char-segmented
    var vocab = Checkpointer(docs
      .select(explode(tokens(lower(col("text")))).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .select(col("w"), col("wc"),
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("syms")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    var round = 0
    while (!done && round < nMerges) {
      // adjacent symbol pairs in the CURRENT segmentation, weighted by wc
      val best = vocab
        .select(col("wc"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wc")).as("pc"))
        .orderBy(col("pc").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) done = true // every word fully merged
      else {
        val (a, b, pc) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((a, b, pc))
        // greedy left-to-right non-overlapping replacement as a pure
        // Catalyst fold: merge when the accumulated tail is `a` and the
        // incoming symbol is `b`; the merged symbol never re-merges in
        // this round (its value a+b differs from a unless a+b == a,
        // impossible for non-empty b)
        val merged = aggregate(col("syms"),
          array().cast("array<string>"),
          (out, s) => when(
            size(out) > 0 && element_at(out, -1) === lit(a) && s === lit(b),
            concat(slice(out, lit(1), size(out) - 1), array(lit(a + b))))
            .otherwise(concat(out, array(s))))
        val next = Checkpointer(vocab.select(col("w"), col("wc"), merged.as("syms")))
        graft.plans.Checkpointer.release(vocab)
        vocab = next
        round += 1
      }
    }
    BpeTrainResult(merges.toSeq, vocab)
  }

  /** Apply a learned merge list to segment one word (driver-side
    * utility mirroring the fold in [[bpeTrain]] — used by the spec's
    * reference implementation and by callers tokenizing probes). */
  def bpeSegment(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var syms: Seq[String] = word.map(_.toString)
    merges.foreach { case (a, b) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      syms.foreach { s =>
        if (out.nonEmpty && out.last == a && s == b)
          out(out.length - 1) = a + b
        else out += s
      }
      syms = out.toSeq
    }
    syms
  }

  // ------------------------------------------- tokenizer fertility stats

  /** Tokenizer fertility per language — the stat tokenizer teams watch
    * when a corpus mix changes: BPE pieces per whitespace word
    * (fertility; >1 means words split into subwords) and bytes per
    * piece (compression; low = symbol-heavy text burning token budget).
    * Composes [[bpePieces]]'s piece stream with [[qTextStats]]'s
    * language grouping; the same doc_id-derived injection as
    * q_token_bpe exercises the numeric/symbol classes.
    *
    * Scale shape: per-row regex counts (one codegen pass) into a
    * lang-keyed hash aggregate — the shuffle carries one narrow row per
    * (partition, lang). Ratios divide the EXACT per-language long sums
    * once at the end (one IEEE division, addition-order-proof), never
    * averaged per-document. */
  def tokenFertility(docs: DataFrame, textCol: Column): DataFrame = {
    val pieces = size(regexp_extract_all(textCol, lit(bpePieceRe), lit(0))).cast("long")
    val words = size(tokens(textCol)).cast("long")
    val chars = length(textCol).cast("long")
    docs.select(col("lang"), pieces.as("p"), words.as("w"), chars.as("c"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("p")).as("n_pieces"),
        sum(col("w")).as("n_words"), sum(col("c")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_pieces"), col("n_words"),
        col("n_chars"),
        round(col("n_pieces").cast("double") / col("n_words").cast("double"), 6)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("n_pieces").cast("double"), 6)
          .as("bytes_per_piece"))
  }

  def qTokenFertility(spark: SparkSession, dir: String): DataFrame =
    tokenFertility(Tables.documents(spark, dir), bpeInjected).orderBy("lang")

  // --------------------------------------------- URL/domain blocklist

  /** Literal domain pool for the q_filter_domains synthetic URLs (the
    * corpus has no URL column, so each document gets a deterministic
    * doc_id-derived one — the q_scrub_pii injection device). The pool
    * deliberately includes a `www.`-prefixed entry (exercises host
    * normalization) and both an exact-match and a suffix-match blocked
    * domain. Shared with the oracle SQL as interpolated literals. */
  val domainPool: Seq[String] = Seq(
    "example.com", "www.news-example.net", "blog.example.org",
    "spam-mill.example", "docs.example.io", "ads.tracker-example.net",
    "wiki.example.org", "shop.example.co")
  /** Exact-match blocklist. */
  val blockedDomains: Seq[String] = Seq("spam-mill.example")
  /** Suffix blocklist (a real blocklist blocks whole trees —
    * `*.tracker-example.net` — not just apex domains). */
  val blockedSuffixes: Seq[String] = Seq(".tracker-example.net")
  /** Portable host-extraction regex: plain classes, no lookaround. */
  val hostRe = "https?://([^/]+)"

  /** Normalized registrable domain of a URL column: host, lowercased,
    * leading `www.` stripped. */
  def urlDomain(url: Column): Column =
    regexp_replace(lower(regexp_extract(url, hostRe, 1)), "^www[.]", "")

  /** Blocked-domain predicate: exact match against `blocked` or suffix
    * match against `suffixes`. */
  def domainBlocked(domain: Column,
                    blocked: Seq[String] = blockedDomains,
                    suffixes: Seq[String] = blockedSuffixes): Column = {
    val exact = domain.isin(blocked: _*)
    suffixes.foldLeft(exact)((acc, s) => acc || domain.endsWith(lit(s)))
  }

  /** URL/domain blocklist filter — the FIRST stage of every public web
    * pipeline (C4/RefinedWeb drop blocklisted and tracker domains before
    * any content-based work, because it is the cheapest kill). Returns
    * the input rows with (domain, blocked) attached; callers filter
    * `!blocked` to apply.
    *
    * Scale shape: one codegen'd regex + literal-list pass per row, zero
    * shuffles — exactly why this gate runs first at 100 TB (it reads
    * only the URL column and prunes before any tokenization). */
  def filterDomains(docs: DataFrame, url: Column): DataFrame = {
    val d = urlDomain(url)
    docs.withColumn("domain", d).withColumn("blocked", domainBlocked(d))
  }

  /** Gate key: synthetic doc_id-derived URLs over the domain pool, then
    * per-domain kill counts — the report a pipeline operator tunes the
    * blocklist against (which domains die, how many docs each costs). */
  def qFilterDomains(spark: SparkSession, dir: String): DataFrame = {
    val url = concat(
      lit("https://"),
      element_at(typedLit(domainPool), (col("doc_id") % domainPool.size).cast("int") + 1),
      lit("/p/"), col("doc_id").cast("string"))
    filterDomains(Tables.documents(spark, dir), url)
      .groupBy(col("domain"), col("blocked"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))
      .orderBy("domain")
  }

  // ------------------------------------------------- URL canonicalization

  /** Canonical form of a URL — the normalization every web-crawl dedup
    * runs before exact URL dedup (the same page is recrawled under
    * fragment/tracking-param/case/trailing-slash variants):
    * fragment stripped, an all-`utm_` query string stripped, scheme+host
    * lowercased with a leading `www.` dropped, trailing path slash
    * removed. Path case is preserved (paths are case-sensitive; hosts
    * are not). Pure codegen'd regex chain — zero shuffles per row, and
    * every pattern is anchored so Spark's replace-all and DuckDB's
    * replace-first semantics agree. */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val noUtm = regexp_replace(noFrag, "[?]utm_[^#]*$", "")
    val schemeHost = regexp_replace(
      lower(regexp_extract(noUtm, "^([A-Za-z]+://[^/?#]+)", 1)),
      "^(https?://)www[.]", "$1")
    val rest = regexp_replace(
      regexp_replace(noUtm, "^[A-Za-z]+://[^/?#]+", ""), "/$", "")
    concat(schemeHost, rest)
  }

  /** CCNet/RefinedWeb-style PARAGRAPH-level dedup: unlike document
    * dedup, the repeated unit (boilerplate header, nav bar, license
    * block) is removed from every document EXCEPT its first occurrence
    * and the survivors are reassembled — docs are cleaned, not dropped.
    * Segments here are fixed `segTokens`-token windows (the corpus has
    * no newlines; a real crawl splits on '\n'). First occurrence is the
    * corpus-wide lexicographic min (doc_id, seg_idx), resolved in two
    * exact aggregates: min doc per segment, then min index within that
    * doc — no struct-min, so the same plan expresses in ANSI SQL.
    *
    * Output per document: segment count, surviving-segment count, and
    * the md5 of the reassembled text (order restored by seg_idx) — the
    * narrow row a verification pass ships; callers wanting the cleaned
    * text drop the md5. Scale shape: segment-keyed hash aggs + an
    * equi-join back, the q_dedup_substring digest-join shape plus
    * reassembly; at 100 TB the shuffle key is md5(segment) (16 bytes)
    * instead of the raw ~60-byte window. */
  def paragraphDedup(docs: DataFrame, segTokens: Int = 10): DataFrame = {
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_segments",
        expr(s"(size(toks) + ${segTokens - 1}) DIV $segTokens").cast("long"))
    val segs = base.select(col("doc_id"),
      posexplode(when(col("n_segments") === 0, expr("array()"))
        .otherwise(expr(
          s"transform(sequence(0, int(n_segments) - 1), " +
            s"i -> array_join(slice(toks, i * $segTokens + 1, $segTokens), ' '))")))
        .as(Seq("seg_idx", "seg")))
    val f1 = segs.groupBy(col("seg")).agg(min(col("doc_id")).as("d0"))
    val f2 = segs.join(f1, Seq("seg")).where(col("doc_id") === col("d0"))
      .groupBy(col("seg"), col("d0")).agg(min(col("seg_idx")).as("i0"))
    val kept = segs.join(f2, Seq("seg"))
      .where(col("doc_id") === col("d0") && col("seg_idx") === col("i0"))
    val ka = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      expr("md5(array_join(transform(array_sort(collect_list(struct(seg_idx, seg))), x -> x.seg), ' '))")
        .as("kept_md5"))
    base.select(col("doc_id"), col("n_segments"))
      .join(ka, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_md5"), md5(lit("").cast("binary"))).as("kept_md5"))
      .orderBy("doc_id")
  }

  /** Gate key: 10-token-window paragraph dedup. The synthetic corpus
    * has no naturally repeated windows, so every third doc gets an
    * EXACTLY-10-token boilerplate header injected (the q_scrub_pii
    * device) — one shared segment per injected doc, original windows
    * left aligned: the first injected doc keeps the header, every
    * later one sheds exactly that segment. */
  def qDedupParagraph(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).withColumn("text",
      when(col("doc_id") % 3 === 0,
        concat(lit("terms of service apply to this content please read carefully "),
          col("text"))).otherwise(col("text")))
    paragraphDedup(docs)
  }

  /** Exact URL dedup after canonicalization: group on the canonical
    * form, count members and distinct raw spellings, keep the min
    * doc_id — the crawl-frontier dedup step. Scale shape: one regex
    * pass + a canonical-url-keyed hash agg; at 100 TB the canonical
    * string (or its 16-byte digest) is the shuffle key, never the page.
    *
    * Gate key: synthetic doc_id-derived URL variants over the domain
    * pool — the page id collides mod 100 (and the host derives from the
    * page id, not the doc id) so every canonical URL has ~n_docs/100
    * recrawls at every SF, and the variant arm ((doc_id DIV 100) % 4)
    * walks WITHIN a collision group: plain / +utm-params /
    * +trailing-slash / uppercased-with-fragment spellings of the same
    * canonical URL. */
  def qDedupUrl(spark: SparkSession, dir: String): DataFrame = {
    val host = element_at(typedLit(domainPool),
      ((col("doc_id") % 100) % domainPool.size).cast("int") + 1)
    val path = concat(lit("/p/"), (col("doc_id") % 100).cast("string"))
    val base = concat(lit("https://"), host, path)
    val variant = expr("(doc_id DIV 100) % 4")
    val url = when(variant === 1, concat(base, lit("?utm_source=feed&utm_campaign=sync")))
      .when(variant === 2, concat(base, lit("/")))
      .when(variant === 3, concat(lit("HTTPS://"), upper(host), path, lit("#ref")))
      .otherwise(base)
    Tables.documents(spark, dir)
      .select(col("doc_id"), url.as("url"))
      .withColumn("url_canon", canonicalUrl(col("url")))
      .groupBy(col("url_canon"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("url")).as("n_raw_forms"),
        min(col("doc_id")).as("keep_doc_id"))
      .orderBy("url_canon")
  }

  // --------------------------------------------- soft / weighted dedup

  /** q_soft_dedup — SoftDeDup: instead of DROPPING duplicates (the
    * qDedupExact path), every document keeps a training weight
    * 1/cluster_size, so repeated content contributes one document's
    * worth of gradient in total while unique text keeps weight 1. This
    * is the modern alternative when dropping loses coverage (the
    * upweight/downweight knob of data-mixing pipelines), and it
    * composes with temperature mixing (q_domain_mix_temp) downstream.
    *
    * Same scale shape as exact dedup — ONE digest-keyed aggregate whose
    * shuffle rows are constant-width — plus a keyed broadcast-back of
    * the tiny (digest, n) frame onto the doc ids. Weight = exact
    * 1/BIGINT then ROUND(,6). */
  def qSoftDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), md5(col("text")).as("h"))
    val clusters = d.groupBy(col("h")).agg(count(lit(1)).as("cluster_size"))
    d.join(clusters, "h")
      .select(col("doc_id"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size").cast("double"), 6).as("weight"))
      .orderBy("doc_id")
  }

  // --------------------------------------------- corpus statistics

  /** q_zipf_fit — Zipf-law fit over the term rank-frequency curve: the
    * least-squares slope of ln(freq) on ln(rank) (natural text ≈ −1;
    * synthetic or templated corpora flag themselves by flatter slopes —
    * a cheap corpus-health probe next to the per-doc quality gates).
    *
    * The regression runs on the VOCABULARY (rank table), not the
    * corpus: one token-count aggregate (map-side absorbed), a
    * vocabulary-sized rank window, then a 1-row power-sum reduce — the
    * q_stats_moments device, every sum DECIMAL-fixed before the double
    * arithmetic, slope/intercept ROUND(,6). */
  def qZipfFit(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(explode(tokens(lower(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    // vocab-sized frame: the rank is the range-bucketed device (r14),
    // never an unpartitioned window (a 100 TB crawl's "vocabulary" is
    // typo/hash-heavy — potentially billions of distinct terms)
    val ranked = graft.rel.ScalableRank.rangeRowNumber(counts, -col("cnt"),
      Seq(col("cnt").desc, col("term")), "rank")
    // per-term ln pairs rounded to 9 dp then DECIMAL-summed: the
    // engine-stable fold (q_domain_shift's device)
    val x = round(log(col("rank").cast("double")), 9).cast(DecimalType(18, 9))
    val y = round(log(col("cnt").cast("double")), 9).cast(DecimalType(18, 9))
    val sums = ranked.agg(
      count(lit(1)).as("n"),
      sum(x).cast("double").as("sx"),
      sum(y).cast("double").as("sy"),
      sum((x * y).cast(DecimalType(30, 18))).cast("double").as("sxy"),
      sum((x * x).cast(DecimalType(30, 18))).cast("double").as("sxx"))
    val nd = col("n").cast("double")
    val slope = (col("sxy") - col("sx") * col("sy") / nd) /
      (col("sxx") - col("sx") * col("sx") / nd)
    sums.select(
      col("n").as("vocab_size"),
      round(slope, 6).as("zipf_slope"),
      round(col("sy") / nd - slope * (col("sx") / nd), 6).as("intercept"))
  }

  /** Minimum bigram count for q_npmi_collocations. */
  val npmiMinCount = 5L

  /** q_npmi_collocations — NPMI-scored adjacent-token collocations
    * (Bouma 2009): bigrams whose observed co-occurrence beats the
    * independence prediction, normalized to [−1, 1] — the lexicon
    * most phrase-mining / tokenizer-seeding pipelines start from.
    * Where q_bpe_merge counts pairs for ONE merge decision and
    * q_boilerplate_ngrams mines repeated long n-grams, this scores
    * the association STRENGTH of every adjacent pair.
    *
    * Scale shape: the bigram stream is a per-row slice/zip (no join),
    * aggregated map-side; unigram margins join keyed on each side of
    * the (small) surviving bigram table; the corpus total is a one-row
    * broadcast. NPMI = ln ratios of exact BIGINT counts, ROUND(,6). */
  def qNpmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(lower(col("text"))).as("t"))
    val bigrams = toks
      .select(explode(zip_with(
        slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
        slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= npmiMinCount)
    val uni = toks
      .select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val total = toks.agg(sum(size(col("t"))).as("n_tokens"))
    val nPairs = toks.agg(
      sum(greatest(size(col("t")) - 1, lit(0))).as("n_pairs"))
    val pxy = col("c_xy").cast("double") / col("n_pairs").cast("double")
    val px = col("c_1").cast("double") / col("n_tokens").cast("double")
    val py = col("c_2").cast("double") / col("n_tokens").cast("double")
    bigrams
      .join(uni.select(col("w").as("w1"), col("c").as("c_1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c_2")), "w2")
      .crossJoin(broadcast(total))
      .crossJoin(broadcast(nPairs))
      .select(col("w1"), col("w2"), col("c_xy"),
        round(log(pxy / (px * py)) / -log(pxy), 6).as("npmi"))
      .orderBy("w1", "w2")
  }

  // --------------------------------------------- readability

  /** q_readability — Flesch–Kincaid grade estimate per document:
    * 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59, with
    * sentences = punctuation-run count floored at 1 and syllables
    * approximated by vowel-group counting (each vowel-less token still
    * costs one syllable). The classic length-complexity quality gate —
    * cheap enough to run per-row at 100 TB (pure codegen expressions,
    * zero joins; the same shape as the Gopher gates).
    *
    * The corpus is unpunctuated lowercase words, so sentence count
    * degenerates to 1 and the grade is driven by words and syllable
    * density — documented, measured, and fine for the recipe: the
    * expression set is the real one. Both regex classes are plain
    * character classes (Java ≡ RE2, the bpePieceRe argument). */
  def qReadability(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(lower(col("text")))
    val nWords = greatest(size(toks), lit(1)).cast("double")
    val nSent = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).cast("double")
    val vowelGroups = regexp_count(lower(col("text")), lit("[aeiou]+"))
    val noVowelWords = size(filter(toks, t => !t.rlike("[aeiou]")))
    val nSyll = (vowelGroups + noVowelWords).cast("double")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        nWords.cast("long").as("n_words"),
        nSent.cast("long").as("n_sentences"),
        nSyll.cast("long").as("n_syllables"),
        round(lit(0.39) * (nWords / nSent) + lit(11.8) * (nSyll / nWords) - lit(15.59), 6)
          .as("fk_grade"))
      .orderBy("doc_id")
  }

  // ------------------------------------------ Count-Min heavy hitters

  /** Count-Min sketch depth (independent hash rows). */
  val cmsDepth = 4
  /** Count-Min sketch width (buckets per row). Sized so the sketch
    * genuinely collides on this corpus (the unigram vocabulary is only
    * 31 tokens — over BIGRAMS at w=256, 17–19 of the top 20 overcount
    * at every SF) while the ⌈2N/w⌉ bound still holds with ~2×
    * headroom (measured max excess 105/1145 vs bounds 209/2076 at
    * sf0.01/sf0.1). */
  val cmsWidth = 256
  /** Heavy hitters reported. */
  val hhTopK = 20

  /** q_heavy_hitters — Count-Min-sketch frequent bigrams: the top
    * [[hhTopK]] corpus bigrams with their exact counts AND the CMS
    * estimate read from a [[cmsDepth]]×[[cmsWidth]] counter table,
    * plus int flags pinning both sketch guarantees (est ≥ exact —
    * CMS never undercounts; est ≤ exact + ⌈2N/w⌉ — the collision-mass
    * bound, 2× the expected N/w so it is not knife-edge). The sketched
    * sibling of q_npmi_collocations' exact pair counts, under the
    * q_approx_distinct device: the exact side exists for the oracle
    * gate; at 100 TB the production call keeps ONLY the fixed-size
    * mergeable counter table (d·w cells per partition, merged by
    * addition — no vocabulary state), the reason CMS beats an exact
    * count when the key universe (all bigrams) won't fit.
    *
    * Scale shape: the corpus-linear pass ends at the map-side-combined
    * bigram count (distinct-vocab frame, sub-linear by Heaps' law);
    * counters are ONE keyed agg over vocab×depth; top-k is
    * TakeOrdered (no global sort); estimates join the 20-row top set
    * against the ≤ d·w-row broadcast counter table. Hashes are
    * md5-derived ([[baseHash60]]) so the oracle recomputes them
    * positionally. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(shingles(tokens(lower(col("text"))), 2)).as("t"))
      .filter(col("t") =!= "")
    val counts = toks.groupBy(col("t")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("n_total"))
    def bucketed(df: DataFrame): DataFrame = df
      .select(col("t"), col("n"),
        explode(sequence(lit(0), lit(cmsDepth - 1))).as("r"))
      .withColumn("b", pmod(
        baseHash60(concat(lit("cms"), col("r").cast("string"), lit(":"), col("t"))),
        lit(cmsWidth.toLong)))
    val counters = bucketed(counts).groupBy(col("r"), col("b"))
      .agg(sum(col("n")).as("cnt"))
    val top = counts.orderBy(col("n").desc, col("t")).limit(hhTopK)
    bucketed(top)
      .join(broadcast(counters), Seq("r", "b"))
      .groupBy(col("t"), col("n")).agg(min(col("cnt")).as("cms_est"))
      .crossJoin(broadcast(total))
      .select(col("t").as("token"), col("n").as("n_exact"), col("cms_est"),
        (col("cms_est") >= col("n")).cast("int").as("overcount_ok"),
        (col("cms_est") <= col("n") +
          ceil(lit(2.0) * col("n_total").cast("double") / lit(cmsWidth.toDouble)))
          .cast("int").as("within_bound"))
      .orderBy(col("n_exact").desc, col("token"))
  }

  /** q_dedup_eval — "measure, don't guess" for the near-dup stack:
    * MinHash BANDING recall/precision measured against the exact
    * df-capped-Jaccard ground truth on the SAME corpus. recall asks
    * "which true near-dup pairs did the bands never propose?" (the
    * real production risk of LSH — silently missed duplicates);
    * band_precision asks "how selective are the bands?" (the cost of
    * the exact-verify stage). At 100 TB this audit runs on a hash
    * sample; the plan is the same.
    *
    * Scale shape: truth = the df-capped shingle equi-join (never
    * all-pairs); candidates = the banded equi-join — both consuming ONE
    * SHARED tokenize→shingle stream (r14: the two paths used to build
    * it independently, doubling the corpus passes; q_dedup_eval solo
    * dropped 5.0 → 4.3 s solo); the comparison is one pair-keyed join
    * over two pair sets ≪ corpus — the pair frames recompute from the
    * checkpointed shingle blocks per consumer, which measures CHEAPER
    * than materializing them. Counts are exact BIGINTs; the two ratios
    * are one-shot ROUND(,6). */
  def qDedupEval(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    val sh = shingleRows(docs, 3) // df-capped; checkpointed internally
    // truth: exact Jaccard over the shared stream (the
    // ngramJaccardPairs body, probe-free)
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.select(col("doc_id").as("id_a"), col("s"))
      .join(sh.select(col("doc_id").as("id_b"), col("s")), Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("ni"))
    val truth = (inter
      .join(counts.select(col("doc_id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(counts.select(col("doc_id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      // EXACTLY ngramJaccardPairs' predicate: 6-dp-rounded, strict >
      .filter(round(col("ni").cast("double") /
        (col("na") + col("nb") - col("ni")), 6) > 0.6)
      .select(col("id_a"), col("id_b")))
    // candidates: banding over the SAME stream
    val cand = (bandedCandidatesFromSignatures(minhashSignaturesFromShingles(sh)))
    // r16: ONE full-outer pair join + one aggregate computes all three
    // counts — the old shape (inner `matched` join + three crossed
    // count aggregates) planned the truth subtree twice and the
    // candidate subtree twice; exchange reuse hid part of that, but the
    // post-exchange join/aggregate work still ran per branch (guide
    // §2.4 "share one exchange"). Counts are identical: n_true = truth
    // rows, n_candidates = cand rows, n_matched = pairs in both.
    val g = truth.select(col("id_a"), col("id_b"), lit(1L).as("t"))
      .join(cand.select(col("id_a"), col("id_b"), lit(1L).as("c")),
        Seq("id_a", "id_b"), "full_outer")
      .agg(coalesce(sum(col("t")), lit(0L)).as("n_true"),
        coalesce(sum(col("c")), lit(0L)).as("n_candidates"),
        coalesce(sum(col("t") * col("c")), lit(0L)).as("n_matched"))
    g.select(col("n_true"), col("n_candidates"), col("n_matched"),
      round(col("n_matched").cast("double") / col("n_true").cast("double"), 6)
        .as("recall"),
      round(col("n_matched").cast("double") / col("n_candidates").cast("double"), 6)
        .as("band_precision"))
  }

  /** q_quantile_normalize — cross-source quantile normalization of the
    * document length signal: each doc's within-source rank is mapped to
    * the GLOBAL length distribution's value at the same quantile, so
    * every source ends up with the same marginal distribution — the
    * batch-effect correction (Bolstad's microarray recipe) a mixed
    * crawl needs before a single global length/quality cut is fair
    * (q_quality_tails_by_source adapts the CUT per source; this
    * adapts the VALUES — the other standard answer).
    *
    * Scale shape: two rank passes over narrow (score, id) frames —
    * the global one is the range-bucketed
    * [[graft.rel.ScalableRank.rangeRowNumber]] device (r14; never an
    * unpartitioned window's single-reducer sort over ALL docs at
    * 100 TB), the other source-KEYED — then ONE equi-join on the
    * computed global index. INTEGER-exact
    * end to end: the target index is (r−1)(N−1) div (m−1) + 1 in
    * BIGINT arithmetic — explicit integer division (`div` / DuckDB
    * `//`), not a float `/` whose floor is only exact below 2^53 —
    * ties ranked by doc_id on both engines. */
  def qQuantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val global = graft.rel.ScalableRank.rangeRowNumber(
      docs.select(col("n_chars").as("g_chars"), col("doc_id").as("g_id")),
      col("g_chars"), Seq(col("g_chars"), col("g_id")), "gidx")
    val n = docs.agg(count(lit(1)).as("n_total"))
    val ws = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    val ranked = docs
      .withColumn("ridx", row_number().over(ws).cast("long"))
      .withColumn("m", count(lit(1)).over(Window.partitionBy(col("source"))))
      .crossJoin(broadcast(n))
    // TRUE integer division (`div` here, `//` in the oracle): a plain `/`
    // on longs is double division in both engines, exact only while the
    // product (ridx-1)(n_total-1) stays under 2^53 (~9e7 docs); `div`
    // keeps the target index BIGINT-exact to int64 range
    val target = when(col("m") > 1,
      expr("(ridx - 1) * (n_total - 1) div (m - 1)") + 1)
      // lone doc -> the global median slot
      .otherwise(expr("(n_total + 1) div 2"))
    ranked.withColumn("gidx", target.cast("long"))
      .join(global.select(col("gidx"), col("g_chars")), Seq("gidx"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("g_chars").as("norm_chars"))
      .orderBy("doc_id")
  }
}
