package graft
import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.SparkSession
import Harness.r3
object Bench {
  /** The regression gate's baseline: the usable medians of a committed
    * bench artifact, or why it must not be read. A baseline measured
    * with another core count or scale factor, or one that does not
    * record them, says nothing about this run's setup. A baseline that
    * was itself contended_run is skipped whole; keys it flagged
    * contended or unstable (and erroring `null` keys) are left out. */
  def baselineMedians(json: String, cpus: Int, sf: String): Either[String, Map[String, Double]] =
    Try(Harness.json.readTree(json)).toOption.toRight("is not JSON").flatMap { b =>
      def got(field: String) = b.path(field).asText("unrecorded")
      Seq("cpus" -> cpus.toString, "sf" -> sf).collectFirst {
        case (f, want) if got(f) != want => s"$f ${got(f)}, this run $want"
      }.orElse(Option.when(b.path("contended_run").asBoolean(true))("contended_run")).toLeft {
        val bad = Seq("contended", "unstable").flatMap(b.path(_).elements.asScala.map(_.asText)).toSet
        b.path("queries").properties.asScala.collect {
          case e if e.getValue.isNumber && !bad(e.getKey) => e.getKey -> e.getValue.asDouble
        }.toMap
      }
    }

  private def git(args: String*): Option[String] = try {
    val pr = new ProcessBuilder(("git" +: args): _*).start()
    val out = new String(pr.getInputStream.readAllBytes(), "UTF-8")
    if (pr.waitFor() == 0 && out.trim.nonEmpty) Some(out) else None
  } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.cpus
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // per-key untimed warm-up rep (default on): rep 1 of a cold key pays
    // whole-stage-codegen compilation of that key's unique generated
    // code — measured spikes of 1.5-35 s on first rep vs stable
    // sub-second repeats (q_text_tokens 1.50/0.21/0.21). At production
    // scale compile time amortizes over minutes-long stages, so the
    // steady-state median is the honest throughput number; the warm-up
    // also kills the rep-1-spike "unstable" false flags that made
    // round-over-round comparisons discard healthy keys.
    val warmup = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1").toInt.max(0)
    val spark = Harness.session(cpus)
    // bounded-collect audit — see graft.CollectAudit; any key whose
    // largest driver collect exceeds the cap fails the sweep
    val collectCap = sys.env.get("SPARK_GRAFT_COLLECT_CAP").map(_.toLong).getOrElse(10000L)
    val collectAudit = new CollectAudit(spark)
    def flushAudit(key: String): Unit = collectAudit.advanceTo(key)
    // warm up JVM/codegen + parquet footer caches so the first timed
    // query isn't charged ~10 s of one-time session startup
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // time a noop-format write, not count(): EliminateSorts drops a final
    // ORDER BY under count(), so count() would systematically exclude the
    // sort cost that Verify's parquet dump pays
    // median-of-reps per query: single-shot timing has a ±0.3 s noise
    // floor at sf0.1 that round-over-round comparisons misread as
    // regressions; the reported value per key is the median, with the
    // raw per-run samples kept under "runs"
    // a failing query must be VISIBLE in the bench JSON (an "errors"
    // entry), never a silently-absorbed near-0s "success"
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b restricts the run — the targeted-
    // iteration loop for optimizing one key without a 4-minute sweep.
    // Unknown keys (typos) and an empty filter fail LOUDLY: an empty
    // run reported as success with total 0.000 is worse than a crash.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { keys =>
      val unknown = keys -- SparkEntry.queries.keySet
      if (keys.isEmpty || unknown.nonEmpty) {
        System.err.println(s"[bench] SPARK_GRAFT_BENCH_ONLY is ${
          if (keys.isEmpty) "empty" else s"unknown: ${unknown.toSeq.sorted.mkString(", ")}"}")
        spark.stop()
        sys.exit(2)
      }
    }
    // contention sentinel: a fixed CPU-bound no-op job timed before each
    // key and once after the last — co-tenant load that inflates query
    // times inflates the sentinel identically, so a contended run labels
    // ITSELF (r5's driver run misread 6 keys by 4-19× with no way to
    // tell from the artifact). Key i is covered by sentinels i and i+1;
    // flagged when BOTH exceed 2× the run's median sentinel (floored at
    // 0.10 s) — one-sided flags false-positive on GC blips (~10/sweep
    // measured solo).
    // 64M rows ≈ 0.2 s solo: big enough that GC/scheduler noise on the
    // sentinel itself stays well under the 2× flag threshold (a 16M-row
    // variant measured base 0.044 s with ±0.15 s noise → ~10 false
    // flags per solo sweep)
    def sentinelRun(): Double = {
      val t0 = System.nanoTime()
      spark.range(1L << 26).selectExpr("sum(id * 3)")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    sentinelRun() // codegen warm-up: the first sentinel pays plan compile
    val sentinels = scala.collection.mutable.ArrayBuffer[Double]()
    // one key's full measurement (shared by the sweep and the flagged-
    // key rerun pass): untimed warm-ups — compiles the key's codegen +
    // primes shuffle file/page caches; failures are ignored because the
    // timed loop records them as the key's visible "errors" entry —
    // then `reps` timed noop writes. An errored rep's (typically
    // truncated) wall time must NOT enter the sample: the "errors"
    // entry is the only signal, and the median is over successful reps
    // only (0.0 if none succeeded).
    def measureKey(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Vector[Double], Option[String]) = {
      var err: Option[String] = None
      (1 to warmup).foreach { _ =>
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => }
        Harness.releasePinned(spark)
      }
      val times = (1 to reps).iterator.takeWhile(_ => err.isEmpty).flatMap { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
                 catch { case t: Throwable => err = Some(Harness.errorText(t)); false }
        val dt = (System.nanoTime() - t0) / 1e9
        // outside the timer: releasing pinned blocks is harness hygiene,
        // not query cost
        Harness.releasePinned(spark)
        if (ok) Some(dt) else None
      }.toVector
      val median = if (times.isEmpty) 0.0 else times.sorted.apply((times.size - 1) / 2)
      (median, times, err)
    }
    val results = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      sentinels += sentinelRun()
      flushAudit(name)
      val (median, times, err) = measureKey(fn)
      (name, median, times, err)
    }
    sentinels += sentinelRun()
    val sentinelBase = {
      val sorted = sentinels.sorted
      sorted((sorted.size - 1) / 2) // median: robust to its own outliers
    }
    // two distinct contention signatures, two flags:
    //  - per-key: load overlapping a key's measurement window — BOTH
    //    surrounding sentinels exceed 2× the run's median (with a 0.1 s
    //    floor). Requiring both sides kills the false positives from
    //    isolated GC/scheduler blips, which hit one sentinel, not two —
    //    a solo sweep measured ~10 single-sided blips; real contention
    //    spans the whole window
    //  - whole-run: SUSTAINED load (the r5 failure mode: every key
    //    uniformly 4-19× inflated, in-run variance invisible) — the
    //    run median itself exceeds 2× the solo reference time for the
    //    fixed sentinel workload (~0.06-0.10 s for the 64M-row sum at
    //    8-32 threads on this container; recalibrate via
    //    SPARK_GRAFT_SENTINEL_REF if the hardware changes)
    val sentinelRef = sys.env.get("SPARK_GRAFT_SENTINEL_REF")
      .map(_.toDouble).getOrElse(0.10)
    val runContended = sentinelBase > 2 * sentinelRef
    val perKeyCut = 2 * math.max(sentinelBase, 0.10)
    val contended0 = results.zipWithIndex.collect {
      case ((k, _, _, _), i)
        if math.min(sentinels(i), sentinels(i + 1)) > perKeyCut => k
    }
    // per-key dispersion flag, independent of the sentinels: a key whose
    // own reps disagree by >2.5× (max/min) had SOMETHING interfere with
    // at least one rep — load the sentinels missed, GC, a spill — and
    // its median is suspect even if the run as a whole looks clean. A
    // healthy solo sweep has zero of these; any round-over-round
    // comparison should discard flagged keys first.
    val unstable0 = results.collect {
      case (k, _, ts, _) if ts.size >= 2 && ts.max > 2.5 * ts.min => k
    }
    // third contention signature (round-10 verdict ask #3): steady load
    // covering a key's entire window inflates all reps AND both
    // sentinels uniformly, so neither flag above fires (q_agg_grouping_
    // sets ran 8x solo with clean sentinels in r10). The committed solo
    // BENCH_LOCAL.json is the reference the other two signals lack: flag
    // any key whose median exceeds 2x its last committed clean-solo
    // value (with floors — sub-0.15 s keys sit on the scheduler noise
    // floor, and a 2x of 0.2 s is still noise, so also require +0.5 s
    // absolute). Baseline comes from git HEAD, not the working tree, so
    // an earlier contaminated overwrite of the file can't poison the
    // check; see baselineMedians for the baselines it will not read.
    val baseline = sys.env.get("SPARK_GRAFT_BENCH_BASELINE")
      .flatMap(p => Try(java.nio.file.Files.readString(java.nio.file.Paths.get(p))).toOption)
      .orElse(git("show", "HEAD:BENCH_LOCAL.json"))
      .fold[Either[String, Map[String, Double]]](Left("none found"))(baselineMedians(_, cpus, sfDir))
    baseline.left.foreach(r => System.err.println(s"[bench] regression baseline skipped: $r"))
    val baseQ = baseline.getOrElse(Map.empty)
    def regressedVs(k: String, m: Double): Boolean =
      baseQ.get(k).exists(b => b >= 0.15 && m > 2 * b && m - b > 0.5)
    val regressed0 = results.collect { case (k, m, _, None) if regressedVs(k, m) => k }
    // auto-rerun pass (round-13 verdict ask #7): every flagged key gets
    // ONE solo re-measurement at the end of the sweep — by then the
    // transient co-tenant load that caused most flags is gone, and the
    // adjudication that used to cost a manual SPARK_GRAFT_BENCH_ONLY
    // cycle per round happens inside the run. A rerun is TRUSTED (its
    // median replaces the key's value and clears its flags) only when
    // its own evidence is clean: no error, bracketing sentinels under
    // the per-key cut, rep spread ≤ 2.5×. Both numbers stay on the
    // artifact under "rerun" — a cleared flag is auditable, not silent.
    val flagged0 = (contended0 ++ unstable0 ++ regressed0).distinct
    val reruns = flagged0.map { k =>
      val s0 = sentinelRun()
      flushAudit(k)
      val (m, ts, e) = measureKey(SparkEntry.queries(k))
      val s1 = sentinelRun()
      val clean = e.isEmpty && math.min(s0, s1) <= perKeyCut &&
        (ts.size < 2 || ts.max <= 2.5 * ts.min)
      (k, m, ts, e, clean)
    }
    val rerunClean = reruns.collect { case (k, m, ts, _, true) => k -> (m, ts) }.toMap
    // a trusted rerun replaces a key's MEDIAN and clears its
    // contention/instability flags — but never its first-pass ERROR
    // (r15 advice): a rerun speaks to load, not to whether the key can
    // fail; an intermittently-erroring key must keep failing the sweep,
    // so only error-free first passes are eligible for replacement (the
    // rerun numbers stay auditable under "rerun" either way)
    val finalResults = results.map {
      case (k, _, _, None) if rerunClean.contains(k) =>
        val (m, ts) = rerunClean(k)
        (k, m, ts, Option.empty[String])
      case r => r
    }
    val contended = contended0.filterNot(rerunClean.contains)
    val unstable = unstable0.filterNot(rerunClean.contains)
    // regressed re-adjudicates against the FINAL median: a clean rerun
    // that still exceeds the committed baseline is a real regression
    val regressed = finalResults.collect {
      case (k, m, _, None) if regressed0.contains(k) && regressedVs(k, m) => k
    }
    // an erroring key is `null` in every timing map, EXCLUDED from the
    // total and from n_queries, counted in n_errors, and fails the run's
    // exit code (round-9 verdict ask #4: 9 erroring keys recorded as
    // 0.000 inside a rc-0 "success" made BENCH_r09 read fully green)
    def medians(rs: Seq[(String, Double, Vector[Double], Option[String])]) =
      VectorMap.from(rs.map { case (k, m, _, e) => k -> (if (e.isDefined) null else r3(m)) })
    // ascending by median: the harness keeps only the LAST ~2000 output
    // chars of the run, so the expensive (interesting) keys and the
    // headline total must sit at the END of the line to survive truncation
    val byTime = finalResults.sortBy(_._2)
    val qs = medians(byTime)
    val runs = VectorMap.from(byTime.map { case (k, _, ts, _) => k -> ts.map(r3) })
    val errs = VectorMap.from(finalResults.collect { case (k, _, _, Some(e)) => k -> e })
    val ok = finalResults.filter(_._4.isEmpty)
    val nErrors = finalResults.size - ok.size
    val total = ok.map(_._2).sum
    val method = s"median of $reps noop-format writes per query after $warmup untimed warm-up rep (steady-state: codegen compile paid before timing; includes final ORDER BY cost; value per key = median over successful reps, raw samples under runs, queries sorted ascending by median; contended = keys whose surrounding sentinel no-ops ran >2x the run median, unstable = keys whose own reps spread >2.5x (max/min), regressed = keys whose median exceeds 2x (and +0.5s) their value in the clean solo BENCH_LOCAL.json at git HEAD measured with the same cpus and sf (catches sustained load the sentinels miss; empty if no such baseline, baseline_skipped = why) - discard flagged medians in round-over-round comparisons, contended_run = the whole run is under sustained load (sentinel median >2x the solo reference) - treat such medians as load-inflated; every first-pass-flagged key is auto-rerun ONCE at sweep end and its rerun median replaces the flagged one (clearing the flag) only when the rerun itself is evidence-clean (no error, clean bracketing sentinels, rep spread <=2.5x) - both passes stay on the artifact under rerun; round-1 timed count(), which dropped sorts via EliminateSorts - totals not directly comparable); collect_audit = per-key max rows any single collect-class action delivered to the driver (topmost numOutputRows capped by root limits), violations = keys over the cap (default 10000, SPARK_GRAFT_COLLECT_CAP; the three memory-sink streaming keys carry finite elevated caps ~10x their sf0.1 result size instead of an exemption) - a non-empty list fails the run"
    // full JSON (all keys + raw samples) lands in the repo; stdout gets a
    // COMPACT line instead — rounds 1-4 all show "parsed": null in
    // BENCH_r*.json because the full ~5 kB line overflowed the harness's
    // ~2000-char stdout tail and could never be json.loads'd whole
    val rerun = VectorMap.from(reruns.map { case (k, m, _, e, clean) =>
      val first = results.collectFirst { case (`k`, m0, _, _) => m0 }.getOrElse(0.0)
      k -> VectorMap("first" -> r3(first), "rerun" -> (if (e.isDefined) null else r3(m)), "clean" -> clean)
    })
    // drain the bus so the last key's collect events are attributed,
    // then close the audit: keys whose biggest single driver collect
    // exceeded the cap are VIOLATIONS (whitelist currently empty — the
    // engine claims every collect is control-plane) and fail the run;
    // everything over 1000 rows is listed for visibility either way
    val audit = collectAudit.snapshot()
    // the streaming driver-gate keys run through a MEMORY SINK, which
    // materializes each micro-batch's RESULT table on the driver — the
    // harness device that lets the driver hash a stream's output, not a
    // data-path collect (production writes the same plans to a real
    // sink; StreamQueries.scala:22-31 documents the contract). The
    // result-sized keys at sf0.1 get a FINITE elevated cap — ~10× their
    // measured sf0.1 result size (r15 advice: an unconditional
    // exemption would let a regression that materializes millions of
    // driver rows pass silently) — every other streaming key stays
    // under the base cap, and any new offender still fails the sweep.
    val collectWhitelist = Map(
      "q_stream_session" -> 1000000L,   // complete-mode session table ≈ |sessions| (~95k)
      "q_stream_sessionize" -> 600000L, // append of all closed sessions (~57k)
      "q_stream_join_outer" -> 200000L) // append of matches + watermark-flushed nulls (~20k)
    val collectViolations = audit.collect {
      case (k, n) if n > collectWhitelist.getOrElse(k, collectCap.toLong) => k
    }.toSeq.sorted
    val collectJson = VectorMap(
      "cap" -> collectCap,
      "over_1k" -> VectorMap.from(audit.filter(_._2 > 1000).toSeq.sortBy(-_._2)),
      // drain_timeouts: keys whose post-run bus drain timed out — their
      // straggler collect events attribute to the NEXT key, so a
      // violation adjacent to one of these is suspect (r15 advice)
      "drain_timeouts" -> collectAudit.drainTimeouts(),
      "violations" -> collectViolations)
    // the setup a later run's regression gate compares against, then the
    // headline fields, last in every artifact
    val tail = Seq("sf" -> sfDir, "cpus" -> cpus, "git_commit" -> git("rev-parse", "HEAD").map(_.trim),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20), "n_queries" -> ok.size,
      "n_errors" -> nErrors, "per_key_mean" -> r3(if (ok.nonEmpty) total / ok.size else 0.0))
    val headline = Seq("unit" -> "sec", "metric" -> "total", "value" -> r3(total))
    // a BENCH_ONLY partial sweep must NOT silently overwrite the
    // committed full-sweep BENCH_LOCAL.json — default partial output to
    // a temp file instead (override explicitly if you mean it)
    val outFile = sys.env.get("SPARK_GRAFT_BENCH_OUT").getOrElse {
      if (only.isDefined) {
        val p = java.nio.file.Files.createTempFile("bench_partial_", ".json").toString
        System.err.println(s"[bench] partial run -> $p (BENCH_LOCAL.json is reserved for full sweeps; set SPARK_GRAFT_BENCH_OUT to override)")
        p
      } else "BENCH_LOCAL.json"
    }
    Harness.writeJson(outFile, VectorMap.from(Seq("method" -> method, "runs" -> runs,
      "queries" -> qs, "errors" -> errs,
      "sentinel" -> VectorMap("base" -> r3(sentinelBase), "ref" -> r3(sentinelRef),
        "max" -> r3(sentinels.max), "samples" -> sentinels.map(r3)),
      "contended" -> contended, "unstable" -> unstable, "regressed" -> regressed,
      "rerun" -> rerun, "collect_audit" -> collectJson, "baseline_checked" -> baseQ.nonEmpty,
      "baseline_skipped" -> baseline.left.toOption, "contended_run" -> runContended) ++ tail ++ headline))
    def compact(queries: VectorMap[String, Any], note: Seq[(String, Any)]) =
      VectorMap.from(Seq("full" -> outFile, "queries" -> queries, "errors" -> errs,
        "n_contended" -> contended.size, "n_unstable" -> unstable.size,
        "n_regressed" -> regressed.size, "n_collect_violations" -> collectViolations.size,
        "contended_run" -> runContended) ++ tail ++ note ++ headline)
    // compact stdout line: slowest 25 keys only (the rest are sub-second
    // scheduling-floor keys), headline fields last; ~1000 chars total so
    // the whole line survives inside the tail window alongside sbt's epilogue
    println(Harness.json.writeValueAsString(compact(medians(byTime.takeRight(25)), Seq("queries_note" ->
      s"slowest 25 of ${results.size}; every key + sentinel detail in $outFile"))))
    // the same compact line, ALL-keys queries map, to a fixed file-wise
    // contract (r16 verdict ask #2): two rounds of PERF had an empty
    // per_query table because the stdout line arrives '[info]'-prefixed
    // through sbt's logger and the driver's extractor rejects it. Full
    // sweeps only — a partial BENCH_ONLY run must not masquerade as one.
    if (only.isEmpty) Harness.writeJson("BENCH_COMPACT.json", compact(qs, Nil))
    if (collectViolations.nonEmpty)
      System.err.println(s"[bench] COLLECT-AUDIT VIOLATIONS (> $collectCap rows to the driver): ${collectViolations.mkString(", ")}")
    spark.stop()
    // any erroring key — or an over-cap driver collect — fails the
    // whole run; a partial sweep must never exit 0 and masquerade as a
    // full one downstream
    if (nErrors > 0 || collectViolations.nonEmpty) sys.exit(1)
  }
}
