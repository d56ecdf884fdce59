package graft

import org.apache.spark.sql.functions._

/** Pins the r16 starved-scan fanout (Tables.scaled): the test corpora
  * are single-file single-row-group parquet, so every scan planned ONE
  * task and the whole scan-stage pipeline ran on one core (guide §2.5's
  * unsplittable-input case). The device fans the TEXT corpus
  * (documents — the payload-heavy table; a full-sweep A/B showed the
  * narrow numeric facts net-lose from it) out by a deterministic hash
  * of its natural key when — and only when — the planned scan
  * parallelism is under half the session's cores.
  *
  * The suite session runs with spark.graft.scan.fanout=false so the
  * plan pins track query shapes, not the input artifact; this spec
  * toggles the conf per assertion. */
class ScanFanoutSpec extends SparkSpec {

  private def withFanout[A](on: Boolean)(f: => A): A = {
    val prev = spark.conf.getOption("spark.graft.scan.fanout")
    spark.conf.set("spark.graft.scan.fanout", on.toString)
    try f finally prev match {
      case Some(v) => spark.conf.set("spark.graft.scan.fanout", v)
      case None => spark.conf.unset("spark.graft.scan.fanout")
    }
  }

  test("fanout widens a starved documents scan to the session's parallelism") {
    val starved = withFanout(false)(
      Tables.documents(spark, sfDir).rdd.getNumPartitions)
    val fanned = withFanout(true)(
      Tables.documents(spark, sfDir).rdd.getNumPartitions)
    assert(starved < spark.sparkContext.defaultParallelism / 2 + 1,
      s"fixture no longer starved (starved scan plans $starved tasks) — " +
        "re-check whether the fanout device still has a case")
    assert(fanned == spark.sparkContext.defaultParallelism,
      s"fanout produced $fanned partitions")
  }

  test("fanout is a no-op when the scan is already parallel enough") {
    // a corpus whose scan plans >= cores/2 tasks: write the fixture out
    // as many small files under <tmp>/documents.parquet and read it back
    // THROUGH Tables.documents with the fanout ON (r16 advice #3: the
    // old form read via spark.read.parquet directly, so the no-Exchange
    // assertion never exercised the device's 2*have > want branch)
    val dir = java.nio.file.Files.createTempDirectory("graft_fanout").toString
    try {
      Tables.documents(spark, sfDir).repartition(16)
        .write.parquet(s"$dir/documents.parquet")
      val read = withFanout(true)(Tables.documents(spark, dir))
      val have = read.rdd.getNumPartitions
      assert(have * 2 > spark.sparkContext.defaultParallelism)
      val plan = read.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"fanout must not fire on an already-parallel scan:\n$plan")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("malformed spark.graft.scan.fanout fails loudly, not via toBoolean") {
    val prev = spark.conf.getOption("spark.graft.scan.fanout")
    spark.conf.set("spark.graft.scan.fanout", "maybe")
    try {
      val e = intercept[IllegalArgumentException](Tables.documents(spark, sfDir))
      assert(e.getMessage.contains("spark.graft.scan.fanout"))
      assert(e.getMessage.contains("maybe"))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.graft.scan.fanout", v)
      case None => spark.conf.unset("spark.graft.scan.fanout")
    }
  }

  test("fanned-out results are identical to the starved layout's") {
    // order-insensitive equality on a representative aggregate +
    // row-identity on a keyed projection
    def agg(on: Boolean) = withFanout(on)(
      Tables.documents(spark, sfDir).groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("c"))
        .orderBy("source").collect().toSeq)
    assert(agg(false) == agg(true))
    def rows(on: Boolean) = withFanout(on)(
      Tables.documents(spark, sfDir).select("doc_id", "source")
        .orderBy("doc_id").collect().toSeq)
    assert(rows(false) == rows(true))
  }

  test("predicate pushdown survives the fanout repartition") {
    val plan = withFanout(true) {
      // consume the payload column so the fanout exchange stays in the
      // plan (IdleFanoutPrune would otherwise remove it — see below)
      // and the filter must cross it to reach the scan
      val df = Tables.documents(spark, sfDir)
        .filter(col("n_chars") < 100)
        .select(col("doc_id"), length(col("text")).as("len"))
      df.queryExecution.executedPlan.toString
    }
    assert(plan.contains("Exchange"), s"payload consumer lost the fanout:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(n_chars"),
      s"filter did not reach the scan:\n$plan")
  }

  test("IdleFanoutPrune: metadata-only consumers skip the fanout exchange") {
    // r17 (r16 verdict ask #4): a consumer whose pruned plan never reads
    // the payload column must not pay the fanout exchange — and the
    // opt-out is PLAN-shaped, so the same table with a payload
    // expression keeps it
    withFanout(true) {
      val meta = Tables.documents(spark, sfDir)
        .select("doc_id", "source", "n_chars")
        .queryExecution.executedPlan.toString
      assert(!meta.contains("Exchange"),
        s"metadata-only plan still pays the fanout exchange:\n$meta")
      val payload = Tables.documents(spark, sfDir)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .queryExecution.executedPlan.toString
      assert(payload.contains("Exchange"),
        s"payload plan lost the fanout exchange:\n$payload")
    }
  }

  test("IdleFanoutPrune: pruned and fanned results are identical") {
    def rows(on: Boolean) = withFanout(on)(
      Tables.documents(spark, sfDir).select("doc_id", "n_chars")
        .orderBy("doc_id").collect().toSeq)
    assert(rows(false) == rows(true))
  }

  test("IdleFanoutPrune keeps a repartition the user wrote") {
    val plan = withFanout(true)(Tables.documents(spark, sfDir).select("doc_id")
      .repartition(200, col("doc_id")).queryExecution.executedPlan.toString)
    assert(plan.contains("Exchange hashpartitioning(doc_id") && plan.contains(", 200)"),
      s"the user's repartition lost its exchange:\n$plan")
  }

  test("IdleFanoutPrune does nothing while spark.graft.scan.fanout is false") {
    // built with the fanout on, so the frame carries the fanout node;
    // planned with it off, so the rule must leave that node alone
    val meta = withFanout(true)(Tables.documents(spark, sfDir).select("doc_id", "source"))
    val plan = withFanout(false)(meta.queryExecution.executedPlan.toString)
    assert(plan.contains("Exchange"), s"the rule ignored its flag:\n$plan")
  }

  test("an overwritten corpus path is measured again, not served from the cache") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fanout").toString
    try {
      val src = Tables.documents(spark, sfDir)
      src.coalesce(1).write.parquet(s"$dir/documents.parquet")
      val starved = withFanout(true)(Tables.documents(spark, dir))
      assert(starved.queryExecution.executedPlan.toString.contains("Exchange"))
      src.repartition(16).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val plan = withFanout(true)(Tables.documents(spark, dir)).queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"the 16-file corpus still fans out:\n$plan")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
