package graft
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // every registered key must leave a visible trace (round-9 verdict
    // ask #3: erroring keys VANISHED from CORRECTNESS_r08/r09 because no
    // parquet was written, and the driver silently drops absent dirs).
    // A failing key now writes a one-row marker parquet — column
    // `__graft_error` — so the driver's compare surfaces it as an
    // explicit schema/hash FAIL instead of dropping it, and the failure
    // list also lands in <outDir>/errors.json for the artifact trail.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    // dev-loop filter: SPARK_GRAFT_VERIFY_KEYS=q_a,q_b dumps only those
    // keys (the driver never sets it, so its run stays the full sweep)
    val keyFilter = sys.env.get("SPARK_GRAFT_VERIFY_KEYS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = keyFilter.fold(SparkEntry.queries)(ks =>
      SparkEntry.queries.view.filterKeys(ks).toMap)
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.toString).getOrElse("unknown").take(500)
        try {
          import spark.implicits._
          Seq(failures(name)).toDF("__graft_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
      Harness.releasePinned(spark)
    }
    Harness.writeJson(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    Harness.writeJson(s"$outDir/errors.json", failures)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} of ${SparkEntry.queries.size} keys FAILED: ${failures.keys.mkString(", ")}")
    spark.stop()
    // Force JVM exit: after a full-registry dump that exercised the
    // streaming keys at sf0.1, lingering non-daemon threads have been
    // observed to hang the JVM AFTER every output (incl. oracle_sql
    // .json) was written and spark.stop() returned — the dump is
    // complete, only the process refuses to die. run/fork is on, so
    // this is safe under sbt too.
    sys.exit(if (failures.nonEmpty) 1 else 0)
  }
}
