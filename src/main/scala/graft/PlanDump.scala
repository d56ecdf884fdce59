package graft

/** Dev tool (optimization rounds): dump `.explain("formatted")` for the
  * named keys to `<outDir>/<key>_<tag>.txt` — the plan evidence the
  * round's judge checks claims against (plans/r16/). It runs on
  * [[Bench]]'s session, [[Harness.session]] with `SPARK_GRAFT_CPUS`
  * cores (default: all), so the dumped plan is the one the bench
  * executes at the same core count, not a differently-sized variant.
  *
  * Usage: PlanDump <outDir> <tag> <key>[,<key>...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val keys = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(logLevel = "ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    keys.foreach { k =>
      val df = SparkEntry.queries(k)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${k}_$tag.txt"),
        txt.getBytes("UTF-8"))
      println(s"dumped $k -> $outDir/${k}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
