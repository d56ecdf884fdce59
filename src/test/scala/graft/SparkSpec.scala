package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (single JVM-wide SparkSession — suite
  * startup dominates otherwise), built by [[GraftSession]] like every
  * main's, at 8 cores whatever the box: the plan pins assume 8 shuffle
  * partitions. Only the test-only settings below are added. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[8]", 8)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      // memory-pressure pin for the WHOLE suite: the memory manager
      // budgets against 1 GiB instead of the real heap (unified pool
      // ≈ 430 MB across 8 threads), so aggregates/sorts/joins that
      // would spill on a loaded executor spill here too — every spec,
      // including the diameter-10^4 star-CC path, must stay green
      // under it (round-6 verdict ask #9)
      .config("spark.testing.memory", (1L << 30).toString)
      // plan pins (PlanRegressionSpec and friends) assert the QUERIES'
      // structural shapes; the r16 starved-scan fanout (Tables.scaled —
      // a layout adaptation that no-ops on healthy multi-row-group
      // inputs) would shift every pin by the input artifact instead of
      // the query, so the suite pins the un-fanned layout. The fanout
      // itself is covered by ScanFanoutSpec (toggles this conf) and by
      // the full-registry DuckDB preflight, which runs fanout-on.
      .config("spark.graft.scan.fanout", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir
}
