package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The contracts that need no Spark: one session factory, one training
  * epoch loop, one similarity ranking device, and the bench regression
  * gate's choice of baseline. */
class HarnessSpec extends AnyFunSuite {

  test("GraftSession is the only place src builds a session") {
    val builderCall = "SparkSession" + ".builder"
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val files = Files.walk(Paths.get(root))
      try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter(p => p.getFileName.toString != "GraftSession.scala" &&
      Files.readString(p).contains(builderCall))
    assert(offenders.isEmpty, s"build sessions with GraftSession.builder: ${offenders.mkString(", ")}")
  }

  test("Trainers runs every merging trainer through one epoch loop") {
    val src = Files.readString(Paths.get("src/main/scala/graft/ml/Trainers.scala"))
    val calls = "(?<!def )\\bepochRound\\(".r.findAllIn(src).size
    assert(calls == 1, s"epochRound has $calls call sites; route epochs through trainLoop")
  }

  test("Similarity ranks every top-n through one row_number device") {
    val src = Files.readString(Paths.get("src/main/scala/graft/sim/Similarity.scala"))
    val calls = "\\brow_number\\(\\)".r.findAllIn(src).size
    assert(calls == 1, s"Similarity has $calls row_number() sites; rank through topN")
  }

  test("bench regression gate reads only a baseline with this run's cpus and sf") {
    def bench(setup: String, contendedRun: Boolean = false) =
      s"""{"queries":{"q_a":0.5,"q_b":null,"q_c":2.0,"q_d":1.0},"contended":["q_c"],""" +
        s""""unstable":["q_d"],"contended_run":$contendedRun$setup}"""
    assert(Bench.baselineMedians(bench(""","sf":"/d","cpus":8"""), 8, "/d") ==
      Right(Map("q_a" -> 0.5)))
    Seq(bench(""","sf":"/d","cpus":32"""), bench(""","sf":"/e","cpus":8"""),
        bench(""","sf":"/d""""), bench(""","cpus":8"""),
        bench(""","sf":"/d","cpus":8""", contendedRun = true), "{not json")
      .foreach(b => assert(Bench.baselineMedians(b, 8, "/d").isLeft, b))
    // the committed baseline predates the setup fields: it must be skipped
    val committed = Files.readString(Path.of("BENCH_LOCAL.json"))
    val sf = Harness.json.readTree(committed).path("sf").asText
    val skipped = Bench.baselineMedians(committed, 8, sf)
    assert(skipped.left.exists(_.contains("cpus")), skipped)
  }
}
