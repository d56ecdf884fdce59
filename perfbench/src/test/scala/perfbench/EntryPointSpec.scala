package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The benchmark calls only these engine entry points. This fails,
  * naming what is missing, when one of them or a query_mix key goes
  * away. */
class EntryPointSpec extends AnyFunSuite {
  private def methods(obj: String): Set[String] =
    Class.forName(obj).getMethods.map(_.getName).toSet

  test("every workload's entry point exists") {
    val want = Map(
      "graft.Tables$" -> Seq("documents"),
      "graft.text.TextOps$" -> Seq("llmPipelineV2"),
      "graft.ml.Trainers$" -> Seq("trainDistributedWithHistory"),
      "graft.ml.SoftmaxMlpModel$" -> Seq("init"),
      "graft.ml.Predictor$" -> Seq("predictBatchedLabel"),
      "graft.ml.Evaluator$" -> Seq("accuracy"),
      "graft.SparkEntry$" -> Seq("queries", "oracleSql"))
    val missing = want.toSeq.flatMap { case (obj, ms) =>
      val have = methods(obj)
      ms.filterNot(have.contains).map(m => s"$obj.$m")
    }
    assert(missing.isEmpty, s"missing entry points: ${missing.mkString(", ")}")
  }

  test("every query_mix key is registered, with an oracle") {
    val noQuery = Workload.QueryMix.filterNot(SparkEntry.queries.contains)
    val noOracle = Workload.QueryMix.filterNot(SparkEntry.oracleSql.contains)
    assert(noQuery.isEmpty, s"not in SparkEntry.queries: ${noQuery.mkString(", ")}")
    assert(noOracle.isEmpty, s"not in SparkEntry.oracleSql: ${noOracle.mkString(", ")}")
  }
}
