package graft

import org.apache.spark.sql.functions.col

import graft.plans.HotKeys

class HotKeysSpec extends SparkSpec {
  import spark.implicits._

  // bucket 1 is hot (4 rows > cap 2) with min id 3, bucket 2 is cold
  // (2 rows); id 3 sits in both, so it is a rep and a cold member.
  // Payloads: p is variable-length (read off the rep rows), q is
  // fixed-width (carried by the reps aggregate).
  private lazy val keyed =
    (Seq(7L, 3L, 9L, 5L).map((1, _)) ++ Seq(8L, 3L).map((2, _)))
      .map { case (b, i) => (b, i, s"p$i", i * 10) }
      .toDF("bucket", "id", "p", "q")

  test("star device: cold all-pairs, (rep, member) stars, carried payloads") {
    // cold (3, 8); stars (3, 5), (3, 7), (3, 9)
    val expected = Seq((3L, 5L), (3L, 7L), (3L, 8L), (3L, 9L))
    for (payload <- Seq("p", "q")) {
      val got = HotKeys.starPairs(keyed, Seq("bucket"), "id", Some(payload), cap = 2L)
        .select($"id_a", $"id_b", col(s"${payload}_a").cast("string"),
          col(s"${payload}_b").cast("string"))
        .as[(Long, Long, String, String)].collect().sorted.toSeq
      def show(i: Long) = if (payload == "p") s"p$i" else (i * 10).toString
      assert(got == expected.map { case (a, b) => (a, b, show(a), show(b)) },
        s"payload $payload: $got")
      assert(got.forall { case (a, b, _, _) => a < b }, "pairs must be canonical")
    }
  }

  test("star device without a payload; reps are the hot keys' min ids") {
    val pairs = HotKeys.starPairs(keyed, Seq("bucket"), "id", None, cap = 2L)
    assert(pairs.columns.toSeq == Seq("id_a", "id_b"))
    assert(pairs.as[(Long, Long)].collect().sorted.toSeq ==
      Seq((3L, 5L), (3L, 7L), (3L, 8L), (3L, 9L)))
    val reps = HotKeys.reps(keyed, Seq("bucket"), "id", 2L)
      .as[(Int, Long)].collect().toSeq
    assert(reps == Seq((1, 3L)), "only the hot bucket has a rep")
  }

  test("hot-key guard names the deepest keys, and passes at the guard") {
    HotKeys.guard(keyed, $"bucket", 4L, k => s"bucket $k")(hot => s"hot: $hot")
    val e = intercept[IllegalArgumentException] {
      HotKeys.guard(keyed, $"bucket", 1L, k => s"bucket $k")(hot => s"hot: $hot")
    }
    assert(e.getMessage.contains("hot: bucket 1=4, bucket 2=2"), e.getMessage)
  }
}
