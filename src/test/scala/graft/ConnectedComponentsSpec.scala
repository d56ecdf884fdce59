package graft

import org.apache.spark.sql.graftbridge.CheckpointDirs.withCheckpointDir

import graft.graph.ConnectedComponents

/** Distributed min-label propagation vs a driver-side union-find oracle
  * on seeded random graphs (chains, triangles, isolated nodes all arise
  * naturally at this density). */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def unionFindMinLabels(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      // attach the larger root under the smaller: roots stay component mins
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  test("random graphs match driver-side union-find") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 30
      val edges = (1 to 25)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val expected = unionFindMinLabels(n, edges)
      val got = ConnectedComponents.run(
        edges.toDF("src", "dst"),
        (0 until n).map(_.toLong).toDF("id"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"trial $trial: ${got.toSeq.diff(expected.toSeq)}")
    }
  }

  test("empty edge set yields all singletons") {
    val got = ConnectedComponents.run(
      Seq.empty[(Long, Long)].toDF("src", "dst"),
      Seq(1L, 2L, 3L).toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("negative node ids propagate (label sum 0 is not a fixpoint proof)") {
    // initial Σlbl = -5 + 5 = 0: the old sum==0 shortcut skipped the
    // loop here and returned self-labels for a connected pair
    val got = ConnectedComponents.run(
      Seq((-5L, 5L)).toDF("src", "dst"),
      Seq(-5L, 5L, 7L).toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(-5L -> -5L, 5L -> -5L, 7L -> 7L))
  }

  test("star variant matches union-find oracle on random graphs") {
    val rnd = new scala.util.Random(99)
    for (trial <- 1 to 3) {
      val n = 30
      val edges = (1 to 25)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val expected = unionFindMinLabels(n, edges)
      val got = ConnectedComponents.runStar(
        edges.toDF("src", "dst"),
        (0 until n).map(_.toLong).toDF("id"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"trial $trial: ${got.toSeq.diff(expected.toSeq)}")
    }
  }

  test("star variant: diameter-100 path converges in O(log n) rounds") {
    // the adversarial case for min-label propagation: a 101-node chain
    // needs ~100 propagation rounds (maxIter=30 would NOT converge);
    // large-star/small-star must do it in O(log n)
    val edges = (0L until 100L).map(i => (i, i + 1))
    val (labelsDf, rounds) = ConnectedComponents.runStarRounds(
      edges.toDF("src", "dst"),
      (0L to 100L).toDF("id"))
    val labels = labelsDf.as[(Long, Long)].collect().toMap
    assert(labels.size == 101 && labels.values.forall(_ == 0L),
      s"chain not fully labeled: ${labels.filter(_._2 != 0L)}")
    assert(rounds <= 12, s"star variant took $rounds rounds on diameter 100")
  }

  test("star variant: empty edges and singletons") {
    val got = ConnectedComponents.runStar(
      Seq.empty[(Long, Long)].toDF("src", "dst"),
      Seq(1L, 2L, 3L).toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("star variant handles negative ids and duplicate/reversed edges") {
    val got = ConnectedComponents.runStar(
      Seq((-5L, 5L), (5L, -5L), (-5L, 5L), (7L, 8L)).toDF("src", "dst"),
      Seq(-5L, 5L, 7L, 8L, 9L).toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(-5L -> -5L, 5L -> -5L, 7L -> 7L, 8L -> 7L, 9L -> 9L))
  }

  test("adversarial scale: diameter-10^4 path through star-CC with Reliable checkpointing") {
    // the scale shape a 100 TB near-dup graph can degenerate into:
    // chained near-dups (drifting boilerplate) forming one long path.
    // min-label propagation would need 10^4 rounds; large-star/small-star
    // is pinned here to ceil(log2 n) + 4 rounds AND a wall-time budget,
    // with Reliable (HDFS-style) checkpointing — the cluster
    // configuration — truncating lineage each round.
    val n = 10001L
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_path").toString
    val edges = spark.range(0L, n - 1).selectExpr("id AS src", "id + 1 AS dst")
    val nodes = spark.range(0L, n).selectExpr("id")
    val t0 = System.nanoTime()
    val (wrong, total, rounds) = withCheckpointDir(dir) {
      val (labelsDf, rounds) = ConnectedComponents.runStarRounds(edges, nodes)
      (labelsDf.filter($"lbl" =!= 0L).count(), labelsDf.count(), rounds)
    }
    val wallSec = (System.nanoTime() - t0) / 1e9
    assert(total == n && wrong == 0, s"$wrong of $total nodes mislabeled on the path")
    val bound = math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt + 4
    assert(rounds <= bound, s"star-CC took $rounds rounds on diameter ${n - 1} (bound $bound)")
    // generous for CI noise; the point is rounds × per-round cost stays
    // minutes-not-hours at adversarial diameter (measured ~10-20 s here)
    assert(wallSec < 90.0, s"star-CC took $wallSec s on the diameter-${n - 1} path")
  }

  test("reliable checkpointer mode matches union-find oracle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val rnd = new scala.util.Random(7)
    val n = 30
    val edges = (1 to 25)
      .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    val expected = unionFindMinLabels(n, edges)
    val got = withCheckpointDir(dir) {
      ConnectedComponents.run(
        edges.toDF("src", "dst"),
        (0 until n).map(_.toLong).toDF("id"))
        .as[(Long, Long)].collect().toMap
    }
    assert(got == expected)
  }
}
