package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Union}
import org.apache.spark.sql.graftbridge.CheckpointDirs.withCheckpointDir

import graft.graph.ConnectedComponents

/** Connected components vs a driver-side union-find oracle on seeded
  * random graphs (chains, triangles, isolated nodes all arise naturally
  * at this density). Every oracle case runs twice: once as shipped,
  * where these small graphs are below the finisher's bound and the
  * driver labels them, and once with the finisher off, which pins the
  * distributed rounds. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def roundsOnly[T](body: => T): T =
    ConnectedComponents.collectRows.withValue(0)(body)

  /** Registers `body` under `name` with the finisher, and again under
    * "`name` (rounds)" with the finisher off. */
  private def bothPaths(name: String)(body: => Unit): Unit = {
    test(name)(body)
    test(s"$name (rounds)")(roundsOnly(body))
  }

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

  bothPaths("random graphs match driver-side union-find") {
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

  bothPaths("empty edge set yields all singletons") {
    val got = ConnectedComponents.run(
      Seq.empty[(Long, Long)].toDF("src", "dst"),
      Seq(1L, 2L, 3L).toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  bothPaths("negative node ids propagate (label sum 0 is not a fixpoint proof)") {
    // initial Σlbl = -5 + 5 = 0: the old sum==0 shortcut skipped the
    // loop here and returned self-labels for a connected pair
    val got = ConnectedComponents.run(
      Seq((-5L, 5L)).toDF("src", "dst"),
      Seq(-5L, 5L, 7L).toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(-5L -> -5L, 5L -> -5L, 7L -> 7L))
  }

  bothPaths("star variant matches union-find oracle on random graphs") {
    val rnd = new scala.util.Random(99)
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

  test("star variant: diameter-100 path converges in O(log n) rounds") {
    // the adversarial case for min-label propagation: a 101-node chain
    // needs ~100 propagation rounds (maxIter=30 would NOT converge);
    // large-star/small-star must do it in O(log n)
    val edges = (0L until 100L).map(i => (i, i + 1))
    val (labels, rounds) = roundsOnly {
      val (labelsDf, rounds) = ConnectedComponents.runRounds(
        edges.toDF("src", "dst"),
        (0L to 100L).toDF("id"))
      (labelsDf.as[(Long, Long)].collect().toMap, rounds)
    }
    assert(labels.size == 101 && labels.values.forall(_ == 0L),
      s"chain not fully labeled: ${labels.filter(_._2 != 0L)}")
    assert(rounds <= 12, s"star variant took $rounds rounds on diameter 100")
  }

  bothPaths("star variant: empty edges and singletons") {
    val got = ConnectedComponents.run(
      Seq.empty[(Long, Long)].toDF("src", "dst"),
      Seq(1L, 2L, 3L).toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  bothPaths("star variant handles negative ids and duplicate/reversed edges") {
    val got = ConnectedComponents.run(
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
    val (wrong, total, rounds) = roundsOnly(withCheckpointDir(dir) {
      val (labelsDf, rounds) = ConnectedComponents.runRounds(edges, nodes)
      (labelsDf.filter($"lbl" =!= 0L).count(), labelsDf.count(), rounds)
    })
    val wallSec = (System.nanoTime() - t0) / 1e9
    assert(total == n && wrong == 0, s"$wrong of $total nodes mislabeled on the path")
    val bound = math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt + 4
    assert(rounds <= bound, s"star-CC took $rounds rounds on diameter ${n - 1} (bound $bound)")
    // generous for CI noise; the point is rounds × per-round cost stays
    // minutes-not-hours at adversarial diameter (measured ~10-20 s here)
    assert(wallSec < 90.0, s"star-CC took $wallSec s on the diameter-${n - 1} path")
  }

  bothPaths("reliable checkpointer mode matches union-find oracle") {
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

  test("star variant hands the contracted tail to the finisher mid-run") {
    // a connected k-node graph never has fewer than k-1 edges, so a bare
    // chain cannot fall below the budget; skip edges (i, i+2) start the
    // 101-node chain at 199 edges, and the rounds contract it towards
    // the 100-edge star. B = 150 edges: over it at setup, within it
    // after some round, before the distributed fixpoint
    val edges = ((0L until 100L).map(i => (i, i + 1)) ++
      (0L until 99L).map(i => (i, i + 2))).toDF("src", "dst")
    val nodes = (0L to 105L).toDF("id")
    val (labels, rounds) = ConnectedComponents.collectRows.withValue(151) {
      val (df, rounds) = ConnectedComponents.runRounds(edges, nodes)
      (df.as[(Long, Long)].collect().toMap, rounds)
    }
    val allRounds = roundsOnly(ConnectedComponents.runRounds(edges, nodes)._2)
    assert(labels == (0L to 105L).map(i => i -> (if (i <= 100L) 0L else i)).toMap,
      s"wrong labels: ${labels.filter { case (i, l) => l != (if (i <= 100L) 0L else i) }}")
    assert(rounds > 0 && rounds < allRounds,
      s"finisher took over after $rounds of $allRounds distributed rounds")
  }

  test("run labels a chain longer than maxIter exactly") {
    // the finisher labels a 21-node chain whatever maxIter is; the
    // rounds alone cannot finish it in one round, and say so by name
    // instead of returning labels that are not the fixpoint
    val edges = (0L until 20L).map(i => (i, i + 1)).toDF("src", "dst")
    val nodes = (0L to 20L).toDF("id")
    val labels = ConnectedComponents.run(edges, nodes, maxIter = 5)
      .as[(Long, Long)].collect().toMap
    assert(labels == (0L to 20L).map(_ -> 0L).toMap)
    val e = intercept[IllegalStateException](
      roundsOnly(ConnectedComponents.run(edges, nodes, maxIter = 1)))
    assert(e.getMessage.contains("maxIter = 1") && e.getMessage.contains("1 rounds ran"),
      e.getMessage)
  }

  private def jobSites(body: => Unit): Seq[String] =
    jobsOf(body).map(_.stageInfos.map(_.name).mkString(";"))
  private def isCheckpoint(site: String) = site.contains("Checkpoint at ")

  test("run on a small graph submits no job after the edge checkpoint but the bounded collect") {
    def cc(): Unit = ConnectedComponents.run(
      Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("src", "dst"), (1L to 7L).toDF("id"))
    val sites = jobSites(cc())
    val afterCheckpoint = sites.drop(sites.lastIndexWhere(isCheckpoint) + 1)
    assert(sites.count(isCheckpoint) == 1 &&
      afterCheckpoint.map(_.takeWhile(_ != ' ')) == Seq("collect"), s"jobs: $sites")
    // the listener does see the rounds: one checkpoint per round, and
    // the first round is never the fixpoint
    val roundSites = roundsOnly(jobSites(cc()))
    assert(roundSites.count(isCheckpoint) > 2, s"rounds path jobs: $roundSites")
  }

  test("run over the finisher's bound goes from the bounded collect straight to the first round") {
    // 6 edges over a 3-row bound: a row-local edge checkpoint (no doubled
    // union, no distinct), the collect declines, and the next action is
    // the first star round's checkpoint — no setup probe and no second
    // materialization of the input between them
    val actions = ConnectedComponents.collectRows.withValue(3)(actionsOf {
      ConnectedComponents.run((0L until 6L).map(i => (i, i + 1)).toDF("src", "dst"),
        (0L to 6L).toDF("id"))
    })
    def has(p: LogicalPlan, node: Class[_]) = p.find(node.isInstance).isDefined
    val checkpoint = Set("checkpoint", "localCheckpoint")
    val shown = actions.map { case (f, p) => s"$f:\n$p" }.mkString("\n")
    assert(actions.size > 3, shown)
    val Seq((edgeAction, edgePlan), (collectAction, _), (roundAction, roundPlan)) = actions.take(3)
    assert(checkpoint(edgeAction) && !has(edgePlan, classOf[Union]) &&
      !has(edgePlan, classOf[Aggregate]), shown)
    assert(collectAction == "collect", shown)
    assert(checkpoint(roundAction) && has(roundPlan, classOf[Join]), shown)
  }

  test("run's finisher counts each edge once: takes 5 edges under a 6-row bound, declines at 5") {
    // the edge checkpoint holds one orientation per edge, 5 rows, so a
    // 6-row bound takes the chain. At a 5-row bound it declines after
    // its collect and the rounds label the chain instead
    val edges = (0L until 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val nodes = (0L to 6L).toDF("id")
    val expected = (0L to 6L).map(i => i -> (if (i <= 5L) 0L else i)).toMap
    for ((bound, finisher) <- Seq(6 -> true, 5 -> false)) {
      var got = Map.empty[Long, Long]
      val sites = ConnectedComponents.collectRows.withValue(bound)(jobSites {
        got = ConnectedComponents.run(edges, nodes).as[(Long, Long)].collect().toMap
      })
      assert(got == expected, s"bound $bound: $got")
      assert((sites.count(isCheckpoint) == 1) == finisher, s"bound $bound: jobs $sites")
    }
  }

  test("the finisher's collect stays within the collect audit's cap, taken or declined") {
    val audit = new CollectAudit(spark)
    def chain(edges: Long) = spark.range(0L, edges).selectExpr("id AS src", "id + 1 AS dst")
    audit.advanceTo("cc_taken")
    val wrong = ConnectedComponents.run(chain(9999L), spark.range(0L, 10000L).toDF())
      .filter($"lbl" =!= 0L).count()
    assert(wrong == 0L, s"$wrong nodes of the 9999-edge chain mislabeled")
    audit.advanceTo("cc_declined")
    // one round leaves a connected 10⁴-edge chain at 10⁴ edges: neither
    // under the bound nor at the fixpoint, so maxIter = 1 fails by name
    intercept[IllegalStateException](
      ConnectedComponents.run(chain(10000L), spark.range(0L, 10001L).toDF(), maxIter = 1))
    val snap = audit.snapshot()
    assert(snap.get("cc_taken").contains(9999L) && snap.get("cc_declined").contains(10000L),
      s"largest collects: $snap")
  }
}
