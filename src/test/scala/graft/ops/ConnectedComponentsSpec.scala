package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Runs BOTH the driver union-find fold and the distributed
    * pointer-jumping path and asserts they agree before returning. */
  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val df = edges.toDF("src", "dst")
    val folded = ConnectedComponents.components(df)
      .as[(Long, Long)].collect().toMap
    val dist = ConnectedComponents.componentsCapped(df, foldRows = 0L)
      .as[(Long, Long)].collect().toMap
    assert(folded === dist, "driver fold and distributed rounds disagree")
    folded
  }

  test("chains, clumps and singletons resolve to min-id components") {
    val m = cc(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),          // chain → 1
      (10L, 11L), (11L, 12L), (10L, 12L),    // triangle → 10
      (20L, 20L)))                           // self-loop singleton → 20
    assert(m === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L))
  }

  test("long path needs diameter rounds and still converges") {
    val n = 32L
    val m = cc((0L until n - 1).map(i => (i, i + 1)))
    assert(m.size === n)
    assert(m.values.forall(_ == 0L))
  }

  test("random graphs agree with a driver-side union-find reference") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 20 + trial * 10
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))

      // textbook union-find as the executable spec
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> {
          // component = min member id reachable
          val root = find(v.toInt)
          (0 until n).filter(u => find(u) == root)
            .filter(u => edges.exists(e => e._1 == u || e._2 == u)).min.toLong
        }).toMap

      assert(cc(edges) === expected, s"trial $trial")
    }
  }

  test("only the final round's label blocks stay persisted (bounded storage)") {
    // without the per-round release every round's checkpoint blocks
    // stay pinned (the r7 10M-edge smoke thrashed the block store,
    // 20-80x round spikes) — after a multi-round run of each
    // iterative operator's distributed path at most its final round's
    // state may remain (input pins, static frames and every earlier
    // round are released via their LogicalRDD handles)
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    def bothWays(pairs: Seq[(Long, Long)]) =
      (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    // each operator with the exact result it must return
    val cases = Seq[(String, () => org.apache.spark.sql.DataFrame, Set[(Long, Long)])](
      // a 64-hop path forces ~7 pointer-jump rounds; one component, 0
      ("cc", () => ConnectedComponents.componentsCapped(path, foldRows = 0L),
        (0L to 63L).map(i => (i, 0L)).toSet),
      // LPA's labels on a path depend on its tie-breaks: only its node
      // set is checked
      ("lpa", () => LabelPropagation.communitiesCapped(path, foldRows = 0L)
        .select(col("id"), lit(0L)), (0L to 63L).map(i => (i, 0L)).toSet),
      // a triangle with a 13-node tail peels one tail node per round;
      // the 2-core is the triangle, each node of degree 2
      ("kcore", () => KCore.core(bothWays((0L, 2L) +: (0L until 15L).map(i => (i, i + 1))),
        k = 2), Set((0L, 2L), (1L, 2L), (2L, 2L))),
      // unit weights: node i is i hops from 0, up to the 8-hop bound
      ("sssp", () => ShortestPaths.bounded(path.withColumn("w", lit(1L)),
        Seq(0L).toDF("node"), maxHops = 8), (0L to 8L).map(i => (i, i)).toSet))
    for ((op, run, expected) <- cases) {
      // new persisted RDD ids, not a count: the ContextCleaner may
      // free other suites' RDDs meanwhile
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val out = run()
      assert(out.as[(Long, Long)].collect().toSet === expected, op)
      val kept = (spark.sparkContext.getPersistentRDDs -- before).size
      assert(kept <= 1, s"$op: $kept new persisted RDDs: round blocks are leaking")
      Adaptive.release(out)
    }
  }

  test("reliable-checkpoint mode produces the same components") {
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("src", "dst")
    val m = ConnectedComponents.components(edges, reliable = Some(true))
      .as[(Long, Long)].collect().toMap
    assert(m === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("non-convergence at maxRounds throws instead of returning bad labels") {
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException] {
      ConnectedComponents.componentsCapped(edges, foldRows = 0L,
        maxRounds = 2).collect()
    }
  }

  test("auto mode resolves local below the edge threshold, reliable above") {
    val dir = java.nio.file.Files.createTempDirectory("cc-auto-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("src", "dst")
      .localCheckpoint()
    // explicit choice always wins, regardless of size or dir
    assert(Adaptive.resolveReliable(edges, Some(true), threshold = 100L))
    assert(!Adaptive.resolveReliable(edges, Some(false), threshold = 1L))
    // auto: 3 edges vs threshold
    assert(Adaptive.resolveReliable(edges, None, threshold = 3L))
    assert(Adaptive.resolveReliable(edges, None, threshold = 1L))
    assert(!Adaptive.resolveReliable(edges, None, threshold = 4L))
    assert(!Adaptive.resolveReliable(edges, None)) // default 2M
    // end-to-end: auto above threshold produces reliably-checkpointed
    // label state (and the same components)
    val labels = ConnectedComponents.componentsCapped(
      edges, foldRows = 0L, reliable = None, autoReliableEdges = 1L)
    val reliableState = labels.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getCheckpointFile.isDefined
    }.getOrElse(false)
    assert(reliableState, "auto above threshold must checkpoint reliably")
    assert(labels.as[(Long, Long)].collect().toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("auto mode above the fold budget counts the edge checkpoint once") {
    val dir = java.nio.file.Files.createTempDirectory("cc-count-once").toString
    spark.sparkContext.setCheckpointDir(dir)
    // 3 edges over a budget of 1: the fold is refused, then auto mode
    // reads the same edge count to pick the checkpoint kind
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("src", "dst")
    val (_, posted) = events {
      val labels = ConnectedComponents.componentsCapped(
        edges, foldRows = 1L, reliable = None)
      assert(labels.as[(Long, Long)].collect().toMap ===
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    }
    val rounds = posted.collect { case r: Adaptive.RoundsRun => r.rounds }.head
    assert(rounds > 0)
    // call site of each job (its result stage's name, "count at X.scala:N")
    val sites = posted.collect {
      case e: org.apache.spark.scheduler.SparkListenerJobStart => e.stageInfos.maxBy(_.stageId).name
    }
    val counts = sites.filter(_.contains("Adaptive.scala")).toList
    assert(counts.size === 1, s"edge checkpoint counts: ${counts.mkString("; ")}")
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("auto mode folds small graphs on the driver; explicit mode stays distributed") {
    val edges = Seq((1L, 2L), (2L, 3L), (9L, 9L)).toDF("src", "dst")
    // driver fold: zero distributed rounds, same labels
    val (lab, run) = roundsRun("cc")(ConnectedComponents.components(edges))
    val (rounds, secs) = (run.rounds, run.roundMs)
    assert(rounds === 0 && secs.isEmpty)
    assert(lab.as[(Long, Long)].collect().toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
    // an explicit reliable choice (even false) opts into the
    // distributed rounds regardless of size
    val rounds2 = roundsRun("cc")(ConnectedComponents.components(
      edges, reliable = Some(false)))._2.rounds
    assert(rounds2 > 0)
    // threshold boundary: 3 edges with threshold 2 goes distributed
    val rounds3 = roundsRun("cc")(ConnectedComponents.componentsCapped(
      edges, foldRows = 2L))._2.rounds
    assert(rounds3 > 0)
  }

  test("near-dup pairs close transitively into clusters") {
    // A~B and B~C but never A~C: pair output from banded minhash can
    // miss the far pair; components must still unite them
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),   // ~1
      (3L, "alpha beta gamma delta epsilon zeta nu iota"),    // ~2
      (50L, "completely unrelated content about other things entirely")
    ).toDF("doc_id", "text")
    val pairs = Similarity.ngramJaccard(docs, "doc_id", "text", k = 3, threshold = 0.3)
      .select(col("id1").as("src"), col("id2").as("dst"))
    val comps = ConnectedComponents.components(
        pairs.union(docs.select(col("doc_id").as("src"), col("doc_id").as("dst"))))
      .as[(Long, Long)].collect().toMap
    assert(comps(1L) === 1L && comps(2L) === 1L && comps(3L) === 1L)
    assert(comps(50L) === 50L)
  }
}
