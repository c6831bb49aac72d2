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
    val dist = ConnectedComponents.componentsCapped(df, foldRows = 0L)._1
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
    // a 64-hop path forces ~7 pointer-jump rounds; without the
    // per-round unpersist every round's localCheckpoint blocks stay
    // pinned (the r7 10M-edge smoke thrashed the block store, 20-80x
    // round spikes) — after the run at most one round's state and the
    // symmetric edge list may remain
    val before = spark.sparkContext.getPersistentRDDs.size
    val (labels, _, _) = ConnectedComponents.componentsCapped(
      (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst"),
      foldRows = 0L)
    assert(labels.select(countDistinct("component")).head().getLong(0) == 1L)
    // only the FINAL round's label state may remain (und, sym, and
    // every earlier round are released via their LogicalRDD handles)
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"persisted RDDs grew $before -> $after: round blocks are leaking")
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
        maxRounds = 2)._1.collect()
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
    val (labels, _, _) = ConnectedComponents.componentsCapped(
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
    // call site of each job (its result stage's name, "count at X.scala:N")
    val sites = scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        sites.synchronized { sites += e.stageInfos.maxBy(_.stageId).name }
    }
    // 3 edges over a budget of 1: the fold is refused, then auto mode
    // reads the same edge count to pick the checkpoint kind
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("src", "dst")
    spark.sparkContext.addSparkListener(listener)
    try {
      val (labels, rounds, _) = ConnectedComponents.componentsCapped(
        edges, foldRows = 1L, reliable = None)
      assert(rounds > 0)
      assert(labels.as[(Long, Long)].collect().toMap ===
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
      // listener events post asynchronously: wait until they stop
      val deadline = System.nanoTime() + 10e9.toLong
      var last = -1
      while (System.nanoTime() < deadline && sites.synchronized(sites.size) != last) {
        last = sites.synchronized(sites.size); Thread.sleep(200)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    val counts = sites.synchronized(sites.filter(_.contains("Adaptive.scala")).toList)
    assert(counts.size === 1, s"edge checkpoint counts: ${counts.mkString("; ")}")
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("auto mode folds small graphs on the driver; explicit mode stays distributed") {
    val edges = Seq((1L, 2L), (2L, 3L), (9L, 9L)).toDF("src", "dst")
    // driver fold: zero distributed rounds, same labels
    val (lab, rounds, secs) = ConnectedComponents.componentsInstrumented(edges)
    assert(rounds === 0 && secs.isEmpty)
    assert(lab.as[(Long, Long)].collect().toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 9L))
    // an explicit reliable choice (even false) opts into the
    // distributed rounds regardless of size
    val (_, rounds2, _) = ConnectedComponents.componentsInstrumented(
      edges, reliable = Some(false))
    assert(rounds2 > 0)
    // threshold boundary: 3 edges with threshold 2 goes distributed
    val (_, rounds3, _) = ConnectedComponents.componentsCapped(
      edges, foldRows = 2L)
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
