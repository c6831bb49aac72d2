package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the transitive
  * closure pass a dedup pipeline needs when near-duplicate PAIRS must
  * become near-duplicate CLUSTERS (A~B, B~C ⇒ {A,B,C} even though A and
  * C never matched directly; [[Similarity.dropNearDuplicates]] links
  * one hop, this closes arbitrary chains).
  *
  * Algorithm: iterative minimum-label propagation — every node starts
  * labeled with its own id; each round every node adopts the minimum
  * label in its closed neighborhood; stop when no label changes. State
  * is only (node, label) pairs; each round is ONE equi-join of the
  * (static, pre-shuffled-by-key) edge list with the current labels
  * plus a min-aggregate, then a pointer-jumping self-join (component →
  * component-of-component) that doubles effective propagation distance
  * — no driver-side graph, no quadratic blowup, O(log diameter) rounds
  * (dedup graphs: 2-4; a 10^6-hop pathological chain: ~20).
  *
  * Each round checkpoints to cut the exponentially growing iterative
  * lineage (the classic iterative-DataFrame hazard): `localCheckpoint`
  * by default (fast, executor-resident blocks), or reliable
  * `checkpoint()` with `reliable = true` for executor-loss-safe
  * production runs.
  */
object ConnectedComponents {

  /** Driver bytes per input edge of the auto-mode fold — a union-find
    * over the materialized edge list in a primitive-keyed map of ≤ 2
    * nodes per edge at 16 bytes each. Within its [[Adaptive.foldRows]]
    * cap the closure runs on the driver: each distributed round is
    * scheduler and shuffle fixed cost (r20: ~10 s of rounds on dbscan's
    * 1.05M-edge graph, ~1 s folded). Above it — the 100 TB shape — the
    * log-round closure runs unchanged. An EXPLICIT `reliable` choice
    * always takes the distributed path. */
  private[graft] val FoldBytesPerEdge = 32L

  /** Returns (id, component) for every node appearing in `edges`, with
    * component = min reachable node id. `edges` needs two long-castable
    * columns `src`, `dst`; self-loops are fine (isolated nodes can be
    * passed as self-loops).
    *
    * `reliable = Some(true)` swaps per-round `localCheckpoint` (fast,
    * but blocks live on executors — an executor loss mid-computation
    * kills the job) for reliable `checkpoint()` to the SparkContext's
    * checkpoint dir — the mode a 1000-executor production run wants.
    * Caller must have set `spark.sparkContext.setCheckpointDir`.
    *
    * The default `None` decides automatically: reliable when a
    * checkpoint dir is set AND the materialized edge count is at least
    * [[Adaptive.AutoReliableEdges]] (above that size reliable is also
    * the faster mode — measured, see threshold doc); the local fast
    * path otherwise. */
  def components(edges: DataFrame, maxRounds: Int = 20,
                 reliable: Option[Boolean] = None): DataFrame =
    componentsInstrumented(edges, maxRounds, reliable)._1

  /** [[components]] plus (rounds taken, per-round wall seconds) — the
    * scale-smoke evidence that rounds ≈ log₂(longest chain) and that
    * per-round time stays flat (checkpointing truncates the iterative
    * lineage; without it each round would replan and re-execute every
    * earlier round's DAG). `autoReliableEdges` overrides the
    * [[Adaptive.AutoReliableEdges]] decision threshold (tests pin the
    * switch with a tiny graph). */
  def componentsInstrumented(edges: DataFrame, maxRounds: Int = 20,
                 reliable: Option[Boolean] = None,
                 autoReliableEdges: Long = Adaptive.AutoReliableEdges)
      : (DataFrame, Int, Seq[Double]) =
    componentsCapped(edges, Adaptive.foldRows(FoldBytesPerEdge), maxRounds,
      reliable, autoReliableEdges)

  /** [[componentsInstrumented]] under a given fold cap (0: never fold). */
  private[graft] def componentsCapped(edges: DataFrame, foldRows: Long,
      maxRounds: Int = 20, reliable: Option[Boolean] = None,
      autoReliableEdges: Long = Adaptive.AutoReliableEdges): (DataFrame, Int, Seq[Double]) = {
    var useReliable = reliable.getOrElse(false)
    def ckpt(df: DataFrame): DataFrame =
      if (useReliable) df.checkpoint() else df.localCheckpoint()
    // lazy variant: marks the plan's RDD for checkpointing but defers
    // materialization to the FIRST action over it — so the per-round
    // convergence count below is the job that also persists + truncates
    // the round (one job per round, not checkpoint-then-isEmpty two)
    def ckptLazy(df: DataFrame): DataFrame =
      if (useReliable) df.checkpoint(eager = false) else df.localCheckpoint(eager = false)

    // materialize the edge list FIRST: `und` is referenced by both the
    // symmetric-closure job and the initial-labels job below — without
    // this checkpoint the caller's whole upstream pipeline (e.g. an
    // n-gram Jaccard pair join) executes once per reference, since
    // exchange reuse never spans separate actions
    val und = ckpt(edges.select(col("src").cast("long"), col("dst").cast("long")))
    // auto-mode fold (see [[FoldBytesPerEdge]]), streamed over the
    // persisted partitions: identical min-id components, zero rounds.
    // One count of `und` serves both the fold admission and the auto
    // mode below; lazy, so neither runs it when it cannot matter
    lazy val undRows = Adaptive.rows(und)
    if (reliable.isEmpty && Adaptive.admits(foldRows, undRows)) {
      // union-find, min-id representative: union hangs the larger
      // root under the smaller, so every tree root is its
      // component's minimum — order-independent, deterministic
      val parent = new scala.collection.mutable.LongMap[Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      val it = und.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val s = row.getLong(0); val d = row.getLong(1)
          if (!parent.contains(s)) parent(s) = s
          if (!parent.contains(d)) parent(d) = d
          val (rs, rd) = (find(s), find(d))
          if (rs != rd) { if (rs < rd) parent(rd) = rs else parent(rs) = rd }
        }
      }
      Adaptive.release(und)
      val spark = edges.sparkSession
      import spark.implicits._
      val out = parent.keys.toArray
      val labels = spark.createDataset(
        out.toIndexedSeq.map(n => (n, find(n)))).toDF("id", "component")
      return (labels, 0, Seq.empty)
    }
    // auto mode: the edge frame is now materialized (locally — the
    // decision predates the mode), so its exact size decides the mode
    // for every downstream cut
    useReliable = Adaptive.resolveReliable(und, reliable,
      autoReliableEdges, undRows)
    // symmetric closure, checkpointed (not just cached): a cache keeps
    // the upstream logical plan — e.g. a whole near-dup pair pipeline —
    // and every round's join re-runs the optimizer over that subtree;
    // checkpointing truncates it so each round plans against a flat
    // in-memory relation
    val sym = ckpt(und.union(und.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst")).distinct()
      .select(col("src").as("e_id"), col("dst").as("e_nbr")))

    val labels0 = ckpt(und.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct().select(col("id"), col("id").as("component")))
    var labels: DataFrame = labels0
    // the checkpointed frame holding the CURRENT round's label state
    var roundCkpt: DataFrame = labels0
    // `und` fed only the symmetric closure and the initial labels,
    // both now materialized — release its full-edge-copy blocks
    Adaptive.release(und)

    var round = 0
    var converged = false
    val roundSecs = Seq.newBuilder[Double]
    while (!converged && round < maxRounds) {
      val roundT0 = System.nanoTime()
      // neighbor labels flow along edges; merging with the node's own
      // label via a left join (not union+groupBy) keeps the previous
      // label on the row, so convergence is readable off the
      // checkpointed result without the extra per-round labels-join
      // the r2 form paid (~2× the round cost at 20 rounds)
      val nbrMin = sym.join(labels, sym("e_nbr") === labels("id"))
        .groupBy(col("e_id").as("id")).agg(min("component").as("nbr_comp"))
      val merged = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("component").as("old_comp"),
          least(col("component"), coalesce(col("nbr_comp"), col("component"))).as("component"))
      // pointer jumping: follow component → component-of(component),
      // doubling effective propagation distance per round (a 2^r-hop
      // path resolves in ~r rounds instead of its diameter)
      val ptrs = merged.select(col("id").as("p_id"), col("component").as("p_comp"))
      val next = ckptLazy(merged.join(ptrs, merged("component") === ptrs("p_id"), "left")
        .select(col("id"), col("old_comp"),
          least(col("component"), coalesce(col("p_comp"), col("component"))).as("component")))
      // a label only ever decreases → changed ⇔ any strict decrease.
      // This count is the round's ONLY driver action: computing it
      // forces the lazily-marked checkpoint above (RDD.doCheckpoint
      // runs over the action's whole ancestor DAG), so materialization
      // and convergence detection share one job instead of two.
      converged = next.where(col("component") < col("old_comp")).count() == 0L
      labels = next.select("id", "component")
      // the new round is materialized — free the PREVIOUS round's
      // localCheckpoint blocks. Without this, every round's full label
      // frame stays pinned in the block store; at 10 M nodes the
      // accumulated rounds overflowed executor storage and the
      // eviction/GC thrash showed up as 20-80x per-round spikes in the
      // r7 scale smoke (910 s vs 162 s with per-round release).
      Adaptive.release(roundCkpt)
      roundCkpt = next
      round += 1
      roundSecs += (System.nanoTime() - roundT0) / 1e9
    }
    // the result depends only on the final round's truncated state —
    // the doubled edge list (the largest persisted object) can go
    Adaptive.release(sym)
    // silent non-convergence would hand back labels that LOOK like
    // components but still straddle cluster boundaries — fail instead
    if (!converged) throw new IllegalStateException(
      s"ConnectedComponents: not converged after $maxRounds rounds — " +
        "raise maxRounds (rounds needed ≈ log2 of the longest chain)")
    (labels, round, roundSecs.result())
  }

  /** Free the block-store copy backing a frame returned by
    * [[components]] in localCheckpoint mode (no-op for reliable mode).
    * The final round's label frame stays pinned on the executors until
    * released — callers running several closures in one JVM (scale
    * smokes, repeated dedup passes) otherwise stack dead label frames
    * in storage. Call AFTER consuming the result: the frame cannot be
    * recomputed once its blocks are gone. */
  def releaseResult(df: DataFrame): Unit = Adaptive.release(df)
}
