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
  * Rounds run on [[Adaptive.rounds]]: each round's label state is
  * pinned (local or reliable checkpoint, resolved once) to cut the
  * exponentially growing iterative lineage, and the previous round is
  * released.
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
    * `reliable` picks the checkpoint kind of the rounds
    * ([[Adaptive.rounds]]): `Some(true)` is the executor-loss-safe mode
    * a 1000-executor production run wants (the caller must have set
    * `spark.sparkContext.setCheckpointDir`); an explicit choice always
    * takes the distributed path. The default `None` folds within the
    * driver budget and otherwise resolves the mode from the edge count
    * ([[Adaptive.AutoReliableEdges]]). Rounds taken and per-round
    * times are reported as [[Adaptive.RoundsRun]] (`op` "cc"). */
  def components(edges: DataFrame, maxRounds: Int = 20,
                 reliable: Option[Boolean] = None): DataFrame =
    componentsCapped(edges, Adaptive.foldRows(FoldBytesPerEdge), maxRounds, reliable)

  /** [[components]] under a given fold cap (0: never fold);
    * `autoReliableEdges` overrides the [[Adaptive.AutoReliableEdges]]
    * threshold (tests pin the switch with a tiny graph). */
  private[graft] def componentsCapped(edges: DataFrame, foldRows: Long,
      maxRounds: Int = 20, reliable: Option[Boolean] = None,
      autoReliableEdges: Long = Adaptive.AutoReliableEdges): DataFrame = {
    // materialize the edge list FIRST: `und` is referenced by both the
    // symmetric-closure job and the initial-labels job below — without
    // this checkpoint the caller's whole upstream pipeline (e.g. an
    // n-gram Jaccard pair join) executes once per reference, since
    // exchange reuse never spans separate actions
    val (und, rounds) = Adaptive.rounds(
      edges.select(col("src").cast("long"), col("dst").cast("long")), reliable, autoReliableEdges)
    // auto-mode fold (see [[FoldBytesPerEdge]]), streamed over the
    // persisted partitions: identical min-id components, zero rounds.
    // One count of `und` serves both the fold admission and the auto
    // mode below; neither runs it when it cannot matter
    if (reliable.isEmpty && Adaptive.admits(foldRows, rounds.inputRows)) {
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
      Adaptive.report(spark, Adaptive.RoundsRun("cc", "fold", 0, converged = true, Seq.empty))
      return spark.createDataset(
        out.toIndexedSeq.map(n => (n, find(n)))).toDF("id", "component")
    }
    // auto mode: the edge frame is now materialized (locally — the
    // decision predates the mode), so `rounds` resolves the mode of
    // every downstream cut from its exact size at the first pin below
    // symmetric closure, checkpointed (not just cached): a cache keeps
    // the upstream logical plan — e.g. a whole near-dup pair pipeline —
    // and every round's join re-runs the optimizer over that subtree;
    // checkpointing truncates it so each round plans against a flat
    // in-memory relation
    val sym = rounds.pin(und.union(und.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst")).distinct()
      .select(col("src").as("e_id"), col("dst").as("e_nbr")))

    val labels0 = rounds.pin(und.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct().select(col("id"), col("id").as("component")))
    // `und` fed only the symmetric closure and the initial labels,
    // both now materialized — release its full-edge-copy blocks
    Adaptive.release(und)

    val (last, converged) = rounds.converge("cc", labels0, maxRounds) { state =>
      val labels = state.select("id", "component")
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
      merged.join(ptrs, merged("component") === ptrs("p_id"), "left")
        .select(col("id"), col("old_comp"),
          least(col("component"), coalesce(col("p_comp"), col("component"))).as("component"))
    } { next =>
      // a label only ever decreases → changed ⇔ any strict decrease
      next.where(col("component") < col("old_comp")).count() > 0L
    }
    // the result depends only on the final round's truncated state —
    // the doubled edge list (the largest persisted object) can go
    Adaptive.release(sym)
    // silent non-convergence would hand back labels that LOOK like
    // components but still straddle cluster boundaries — fail instead
    if (!converged) throw new IllegalStateException(
      s"ConnectedComponents: not converged after $maxRounds rounds — " +
        "raise maxRounds (rounds needed ≈ log2 of the longest chain)")
    last.select("id", "component")
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
