package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic random-walk corpus generation — DeepWalk/node2vec's
  * front half (Perozzi et al. 2014): sample walks from a graph, feed
  * them to a word2vec pipeline ([[graft.text.SkipGram]] here) and the
  * node embeddings fall out. The engine's twist: NO RNG state — the
  * step-i hop of walk w is `neighbors[xxhash64(seed, w, i) mod deg]`
  * against a rank-indexed adjacency, so walks are reproducible on any
  * cluster, any partitioning, any retry (the same property every
  * sampler in this repo has), while remaining uniform over neighbors
  * per step.
  *
  * Scale shape per step: one 1:1 equi-join of the frontier against
  * the ARRAY adjacency (each node's sorted neighbor list collected
  * once), then `element_at(nbrs, pick+1)` reads the hash-picked hop —
  * the join carries exactly one row per live walk. The naive
  * alternative (join on `cur = src` with `rank = pick` as a residual
  * filter) is NOT an equi-join on the rank: it materializes
  * frontier × degree rows every step before filtering, which on a
  * co-purchase graph (hot parts, degree in the thousands) is the
  * whole cost. Adjacency rows are max-degree-bounded — cap degrees
  * upstream for power-law graphs whose hottest node's neighbor list
  * would not fit a row (~10⁷ neighbors is still only ~100 MB).
  * The adjacency is pinned once ([[Adaptive.localRounds]]) and reused;
  * frontier rows carry their growing path array (walkLen-bounded);
  * dead-end walks leave the frontier and keep their shorter path. */
object RandomWalks {

  /** `walksPerNode` walks of up to `walkLen` hops from every node of
    * the directed `(src, dst)` edge frame. Output: `(walk_id, path)`
    * — path an array of node ids (strings), length walkLen+1 unless a
    * dead end cut it short. */
  def walks(edges: DataFrame, walksPerNode: Int, walkLen: Int,
      seed: String = "walk", distinctEdges: Boolean = true): DataFrame = {
    require(walksPerNode >= 1 && walkLen >= 1)
    // distinctEdges = false skips the defensive dedup exchange when the
    // caller's edge frame is already distinct (e.g. Graphs.coOccurrence
    // output) — duplicate edges would bias the sampler, so only assert
    // it when it is a construction-time fact
    val rounds = Adaptive.localRounds
    val e0p = edges.select(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst"))
    val e0 = rounds.pinLazy(if (distinctEdges) e0p.distinct() else e0p)
    // sorted neighbor array per node: element_at(nbrs, k+1) is the
    // same node the former rank-indexed row `rank = k` held (rank was
    // row_number() over (partition by src order by dst) - 1), so
    // walks are bit-identical to the rank-join formulation
    // NO repartition after the groupBy: the aggregate's output is
    // already hash-partitioned by src (the grouping key), so an
    // explicit repartition(col("src")) re-shuffled the whole adjacency
    // — arrays and all — through a second identical exchange (measured
    // 2.3 s / 40 MB of the sf0.1 co-purchase walk, r20 profile).
    val adj = rounds.pinLazy(e0.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .withColumn("deg", size(col("nbrs")).cast("long")))
    val nodes = e0.select(col("src").as("node")).distinct()
    var frontier = rounds.pinLazy(nodes
      .select(col("node"),
        explode(sequence(lit(0), lit(walksPerNode - 1))).as("w"))
      .select(concat_ws("#", col("node"), col("w")).as("walk_id"),
        col("node").as("cur"), array(col("node")).as("path")))
    var done: DataFrame = null
    for (step <- 1 to walkLen) {
      val pick = pmod(xxhash64(lit(seed), col("walk_id"), lit(step)),
        col("deg"))
      val hop = element_at(col("nbrs"), (pick + 1).cast("int"))
      // LAZY pin: the eager form scheduled a standalone
      // materialization job per step; lazy piggybacks on the first
      // consumer (the ended-filter or the next frontier join) with the
      // SAME boundary pinning. Bench-neutral at sf0.1 (the per-step
      // cost is the frontier⋈adjacency join either way — r13 measured
      // 10.5 vs 10.7 s under load); kept for the saved scheduler round
      // trip per step, the GlobalOrder r13 discipline.
      val stepped = rounds.pinLazy(frontier.join(adj, col("cur") === col("src"), "left")
        .select(col("walk_id"),
          hop.as("cur"),
          when(hop.isNotNull,
            concat(col("path"), array(hop)))
            .otherwise(col("path")).as("path"),
          hop.isNull.as("dead")))
      val ended = stepped.where(col("dead") || lit(step == walkLen))
        .select(col("walk_id"), col("path"))
      done = if (done == null) ended else done.union(ended)
      frontier = stepped.where(!col("dead") && lit(step < walkLen))
        .select(col("walk_id"), col("cur"), col("path"))
    }
    done
  }
}
