package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by label propagation (Raghavan, Albert &
  * Kumara 2007), the near-linear community algorithm one rung past
  * [[ConnectedComponents]]: CC unites everything REACHABLE; LPA
  * splits a connected graph into densely-linked communities — the
  * dedup-cluster refinement that separates "transitively chained"
  * from "actually similar" groups, and the standard first cut on
  * link/citation graphs.
  *
  * Deterministic synchronous variant: every round, each node adopts
  * the most frequent label among its NEIGHBORS, ties to the smallest
  * label (the published algorithm breaks ties randomly; a data
  * pipeline cannot). Synchronous updates can oscillate on bipartite
  * structures, so the loop stops at convergence OR `maxRounds` and
  * reports the rounds taken — LPA is a heuristic and is documented
  * as such, unlike CC's exact closure.
  *
  * Scale shape: edges symmetric-closed and pinned once; each round is
  * one label-join + one (node, label) count + one per-node argmax (all
  * map-side-combining aggregates, never a window), run on
  * [[Adaptive.localRounds]]. */
object LabelPropagation {

  /** Driver bytes per input edge of the fold — per-node neighbor sets
    * and label counts, four times union-find's flat map
    * ([[ConnectedComponents.FoldBytesPerEdge]]). Within its
    * [[Adaptive.foldRows]] cap the rounds run on the driver over the
    * collected edges (r20: ~0.6 s/round distributed on a 6k-edge kNN
    * graph, all rounds ~10 ms folded), with the same neighborhoods,
    * (count desc, label asc) argmax and synchronous stop. */
  private[graft] val FoldBytesPerEdge = 128L

  /** (id, community) for every node in `edges` (two long-castable
    * columns src, dst; self-loops admit isolated nodes, which keep
    * their own label). Rounds taken are reported as
    * [[Adaptive.RoundsRun]] (`op` "lpa"). */
  def communities(edges: DataFrame, maxRounds: Int = 10): DataFrame =
    communitiesCapped(edges, Adaptive.foldRows(FoldBytesPerEdge), maxRounds)

  /** [[communities]] under a given fold cap (0: never fold). */
  private[graft] def communitiesCapped(edges: DataFrame, foldRows: Long,
      maxRounds: Int = 10): DataFrame = {
    require(maxRounds >= 1, s"maxRounds: $maxRounds")
    val rounds = Adaptive.localRounds
    val und = rounds.pin(edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src").isNotNull && col("dst").isNotNull))
    // bounded driver fold: the checkpoint above materialized the edge
    // list, so its exact size decides the tier (as in CC)
    if (Adaptive.admits(foldRows, Adaptive.rows(und))) {
      val rows = und.collect()
      Adaptive.release(und)
      val nbrs = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.HashSet[Long]]
      var labels = scala.collection.mutable.LongMap.empty[Long]
      rows.foreach { r =>
        val s = r.getLong(0); val d = r.getLong(1)
        labels(s) = s; labels(d) = d
        if (s != d) {
          nbrs.getOrElseUpdate(s,
            scala.collection.mutable.HashSet.empty[Long]) += d
          nbrs.getOrElseUpdate(d,
            scala.collection.mutable.HashSet.empty[Long]) += s
        }
      }
      var round = 0
      var converged = false
      while (!converged && round < maxRounds) {
        val next = scala.collection.mutable.LongMap.empty[Long]
        var changed = false
        labels.foreach { case (id, lbl) =>
          val ns = nbrs.getOrElse(id, null)
          if (ns == null || ns.isEmpty) next(id) = lbl
          else {
            val cnt = scala.collection.mutable.LongMap.empty[Long]
            ns.foreach { nb =>
              val l = labels(nb)
              cnt(l) = cnt.getOrElse(l, 0L) + 1L
            }
            var bestL = Long.MaxValue
            var bestN = 0L
            cnt.foreach { case (l, c) =>
              if (c > bestN || (c == bestN && l < bestL)) {
                bestN = c; bestL = l
              }
            }
            next(id) = bestL
            if (bestL != lbl) changed = true
          }
        }
        converged = !changed
        labels = next
        round += 1
      }
      val spark = edges.sparkSession
      import spark.implicits._
      Adaptive.report(spark, Adaptive.RoundsRun("lpa", "fold", round, converged, Seq.empty))
      return spark.createDataset(
        labels.toSeq.map { case (id, c) => (id, c) })
        .toDF("id", "community")
    }
    val sym = rounds.pin(und.union(und.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst")).distinct()
      .select(col("src").as("e_id"), col("dst").as("e_nbr")))
    val labels0 = rounds.pin(und.select(explode(array(col("src"), col("dst"))).as("id"))
      .distinct().select(col("id"), col("id").as("community")))
    Adaptive.release(und)

    val (last, _) = rounds.converge("lpa", labels0, maxRounds) { state =>
      val labels = state.select("id", "community")
      // neighbor label votes: count per (node, label), argmax by
      // (count desc, label asc) via min(struct(-count, label)) —
      // map-side partials, no window
      val votes = sym.join(labels, sym("e_nbr") === labels("id"))
        .groupBy(col("e_id").as("id"), col("community").as("lbl"))
        .agg(count(lit(1)).as("n"))
        .groupBy("id")
        .agg(min(struct((-col("n")).as("neg"), col("lbl").as("l"))).as("b"))
        .select(col("id"), col("b.l").as("new_comm"))
      labels.join(votes, Seq("id"), "left")
        .select(col("id"), col("community").as("old_comm"),
          coalesce(col("new_comm"), col("community")).as("community"))
    } { next => next.where(col("community") =!= col("old_comm")).count() > 0L }
    Adaptive.release(sym)
    last.select("id", "community")
  }
}
