package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition — the maximal subgraph in which every node has
  * degree >= k, by iterative peeling: repeatedly delete nodes whose
  * CURRENT degree is below k until none remain. The dense-subgraph
  * workhorse for derived graphs here: a near-dup pair graph's high-k
  * cores are template/boilerplate families (prime dedup targets), a
  * link graph's cores are its spam-ring candidates — the complement of
  * [[LabelPropagation]]'s communities and [[ConnectedComponents]]'
  * reachability.
  *
  * Deterministic: peeling is a confluent process (the k-core is unique
  * regardless of deletion order), so the fixpoint — and the surviving
  * (node, degree) frame — is partitioning/retry-independent. Rounds
  * are data-dependent (worst case a chain peels one layer per round),
  * so the gate is ScalaTest + bench, not a SQL replay.
  *
  * Scale shape per round: one degree aggregate and one semi join of
  * the edge frame against the surviving-node set (NOT an anti join
  * per endpoint against the removed set — survivors shrink
  * monotonically, and joining edges to survivors on both endpoints is
  * one shuffle reusing the src layout). State is the edge frame, one
  * round per [[Adaptive.rounds]] converging step; the early exit fires
  * the first round nothing peels.
  */
object KCore {

  /** Surviving `(node, degree)` rows of the k-core. `edges` is an
    * undirected adjacency given as BOTH directions (the CC/PageRank
    * convention); self-loops are dropped. Returns empty when the graph
    * has no k-core. `maxRounds` caps pathological chains; rounds taken
    * are reported as [[Adaptive.RoundsRun]] (`op` "kcore"). `reliable`
    * picks the checkpoint kind as in [[Adaptive.rounds]]. */
  def core(edges: DataFrame, k: Int, maxRounds: Int = 100,
      reliable: Option[Boolean] = None): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    val (e, rounds) = Adaptive.rounds(edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")), reliable)
    def degrees(e: DataFrame) = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val (last, _) = rounds.converge("kcore", e, maxRounds) { e =>
      val survivors = degrees(e).where(col("deg") >= k).select(col("src").as("node"))
      e.join(survivors.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .join(survivors.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
    } { e2 =>
      // peel again only if some surviving node fell below k
      degrees(e2).where(col("deg") < k).count() > 0L
    }
    degrees(last).where(col("deg") >= k)
      .select(col("src").as("node"), col("deg").as("degree"))
  }
}
