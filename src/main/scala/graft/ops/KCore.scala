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
  * one shuffle reusing the src layout). State is the edge frame,
  * checkpointed per round with CC's discipline; the early exit fires
  * the first round nothing peels.
  */
object KCore {

  /** Surviving `(node, degree)` rows of the k-core. `edges` is an
    * undirected adjacency given as BOTH directions (the CC/PageRank
    * convention); self-loops are dropped. Returns empty when the graph
    * has no k-core. `maxRounds` caps pathological chains — the
    * fixpoint is reported in [[coreInstrumented]]'s second element. */
  def core(edges: DataFrame, k: Int, maxRounds: Int = 100,
      reliable: Option[Boolean] = None): DataFrame =
    coreInstrumented(edges, k, maxRounds, reliable)._1

  def coreInstrumented(edges: DataFrame, k: Int, maxRounds: Int = 100,
      reliable: Option[Boolean] = None): (DataFrame, Int) = {
    require(k >= 1, s"k $k must be >= 1")
    var useReliable = reliable.getOrElse(false)
    def ckpt(df: DataFrame): DataFrame =
      if (useReliable) df.checkpoint() else df.localCheckpoint()
    // lazy variant + FULL count: one action per round materializes the
    // round's edge checkpoint AND answers the peel test (was an eager
    // checkpoint job + an isEmpty job per round, r20); a full count
    // never truncates lineage over partially computed blocks.
    def ckptLazy(df: DataFrame): DataFrame =
      if (useReliable) df.checkpoint(eager = false)
      else df.localCheckpoint(eager = false)
    var e = ckpt(edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")))
    useReliable = Adaptive.resolveReliable(e, reliable)
    var rounds = 0
    var peeled = true
    var deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    while (peeled && rounds < maxRounds) {
      rounds += 1
      val survivors = deg.where(col("deg") >= k).select(col("src").as("node"))
      val e2 = ckptLazy(e
        .join(survivors.withColumnRenamed("node", "src"), Seq("src"),
          "left_semi")
        .join(survivors.withColumnRenamed("node", "dst"), Seq("dst"),
          "left_semi"))
      val deg2 = e2.groupBy("src").agg(count(lit(1)).as("deg"))
      // peel again only if some surviving node fell below k
      peeled = deg2.where(col("deg") < k).count() > 0L
      Adaptive.release(e)
      e = e2
      deg = deg2
    }
    (deg.where(col("deg") >= k)
      .select(col("src").as("node"), col("deg").as("degree")), rounds)
  }
}
