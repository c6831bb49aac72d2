package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy k-center coreset selection (Gonzalez 1985 farthest-point
  * traversal — the 2-approximation to the k-center cover): pick a
  * deterministic first center, then k−1 times pick the vector
  * FARTHEST from its nearest chosen center. The data-pruning /
  * dataset-distillation selector: the chosen k are maximally spread,
  * every corpus vector is within the final radius of some center —
  * diversity sampling where random sampling oversamples dense modes.
  *
  * Spark shape — the k-means/BPE driver-loop discipline inverted:
  * instead of re-scanning against ALL centers each round (O(k²·n)
  * total), the corpus carries a RUNNING min-distance column
  * (cached, updated by comparing against only the ONE new center per
  * round, localCheckpoint-truncated lineage, previous round's blocks
  * released) — O(k·n) cosine evaluations total, one bounded-collect
  * argmax job per round. Centers live on the driver: k vectors =
  * model data.
  *
  * Determinism: distances round6-quantized; the per-round argmax
  * breaks ties on ascending id (`max(struct(dist, -id))`); the first
  * center is the minimum id. Bit-stable across partitionings. */
object Coreset {

  /** The k selected (id, vector) centers in selection order, with the
    * covering radius at selection time — radius(i) is the distance of
    * center i from the already-chosen set, a non-increasing sequence
    * whose last value bounds every vector's distance to the cover. */
  def kCenters(emb: DataFrame, idCol: String, vecCol: String,
               k: Int): Seq[(Long, Array[Float], Double)] = {
    require(k >= 1, s"k: $k")
    val spark = emb.sparkSession
    val first = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .orderBy("id").limit(1).collect()
    require(first.nonEmpty, "empty corpus")
    val firstId = first(0).getLong(0)
    val firstVec = first(0).getSeq[Float](1).toArray
    val chosen = scala.collection.mutable.ArrayBuffer[(Long, Array[Float], Double)](
      (firstId, firstVec, Double.PositiveInfinity))

    // cosine distance 1 − cos, round6 — matches the ANN oracles'
    // quantization discipline; the center vector rides the plan as a
    // literal (k vectors total — model-sized)
    def dist(vec: Array[Float]) =
      lit(1.0) - round(graft.expr.CosineSimF.cosineSim(col("v"), lit(vec)), 6)

    // state: (id, v, dmin) — running distance to the nearest chosen
    var state = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .where(col(idCol).cast("long") =!= firstId)
      .withColumn("dmin", dist(firstVec))
      .localCheckpoint(true)
    var prev: DataFrame = null
    var i = 1
    while (i < k) {
      // farthest from the chosen set; ties to the smaller id. The
      // vector rides INSIDE the argmax struct (it can never drive the
      // comparison — (d, nid) is already unique per row), so each
      // round is ONE job instead of argmax + a full re-scan for the
      // winner's vector (r20: halves the per-round job count).
      val far = state
        .agg(max(struct(col("dmin").as("d"), (-col("id")).as("nid"),
          col("v").as("fv"))).as("m"))
        .select(col("m.d"), (-col("m.nid")).as("id"), col("m.fv")).collect()(0)
      if (far.isNullAt(0)) return chosen.toSeq // corpus exhausted
      val farId = far.getLong(1)
      val radius = far.getDouble(0)
      val farVec = far.getSeq[Float](2).toArray
      chosen += ((farId, farVec, radius))
      val old = state
      state = state.where(col("id") =!= farId)
        .withColumn("dmin", least(col("dmin"), dist(farVec)))
        .select("id", "v", "dmin")
        .localCheckpoint(false)
      if (prev ne null) Adaptive.release(prev)
      prev = old
      i += 1
    }
    Adaptive.release(state)
    if (prev ne null) Adaptive.release(prev)
    chosen.toSeq
  }

  /** Corpus assignment to the selected centers: (id, center_id,
    * dist) — every vector keyed to its nearest center (ties to the
    * earlier-selected center). One broadcast pass, no shuffle. */
  def assign(emb: DataFrame, idCol: String, vecCol: String,
             centers: Seq[(Long, Array[Float], Double)]): DataFrame = {
    require(centers.nonEmpty)
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = centers.map { case (id, v, _) => (id, v) }.toDF("center_id", "cv")
    val scored = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .crossJoin(broadcast(cents))
      .select(col("id"), col("center_id"),
        (lit(1.0) - round(graft.expr.CosineSimF.cosineSim(col("v"), col("cv")), 6))
          .as("dist"))
    // nearest center, ties to the earlier-selected (smaller rank →
    // encode rank by position in `centers`)
    val rank = centers.map(_._1).zipWithIndex.toMap
    val rankDf = broadcast(rank.toSeq.toDF("center_id", "rk"))
    scored.join(rankDf, "center_id")
      .groupBy("id")
      .agg(min(struct(col("dist"), col("rk"), col("center_id"))).as("b"))
      .select(col("id"), col("b.center_id").as("center_id"),
        col("b.dist").as("dist"))
  }
}
