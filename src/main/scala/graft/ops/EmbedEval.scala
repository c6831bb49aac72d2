package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Intrinsic embedding-quality evaluation — the 38n lesson ("the
  * engine must grade its own gates") applied to the trainers
  * (graft.text.Sgns) and to any ingested vector corpus: a curation
  * pipeline choosing dims/epochs/negatives needs a measured dial, not
  * vibes. Two standard instruments:
  *
  *   - [[neighborPurity]] — label coherence of the vector space: for
  *     each vector, the fraction of its k nearest neighbors (cosine)
  *     sharing its label, aggregated per label. The direct quality
  *     readout for semantic-dedup / clustering uses of the space.
  *   - [[spearman]] — rank correlation between a gold similarity and
  *     the model's cosine over a pair set: the word-similarity-
  *     benchmark form (WordSim/SimLex convention) reduced to its
  *     engine-reproducible skeleton.
  *
  * The reference has no embedding surface at all (its scope ends at
  * row validation — DM_bankfile_validate_pipeline.py); this grades
  * the capability stack built on top.
  */
object EmbedEval {

  /** Per-label neighbor purity at k. Rides [[Ann.knnGraph]] — pass
    * `cells`/`nprobe` for the shuffled IVF scale path (the corpus is
    * never broadcast); labels join back by id (two narrow equi-joins).
    * Purity is exact-integer matched/edges rounded 1e-6, so the
    * result replays identically under any partitioning. `n_edges`
    * can be < n_queries·k only when the corpus (or a probed cell) has
    * fewer than k+1 vectors. */
  def neighborPurity(corpus0: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, cells: Int = 0, nprobe: Int = 0): DataFrame = {
    // the corpus feeds the kNN graph AND both label joins — pin a
    // derived corpus once instead of re-executing its pipeline per
    // reference (scan-shaped corpora pass through, see Adaptive.pinDerived)
    val corpus = Adaptive.pinDerived(corpus0)
    val g = Ann.knnGraph(corpus, idCol, vecCol, k, cells, nprobe)
    val qLab = corpus.select(col(idCol).cast("long").as("query_id"),
      col(labelCol).as("_qlbl"))
    val nLab = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(labelCol).as("_nlbl"))
    g.join(qLab, "query_id").join(nLab, "neighbor_id")
      .groupBy(col("_qlbl").as("label"))
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_edges"),
        sum(when(col("_qlbl") === col("_nlbl"), 1L).otherwise(0L))
          .as("n_matched"))
      .select(col("label"), col("n_queries"), col("n_edges"),
        round(col("n_matched").cast("double") / col("n_edges"), 6)
          .as("purity"))
      .orderBy("label")
  }

  /** Word-analogy accuracy by 3COSADD (Mikolov et al. 2013: "a is to
    * b as c is to ?" answered by argmax cosine against v_b − v_a +
    * v_c, the three question words excluded) — the third intrinsic
    * instrument after [[neighborPurity]] and [[spearman]], grading the
    * LINEAR structure of a vector space (offsets meaning something is
    * what separates a trained embedding from a hash).
    *
    * `quads` supplies gold (a, b, c, d) rows; the prediction is the
    * cosine-argmax over the WHOLE vocabulary with the deterministic
    * (cosine desc, id asc) tie order on 1e-6-rounded cosines, so the
    * verdict replays in any engine. One row out: (n_quads, n_correct,
    * accuracy).
    *
    * Scale shape: vectors are MODEL data (vocabulary-bounded — they
    * broadcast), a gold benchmark is thousands of quads; the quad ×
    * vocabulary scoring is one narrow broadcast-join projection, no
    * shuffle until the final quad-sized aggregate. */
  def analogyAccuracy(vectors: DataFrame, idCol: String, vecCol: String,
      quads: DataFrame, aCol: String = "a", bCol: String = "b",
      cCol: String = "c", dCol: String = "d"): DataFrame = {
    val v = vectors.select(col(idCol).as("_w"),
      col(vecCol).cast("array<double>").as("_v"))
    def side(q: DataFrame, name: String, as: String) =
      q.join(broadcast(v.select(col("_w").as(name), col("_v").as(as))), name)
    val withTarget = side(side(side(quads.select(
        col(aCol).as("_a"), col(bCol).as("_b"),
        col(cCol).as("_c"), col(dCol).as("_d")),
        "_a", "_va"), "_b", "_vb"), "_c", "_vc")
      .select(col("_a"), col("_b"), col("_c"), col("_d"),
        zip_with(zip_with(col("_vb"), col("_va"), (x, y) => x - y),
          col("_vc"), (x, y) => x + y).as("_t"))
    val scored = withTarget
      .join(broadcast(v)) // quad × vocabulary, narrow
      .where(col("_w") =!= col("_a") && col("_w") =!= col("_b") &&
        col("_w") =!= col("_c"))
      .select(col("_a"), col("_b"), col("_c"), col("_d"),
        // double arithmetic end-to-end (the target b−a+c is derived,
        // not stored — a float round-trip would split round-6 ties
        // differently from any double-precision replay)
        struct(round(Ann.cosineHof(col("_t"), col("_v")), 6).as("cos"),
          col("_w").as("w")).as("_s"))
    // max of (cos, w-desc-by-negation?) — the deterministic winner is
    // (cosine DESC, id ASC): invert the id inside the comparison by
    // max over (cos, struct-compare) ... ids have no generic negation,
    // so take min over (-cos, id) instead: smallest −cos = largest
    // cosine, then smallest id
    val winner = scored
      .select(col("_a"), col("_b"), col("_c"), col("_d"),
        struct((-col("_s.cos")).as("nc"), col("_s.w").as("w")).as("_r"))
      .groupBy("_a", "_b", "_c", "_d")
      .agg(min(col("_r")).as("best"))
    winner.agg(
        count(lit(1)).as("n_quads"),
        sum(when(col("best.w") === col("_d"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("n_quads"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_quads"), 6)
          .as("accuracy"))
  }

  /** Spearman rank correlation between `goldCol` and `modelCol` over
    * a pair frame, in the MIN-RANK (SQL `rank()`) convention:
    * deterministic under ties with no arbitrary tie-break and
    * identical in any engine — the average-rank textbook variant
    * needs fractional ranks that float differently across engines,
    * and with integer-quantized scores the two orderings agree on
    * everything but tie plateaus. rho = 1 − 6·Σd²/(n(n²−1)) with Σd²
    * exact in DECIMAL(38,0) (d ≤ n per pair, so a long sum overflows
    * past ~2M pairs); only the final division is floating, rounded
    * 1e-6.
    *
    * Scale shape: the two global rank() windows are single-partition
    * sorts — the pair set is MODEL data (a gold benchmark is
    * thousands of pairs, vocabulary-bounded like centroids or
    * negative-sampling tables), never the corpus; the corpus-sized
    * work (scoring each pair) happens before this call, narrow. */
  def spearman(pairs: DataFrame, goldCol: String,
      modelCol: String): DataFrame = {
    val ranked = pairs.select(
      rank().over(Window.orderBy(col(goldCol).asc)).as("rg"),
      rank().over(Window.orderBy(col(modelCol).asc)).as("rm"))
    val d = (col("rg") - col("rm")).cast("decimal(38,0)")
    ranked
      .agg(count(lit(1)).as("n_pairs"), sum(d * d).as("sum_d2"))
      .select(col("n_pairs"), col("sum_d2").cast("long").as("sum_d2"),
        round(
          lit(1.0) - lit(6.0) * col("sum_d2").cast("double") /
            (col("n_pairs").cast("double") *
              (col("n_pairs").cast("double") * col("n_pairs").cast("double") - 1.0)),
          6).as("rho"))
  }
}
