package graft
package entries

import graft.ops.Ann
import org.apache.spark.sql.functions._

import Entry.t

/** Similarity search and embedding quality over the embeddings table:
  * exact and approximate (LSH, IVF) top-k, kNN graphs, intrinsic
  * embedding metrics, quantization and projection. */
private[graft] object EmbeddingEntries {

  val all: Seq[Entry] = Seq(

    Entry("ann_cosine_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.bruteTopK(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy("query_id", "rnk")
    }, Some(
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |d AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.v * b.v) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 5
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT qid AS query_id, cid AS neighbor_id,
        |         round(dot / (na.nrm * nb.nrm), 6) AS cosine
        |  FROM d JOIN n na ON na.vec_id = d.qid JOIN n nb ON nb.vec_id = d.cid)
        |SELECT query_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rnk
        |FROM sc
        |QUALIFY rnk <= 10
        |ORDER BY query_id, rnk""".stripMargin)),

    // metadata-filtered vector search: neighbors drawn only from the
    // even-label half of the corpus (pre-filter = exact recall; the
    // predicate prunes the scan before any distance is computed)
    Entry("ann_filtered_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.bruteTopKFiltered(emb, emb.where(col("vec_id") < 5), "vec_id",
          "embedding", k = 10, predicate = col("label") % 2 === 0)
        .orderBy("query_id", "rnk")
    }, Some(
      // filtered-search replay: identical cosine stack with the label
      // predicate on the CANDIDATE side only (queries stay unfiltered)
      """WITH e AS (
        |  SELECT vec_id, label, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |d AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.v * b.v) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 5 AND b.label % 2 = 0
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT qid AS query_id, cid AS neighbor_id,
        |         round(dot / (na.nrm * nb.nrm), 6) AS cosine
        |  FROM d JOIN n na ON na.vec_id = d.qid JOIN n nb ON nb.vec_id = d.cid)
        |SELECT query_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rnk
        |FROM sc
        |QUALIFY rnk <= 10
        |ORDER BY query_id, rnk""".stripMargin)),

    // per-label centroid cosines (label-noise/outlier curation):
    // integer-quantized exact centroid, round6'd cosine of every
    // vector to its class center
    Entry("emb_centroid_outliers", (s, dir) => {
      Ann.centroidCosines(t(s, dir, "embeddings"), "vec_id", "embedding",
          "label")
        .withColumn("is_outlier", col("cos_centroid") < 0.1)
        .orderBy("grp", "vid")
    }, Some(
      // centroid-outlier replay: same integer-quantized centroid (exact
      // in any sum order), same element joins, round6 cosine
      """WITH q AS (
        |  SELECT label AS grp, vec_id AS vid, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |cent AS (
        |  SELECT grp, i,
        |    CAST(sum(CAST(floor(v * 10000) AS BIGINT)) AS DOUBLE)
        |      / 10000.0 / count(*) AS c
        |  FROM q GROUP BY grp, i),
        |j AS (
        |  SELECT q.grp, q.vid,
        |    sum(q.v * cent.c) AS dot, sum(q.v * q.v) AS nv, sum(cent.c * cent.c) AS nc
        |  FROM q JOIN cent ON cent.grp = q.grp AND cent.i = q.i
        |  GROUP BY q.grp, q.vid)
        |SELECT grp, vid,
        |  round(dot / (sqrt(nv) * sqrt(nc)), 6) AS cos_centroid,
        |  round(dot / (sqrt(nv) * sqrt(nc)), 6) < 0.1 AS is_outlier
        |FROM j ORDER BY grp, vid""".stripMargin)),

    // mutual-kNN clustering: components over reciprocal top-3 edges
    // at cosine >= 0.3 — density clustering without a cluster count
    Entry("emb_knn_clusters", (s, dir) => {
      Ann.mutualKnnClusters(t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 3, minCosine = 0.3)
        .groupBy("component").agg(count(lit(1)).as("n_members"))
        .orderBy("component")
    }, Some(
      // mutual-knn cluster replay: full ranking, rank<=3 + threshold,
      // reciprocal-edge join, recursive-CTE closure, min-id labels
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |d AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.v * b.v) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT qid AS query_id, cid AS neighbor_id,
        |         round(dot / (na.nrm * nb.nrm), 6) AS cosine,
        |         row_number() OVER (PARTITION BY qid
        |           ORDER BY round(dot / (na.nrm * nb.nrm), 6) DESC, cid ASC) AS rnk
        |  FROM d JOIN n na ON na.vec_id = d.qid JOIN n nb ON nb.vec_id = d.cid),
        |knn AS (
        |  SELECT query_id, neighbor_id FROM sc
        |  WHERE rnk <= 3 AND cosine >= 0.3),
        |ed AS (
        |  SELECT a.query_id AS src, a.neighbor_id AS dst
        |  FROM knn a JOIN knn b
        |    ON b.query_id = a.neighbor_id AND b.neighbor_id = a.query_id),
        |reach AS (
        |  SELECT vec_id AS a, vec_id AS b FROM embeddings
        |  UNION
        |  SELECT r.a, ed.dst FROM reach r JOIN ed ON r.b = ed.src),
        |lab AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a)
        |SELECT component, CAST(count(*) AS BIGINT) AS n_members
        |FROM lab GROUP BY component ORDER BY component""".stripMargin)),

    // k-NN graph: every vector's top-3 neighbors (exact form at this
    // scale; the cells/nprobe shuffled-join path is the scale shape)
    Entry("ann_knn_graph", (s, dir) => {
      Ann.knnGraph(t(s, dir, "embeddings"), "vec_id", "embedding", k = 3)
        .orderBy("query_id", "rnk")
    }, Some(
      // knn-graph replay: the brute cosine stack with NO query filter —
      // every vector ranks every other, top 3 kept
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |d AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.v * b.v) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT qid AS query_id, cid AS neighbor_id,
        |         round(dot / (na.nrm * nb.nrm), 6) AS cosine
        |  FROM d JOIN n na ON na.vec_id = d.qid JOIN n nb ON nb.vec_id = d.cid)
        |SELECT query_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rnk
        |FROM sc
        |QUALIFY rnk <= 3
        |ORDER BY query_id, rnk""".stripMargin)),

    // intrinsic embedding quality #1 — neighbor purity by planted
    // label at k=3: the label-coherence readout a curation pipeline
    // dials dims/epochs against (EmbedEval rides knnGraph, so the
    // cells/nprobe scale path applies unchanged)
    Entry("emb_neighbor_purity", (s, dir) => {
      graft.ops.EmbedEval.neighborPurity(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", k = 3)
    }, Some(
      // neighbor-purity replay: the ann_knn_graph top-3 CTE joined back
      // to labels, purity as exact-count division rounded 1e-6
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |d AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.v * b.v) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT qid AS query_id, cid AS neighbor_id,
        |         round(dot / (na.nrm * nb.nrm), 6) AS cosine
        |  FROM d JOIN n na ON na.vec_id = d.qid JOIN n nb ON nb.vec_id = d.cid),
        |g AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk
        |  FROM sc QUALIFY rnk <= 3)
        |SELECT ql.label AS label,
        |  count(DISTINCT g.query_id) AS n_queries,
        |  count(*) AS n_edges,
        |  round(CAST(sum(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS purity
        |FROM g
        |JOIN embeddings ql ON ql.vec_id = g.query_id
        |JOIN embeddings nl ON nl.vec_id = g.neighbor_id
        |GROUP BY 1
        |ORDER BY 1""".stripMargin)),

    // intrinsic embedding quality #3 — 3COSADD analogy accuracy over
    // deterministic stride quadruples (a, a+1, a+7, a+8): grades the
    // LINEAR structure of the space; vocabulary-argmax with the
    // (cosine desc, id asc) tie order on round-6 cosines
    Entry("emb_analogy_acc", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val quads = emb.select(col("vec_id").as("a"),
          (col("vec_id") + 1L).as("b"), (col("vec_id") + 7L).as("c"),
          (col("vec_id") + 8L).as("d"))
        .join(emb.select(col("vec_id").as("d")), "d") // gold must exist
      graft.ops.EmbedEval.analogyAccuracy(emb, "vec_id", "embedding", quads)
    }, Some(
      // 3COSADD replay: same stride quads, element-wise b−a+c target,
      // round-6 cosine argmax over the vocabulary minus {a,b,c} with
      // the (cosine DESC, id ASC) tie order
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |tgt AS (
        |  -- quads derived IN element space (e ⋈ e, the knn-oracle
        |  -- shape): joining e against a separate quad CTE sends
        |  -- DuckDB through a per-outer-row delim join that re-runs
        |  -- the unnest (measured 110 s vs 1.1 s for this form)
        |  SELECT ea.vec_id AS a, ea.vec_id + 1 AS b, ea.vec_id + 7 AS c,
        |         ea.vec_id + 8 AS d, ea.i, eb.v - ea.v + ec.v AS tv
        |  FROM e ea
        |  JOIN e eb ON eb.vec_id = ea.vec_id + 1 AND eb.i = ea.i
        |  JOIN e ec ON ec.vec_id = ea.vec_id + 7 AND ec.i = ea.i
        |  JOIN embeddings dd ON dd.vec_id = ea.vec_id + 8),
        |tn AS (
        |  SELECT a, b, c, d, sqrt(sum(tv * tv)) AS tnrm
        |  FROM tgt GROUP BY 1, 2, 3, 4),
        |wn AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |dots AS (
        |  SELECT tgt.a, tgt.b, tgt.c, tgt.d, w.vec_id AS w,
        |         sum(tgt.tv * w.v) AS dot
        |  FROM tgt
        |  JOIN e w ON w.i = tgt.i
        |  WHERE w.vec_id <> tgt.a AND w.vec_id <> tgt.b AND w.vec_id <> tgt.c
        |  GROUP BY 1, 2, 3, 4, 5),
        |sc AS (
        |  SELECT dots.a, dots.b, dots.c, dots.d, dots.w,
        |         round(dots.dot / (tn.tnrm * wn.nrm), 6) AS cos
        |  FROM dots
        |  JOIN tn ON tn.a = dots.a AND tn.b = dots.b AND tn.c = dots.c AND tn.d = dots.d
        |  JOIN wn ON wn.vec_id = dots.w),
        |win AS (
        |  SELECT a, d, w,
        |    row_number() OVER (PARTITION BY a, b, c, d
        |                       ORDER BY cos DESC, w ASC) AS rnk
        |  FROM sc QUALIFY rnk = 1)
        |SELECT count(*) AS n_quads,
        |  CAST(sum(CASE WHEN w = d THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        |  round(CAST(sum(CASE WHEN w = d THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS accuracy
        |FROM win""".stripMargin)),

    // intrinsic embedding quality #2 — Spearman rank correlation
    // between a gold similarity (label distance) and model cosine
    // over a deterministic stride pair set (equi-joins, no pair
    // cross join; min-rank convention, exact-integer Σd²)
    Entry("emb_sim_rank_corr", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val a = emb.select(col("vec_id").as("a_id"),
        col("embedding").as("a_vec"), col("label").as("a_lbl"))
      val b = emb.select(col("vec_id").as("b_id"),
        col("embedding").as("b_vec"), col("label").as("b_lbl"))
      val pairs = a
        .withColumn("st", explode(array(lit(1L), lit(7L), lit(31L), lit(101L))))
        .withColumn("b_id", col("a_id") + col("st"))
        .join(b, "b_id")
        .select(
          (-abs(col("a_lbl") - col("b_lbl"))).cast("long").as("gold"),
          round(Ann.cosine(col("a_vec"), col("b_vec")), 6).as("model"))
      graft.ops.EmbedEval.spearman(pairs, "gold", "model")
    }, Some(
      // Spearman replay: identical stride pair set, identical min-rank
      // (rank()) convention, exact-integer Σd², one final double divide
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |p AS (
        |  SELECT a.vec_id AS a_id, a.vec_id + t.st AS b_id
        |  FROM embeddings a, unnest([1, 7, 31, 101]) AS t(st)),
        |pd AS (
        |  SELECT p.a_id, p.b_id, sum(ea.v * eb.v) AS dot
        |  FROM p
        |  JOIN e ea ON ea.vec_id = p.a_id
        |  JOIN e eb ON eb.vec_id = p.b_id AND eb.i = ea.i
        |  GROUP BY 1, 2),
        |pr AS (
        |  SELECT -abs(la.label - lb.label) AS gold,
        |         round(pd.dot / (na.nrm * nb.nrm), 6) AS model
        |  FROM pd
        |  JOIN n na ON na.vec_id = pd.a_id
        |  JOIN n nb ON nb.vec_id = pd.b_id
        |  JOIN embeddings la ON la.vec_id = pd.a_id
        |  JOIN embeddings lb ON lb.vec_id = pd.b_id),
        |r AS (
        |  SELECT rank() OVER (ORDER BY gold ASC) AS rg,
        |         rank() OVER (ORDER BY model ASC) AS rm
        |  FROM pr)
        |SELECT count(*) AS n_pairs,
        |  CAST(sum((rg - rm) * (rg - rm)) AS BIGINT) AS sum_d2,
        |  round(1.0 - 6.0 * CAST(sum((rg - rm) * (rg - rm)) AS DOUBLE) /
        |    (CAST(count(*) AS DOUBLE) *
        |     (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE) - 1.0)), 6) AS rho
        |FROM r""".stripMargin)),

    // hard-negative mining (retrieval-training triplets): rank-1 is
    // the positive, ranks 4-8 the negatives (skip band 3 guards
    // against unlabeled duplicates); one ranking pass serves both
    Entry("emb_hard_negatives", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.mineHardNegatives(emb, emb.where(col("vec_id") < 5), "vec_id",
          "embedding", numNegatives = 5, skipTop = 3)
        .orderBy("query_id", "neg_rank")
    }, Some(
      // triplet replay: same ranking stack; positive = rank 1,
      // negatives = ranks 4..8 re-based to 1..5
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |d AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.v * b.v) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 5
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT qid AS query_id, cid AS neighbor_id,
        |         round(dot / (na.nrm * nb.nrm), 6) AS cosine,
        |         CAST(row_number() OVER (PARTITION BY qid
        |           ORDER BY round(dot / (na.nrm * nb.nrm), 6) DESC, cid ASC)
        |           AS INTEGER) AS rnk
        |  FROM d JOIN n na ON na.vec_id = d.qid JOIN n nb ON nb.vec_id = d.cid),
        |pos AS (SELECT query_id, neighbor_id AS pos_id FROM sc WHERE rnk = 1)
        |SELECT sc.query_id, pos.pos_id, sc.neighbor_id AS neg_id,
        |  CAST(sc.rnk - 3 AS INTEGER) AS neg_rank
        |FROM sc JOIN pos USING (query_id)
        |WHERE sc.rnk > 3 AND sc.rnk <= 8
        |ORDER BY sc.query_id, neg_rank""".stripMargin)),

    // embedding-cosine near-duplicate pairs: threshold form of the
    // brute pass — deterministic (no top-k selection instability).
    Entry("emb_near_dup", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.cosineNeighbors(emb, emb.where(col("vec_id") < 50), "vec_id", "embedding",
          threshold = 0.3)
        .orderBy("query_id", "neighbor_id")
    }, Some(
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |d AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.v * b.v) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 50
        |  GROUP BY 1, 2)
        |SELECT qid AS query_id, cid AS neighbor_id,
        |       round(dot / (na.nrm * nb.nrm), 6) AS cosine
        |FROM d JOIN n na ON na.vec_id = d.qid JOIN n nb ON nb.vec_id = d.cid
        |WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.3
        |ORDER BY query_id, neighbor_id""".stripMargin)),

    Entry("ann_lsh_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      // md5-seeded hyperplanes (replayable = true) so the DuckDB
      // oracle recomputes bucket assignment + probe from the raw
      // vectors; the native LshBucket64 path is parity-pinned in
      // AnnSpec.
      Ann.lshTopK(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, numPlanes = 8, replayable = true)
        .orderBy("query_id", "rnk")
    }, Some(
      // md5-seeded sign-random-projection buckets + in-bucket cosine
      // top-k (Ann.lshBucketMd5 + lshTopK replayable path). Dots are
      // rounded to 6dp before the sign test, matching the Spark side.
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |pc AS (
        |  SELECT CAST(p.p AS INTEGER) AS p, CAST(d.i AS INTEGER) AS i,
        |         (CAST(('0x' || substr(md5(p.p || ':' || d.i), 1, 15)) AS BIGINT) % 2000000)
        |           / 1000000.0 - 1.0 AS c
        |  FROM unnest(range(0, 8)) AS p(p), unnest(range(0, 64)) AS d(i)),
        |dots AS (
        |  SELECT e.vec_id, pc.p, round(sum(e.v * pc.c), 6) AS dot
        |  FROM e JOIN pc ON pc.i = e.i - 1 GROUP BY 1, 2),
        |bk AS (
        |  SELECT vec_id,
        |         CAST(sum(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |dotp AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS cid, sum(a.v * b.v) AS dot
        |  FROM e a JOIN e b ON a.i = b.i AND b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 5
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT d.qid AS query_id, d.cid AS neighbor_id,
        |         round(d.dot / (nq.nrm * nc.nrm), 6) AS cosine
        |  FROM dotp d
        |  JOIN n nq ON nq.vec_id = d.qid JOIN n nc ON nc.vec_id = d.cid
        |  JOIN bk bq ON bq.vec_id = d.qid JOIN bk bc ON bc.vec_id = d.cid
        |  WHERE bq.bucket = bc.bucket),
        |rk AS (
        |  SELECT query_id, neighbor_id, cosine,
        |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rnk
        |  FROM sc)
        |SELECT query_id, neighbor_id, cosine, rnk FROM rk WHERE rnk <= 10
        |ORDER BY query_id, rnk""".stripMargin)),

    Entry("ann_ivf_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.ivfTopK(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, numCells = 16, nprobe = 4)
        .orderBy("query_id", "rnk")
    }, Some(
      // IVF mirrored step-by-step: md5-sampled centroids, rounded-score
      // cell assignment, nprobe probing, per-query top-k.
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |cents AS (
        |  SELECT vec_id AS cent_id FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT 16),
        |cscores AS (
        |  SELECT a.vec_id AS item_id, c.cent_id,
        |         round(sum(a.v * b.v) / (na.nrm * nb.nrm), 6) AS score
        |  FROM e a
        |  JOIN cents c ON true
        |  JOIN e b ON b.vec_id = c.cent_id AND b.i = a.i
        |  JOIN n na ON na.vec_id = a.vec_id
        |  JOIN n nb ON nb.vec_id = c.cent_id
        |  GROUP BY a.vec_id, c.cent_id, na.nrm, nb.nrm),
        |assigned AS (
        |  SELECT item_id AS neighbor_id, cent_id AS cell FROM (
        |    SELECT item_id, cent_id,
        |      row_number() OVER (PARTITION BY item_id ORDER BY score DESC, cent_id ASC) AS rn
        |    FROM cscores) WHERE rn = 1),
        |probes AS (
        |  SELECT item_id AS query_id, cent_id AS cell FROM (
        |    SELECT item_id, cent_id,
        |      row_number() OVER (PARTITION BY item_id ORDER BY score DESC, cent_id ASC) AS rn
        |    FROM cscores WHERE item_id < 5) WHERE rn <= 4),
        |pairs AS (
        |  SELECT p.query_id, a.neighbor_id,
        |         round(sum(qe.v * ce.v) / (nq.nrm * nc.nrm), 6) AS cosine
        |  FROM probes p
        |  JOIN assigned a ON a.cell = p.cell AND a.neighbor_id <> p.query_id
        |  JOIN e qe ON qe.vec_id = p.query_id
        |  JOIN e ce ON ce.vec_id = a.neighbor_id AND ce.i = qe.i
        |  JOIN n nq ON nq.vec_id = p.query_id
        |  JOIN n nc ON nc.vec_id = a.neighbor_id
        |  GROUP BY p.query_id, a.neighbor_id, nq.nrm, nc.nrm)
        |SELECT query_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rnk
        |FROM pairs
        |QUALIFY rnk <= 10
        |ORDER BY query_id, rnk""".stripMargin)),

    // two-level (coarse→fine) IVF: deterministic md5-ordered seed
    // split into 4 coarse + 4×4 round-robin fine centroids, gated
    // assignment, joint-score probe ranking — DuckDB replays the
    // whole hierarchy
    Entry("ann_ivf2_topk", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Ann.ivfTopK2(emb, emb.where(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, numCoarse = 4, numFine = 4, nCoarseProbe = 3, nprobe = 6)
        .orderBy("query_id", "rnk")
    }, Some(
      // two-level IVF replay: md5-ordered seeds 1..4 → coarse (cent_id =
      // rank-1), seeds 5..20 → fine dealt round-robin (j = rank-5:
      // coarse_id = j % 4, global cent_id = coarse_id*4 + j//4);
      // assignment = argmax over the coarse-winner's fines; probes rank
      // fine cells of the query's top-3 coarse by coarse+fine score
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |seeds AS (
        |  SELECT vec_id, row_number() OVER (
        |    ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) AS rk
        |  FROM embeddings),
        |coarse AS (
        |  SELECT vec_id, CAST(rk - 1 AS BIGINT) AS cent_id
        |  FROM seeds WHERE rk <= 4),
        |fine AS (
        |  SELECT vec_id,
        |    CAST((rk - 5) % 4 AS BIGINT) AS coarse_id,
        |    CAST(((rk - 5) % 4) * 4 + (rk - 5) // 4 AS BIGINT) AS cent_id
        |  FROM seeds WHERE rk > 4 AND rk <= 20),
        |cs AS (
        |  SELECT a.vec_id AS item_id, c.cent_id,
        |         round(sum(a.v * b.v) / (na.nrm * nb.nrm), 6) AS score
        |  FROM e a JOIN coarse c ON true
        |  JOIN e b ON b.vec_id = c.vec_id AND b.i = a.i
        |  JOIN n na ON na.vec_id = a.vec_id
        |  JOIN n nb ON nb.vec_id = c.vec_id
        |  GROUP BY a.vec_id, c.cent_id, na.nrm, nb.nrm),
        |cbest AS (
        |  SELECT item_id, cent_id AS coarse_id FROM (
        |    SELECT item_id, cent_id,
        |      row_number() OVER (PARTITION BY item_id ORDER BY score DESC, cent_id ASC) AS rn
        |    FROM cs) WHERE rn = 1),
        |fs AS (
        |  SELECT a.vec_id AS item_id, f.cent_id, f.coarse_id,
        |         round(sum(a.v * b.v) / (na.nrm * nb.nrm), 6) AS score
        |  FROM e a JOIN fine f ON true
        |  JOIN e b ON b.vec_id = f.vec_id AND b.i = a.i
        |  JOIN n na ON na.vec_id = a.vec_id
        |  JOIN n nb ON nb.vec_id = f.vec_id
        |  GROUP BY a.vec_id, f.cent_id, f.coarse_id, na.nrm, nb.nrm),
        |assigned AS (
        |  SELECT item_id AS neighbor_id, cent_id AS cell FROM (
        |    SELECT x.item_id, x.cent_id,
        |      row_number() OVER (PARTITION BY x.item_id ORDER BY x.score DESC, x.cent_id ASC) AS rn
        |    FROM fs x JOIN cbest cb ON cb.item_id = x.item_id AND cb.coarse_id = x.coarse_id)
        |  WHERE rn = 1),
        |topc AS (
        |  SELECT item_id, cent_id AS coarse_id, score AS cscore FROM (
        |    SELECT item_id, cent_id, score,
        |      row_number() OVER (PARTITION BY item_id ORDER BY score DESC, cent_id ASC) AS rn
        |    FROM cs WHERE item_id < 5) WHERE rn <= 3),
        |probes AS (
        |  SELECT item_id AS query_id, cent_id AS cell FROM (
        |    SELECT x.item_id, x.cent_id,
        |      row_number() OVER (PARTITION BY x.item_id
        |        ORDER BY (tc.cscore + x.score) DESC, x.cent_id ASC) AS rn
        |    FROM fs x JOIN topc tc ON tc.item_id = x.item_id AND tc.coarse_id = x.coarse_id)
        |  WHERE rn <= 6),
        |pairs AS (
        |  SELECT p.query_id, a.neighbor_id,
        |         round(sum(qe.v * ce.v) / (nq.nrm * nc.nrm), 6) AS cosine
        |  FROM probes p
        |  JOIN assigned a ON a.cell = p.cell AND a.neighbor_id <> p.query_id
        |  JOIN e qe ON qe.vec_id = p.query_id
        |  JOIN e ce ON ce.vec_id = a.neighbor_id AND ce.i = qe.i
        |  JOIN n nq ON nq.vec_id = p.query_id
        |  JOIN n nc ON nc.vec_id = a.neighbor_id
        |  GROUP BY p.query_id, a.neighbor_id, nq.nrm, nc.nrm)
        |SELECT query_id, neighbor_id, cosine,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rnk
        |FROM pairs
        |QUALIFY rnk <= 10
        |ORDER BY query_id, rnk""".stripMargin)),

    // SemDeDup-style semantic dedup: LSH-bucket blocking → within-
    // bucket cosine threshold pairs → CC closure → min-id survivors.
    // Surviving count per label; md5 planes so DuckDB replays the
    // whole pipeline including the recursive closure.
    Entry("emb_semantic_survivors", (s, dir) => {
      Ann.semanticSurvivors(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.4, numPlanes = 4, replayable = true)
        .groupBy("label").agg(count(lit(1)).as("n_survivors"))
        .orderBy("label")
    }, Some(
      // semantic-dedup replay: md5 hyperplanes → sign buckets →
      // within-bucket cosine pairs → recursive-CTE closure → min-id
      // survivors per label. Mirrors the ann_lsh_topk bucket CTEs.
      """WITH RECURSIVE e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |pc AS (
        |  SELECT CAST(p.p AS INTEGER) AS p, CAST(d.i AS INTEGER) AS i,
        |         (CAST(('0x' || substr(md5(p.p || ':' || d.i), 1, 15)) AS BIGINT) % 2000000)
        |           / 1000000.0 - 1.0 AS c
        |  FROM unnest(range(0, 4)) AS p(p), unnest(range(0, 64)) AS d(i)),
        |dots AS (
        |  SELECT e.vec_id, pc.p, round(sum(e.v * pc.c), 6) AS dot
        |  FROM e JOIN pc ON pc.i = e.i - 1 GROUP BY 1, 2),
        |bk AS (
        |  SELECT vec_id,
        |         CAST(sum(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |cand AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2
        |  FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |dotp AS (
        |  SELECT c.id1, c.id2, sum(ea.v * eb.v) AS dot
        |  FROM cand c JOIN e ea ON ea.vec_id = c.id1
        |              JOIN e eb ON eb.vec_id = c.id2 AND eb.i = ea.i
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT d.id1, d.id2
        |  FROM dotp d JOIN n na ON na.vec_id = d.id1
        |              JOIN n nb ON nb.vec_id = d.id2
        |  WHERE round(d.dot / (na.nrm * nb.nrm), 6) >= 0.4),
        |ed AS (SELECT id1 AS src, id2 AS dst FROM pairs
        |       UNION SELECT id2, id1 FROM pairs),
        |reach AS (
        |  SELECT vec_id AS a, vec_id AS b FROM embeddings
        |  UNION
        |  SELECT r.a, ed.dst FROM reach r JOIN ed ON r.b = ed.src),
        |lab AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a)
        |SELECT emb.label, CAST(count(*) AS BIGINT) AS n_survivors
        |FROM lab JOIN embeddings emb ON emb.vec_id = lab.id
        |WHERE lab.id = lab.component
        |GROUP BY emb.label ORDER BY emb.label""".stripMargin)),

    // symmetric int8 embedding quantization (native one-pass kernel):
    // 4x storage cut, dequant error <= scale/2 per element. floor(x +
    // 0.5) half-up spelling makes the rounding engine-exact.
    Entry("emb_quantize_int8", (s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          graft.expr.QuantizeInt8.quantizeInt8(col("embedding")).as("qz"))
        // the array travels as a comma-joined string: the driver's
        // row-hash compare handles scalars only
        .select(col("vec_id"), col("qz.scale").as("scale"),
          concat_ws(",", col("qz.q").cast("array<string>")).as("qvec"))
        .orderBy("vec_id")
    }, Some(
      // int8 quantization replay: identical double math (abs-max / 127,
      // floor(x/scale + 0.5)); all-zero vectors -> scale 0, zero quants
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127 AS scale
        |  FROM embeddings)
        |SELECT vec_id, scale,
        |  array_to_string(
        |    CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
        |         ELSE list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) / scale + CAST(0.5 AS DOUBLE)) AS INTEGER))
        |    END, ',') AS qvec
        |FROM s ORDER BY vec_id""".stripMargin)),

    // JL random projection 64→16 (Achlioptas ±1 signs derived from
    // md5 — no model to ship; the matrix is a plan literal): narrow
    // codegen'd map, zero shuffle, 4x cheaper downstream distances.
    // Quantized left-to-right fold → DuckDB replays exact doubles.
    Entry("emb_rp_project", (s, dir) => {
      graft.ops.RandomProjection.project(t(s, dir, "embeddings"),
          "embedding", d = 64, k = 16)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim_j", "y_q")))
        .select(col("vec_id"), col("dim_j").cast("int").as("dim_j"), col("y_q"))
        .orderBy("vec_id", "dim_j")
    }, Some(
      // normalizes -0.0), the same floor-1e-4 quantization.
      """WITH s AS (
        |  SELECT j, list(CASE WHEN CAST(('0x' || substr(md5(
        |      CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR) || ':0'), 1, 1))
        |      AS INT) % 2 = 0 THEN CAST(1.0 AS DOUBLE)
        |      ELSE CAST(-1.0 AS DOUBLE) END ORDER BY i) AS sg
        |  FROM range(0, 64) t1(i), range(0, 16) t2(j) GROUP BY j)
        |SELECT e.vec_id, CAST(s.j AS INT) AS dim_j,
        |  floor(list_reduce(list_transform(range(1, 65),
        |    ii -> CAST(e.embedding[ii] AS DOUBLE) * s.sg[ii]),
        |    (a, b) -> a + b) * 10000) / 10000 + 0 AS y_q
        |FROM embeddings e CROSS JOIN s
        |ORDER BY vec_id, dim_j""".stripMargin)),

    // embedding second moments (the covariance/PCA data path,
    // ops/Pca.scala): per-(i,j) sums of pairwise component products
    // over the corpus, upper triangle. REPLAYABLE formulation — each
    // term integer-quantized BEFORE the sum so engine summation order
    // cannot split a float boundary (native fast path is the
    // VectorOuterSum aggregate, pinned ≈ this form in PcaSpec). The
    // flatten/transform pair builds each row's outer product from the
    // plain embedding ATTRIBUTE (never a derived array — no
    // re-evaluation blowup), one narrow pass then one groupBy.
    Entry("emb_second_moments", (s, dir) => {
      // widenScan (r21): the dim² quantized outer product + 200M-row
      // explode ran as ONE task on the unsplittable local file (1.5 s
      // single-task stage); a properly-split corpus passes untouched
      graft.ops.Adaptive.widenScan(t(s, dir, "embeddings").select("embedding"))
        .select(posexplode(flatten(transform(col("embedding"), x =>
          transform(col("embedding"), y =>
            floor(x.cast("double") * y.cast("double") * 1e6).cast("long")))))
          .as(Seq("idx", "q")))
        .groupBy((col("idx") / 64).cast("int").as("i"),
          pmod(col("idx"), lit(64)).cast("int").as("j"))
        .agg(sum("q").as("sum_q"), count(lit(1)).as("n_vecs"))
        .where(col("i") <= col("j"))
        .orderBy("i", "j")
    }, Some(
      // random-projection replay: the same md5-nibble-parity ±1 matrix
      // (sign(i,j) = parity of first hex digit of md5('i:j:0')), the
      // same left-to-right fold (list_reduce's first-element init ==
      // Spark's 0.0 init bitwise, and both sides' trailing +0
      """WITH ex AS (
        |  SELECT vec_id, unnest(embedding) AS x,
        |         generate_subscripts(embedding, 1) AS idx
        |  FROM embeddings)
        |SELECT CAST(a.idx - 1 AS INT) AS i, CAST(b.idx - 1 AS INT) AS j,
        |  CAST(sum(CAST(floor(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE)
        |    * 1000000) AS BIGINT)) AS BIGINT) AS sum_q,
        |  CAST(count(*) AS BIGINT) AS n_vecs
        |FROM ex a JOIN ex b USING (vec_id)
        |WHERE a.idx <= b.idx
        |GROUP BY 1, 2
        |ORDER BY i, j""".stripMargin)),

    // EXACT thresholded all-pairs cosine over hashed TF-IDF (Bayardo
    // prefix filtering): pruning is result-transparent, so the oracle
    // is a brute-force replay — the pairs must match exactly. Subset
    // like the other exact-index pair queries (the synthetic corpus
    // is pathologically dense for exact indexes at 50k docs); the
    // scale story is the prefix bound itself, pinned in AllPairsSpec.
    Entry("text_allpairs_cosine", (s, dir) => {
      val docs = t(s, dir, "documents").where(col("doc_id") < 100)
      graft.ops.AllPairs.cosinePairs(docs, "doc_id", "text", dim = 64,
          threshold = 0.6, replayable = true)
        .orderBy("id1", "id2")
    }, Some(
      // all-pairs replay: BRUTE FORCE — the prefix filter prunes
      // candidates, never results, so the oracle recomputes every
      // shared-bucket pair's exact integer dot product and quantized
      // cosine from the same md5-bucketed TF-IDF (subset df/stats).
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id < 100),
        |toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'),
        |    x -> length(x) > 0)) AS token
        |  FROM docs),
        |tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM docs),
        |w AS (
        |  SELECT tf.doc_id,
        |    CAST(('0x' || substr(md5(tf.token), 1, 15)) AS BIGINT) % 64 AS bucket,
        |    CAST(floor(CAST(tf.tf AS DOUBLE)
        |      * (ln((CAST(1.0 AS DOUBLE) + n_docs) / (CAST(1.0 AS DOUBLE) + df))
        |         + CAST(1.0 AS DOUBLE))
        |      * CAST(10000 AS DOUBLE)) AS BIGINT) AS wq
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN stats),
        |v AS (
        |  SELECT doc_id, bucket, CAST(sum(wq) AS BIGINT) AS w_q
        |  FROM w GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(w_q * w_q) AS BIGINT) AS n2 FROM v GROUP BY 1),
        |d AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    CAST(sum(a.w_q * b.w_q) AS BIGINT) AS dot
        |  FROM v a JOIN v b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT id1, id2,
        |    CAST(floor(dot / (sqrt(CAST(n1.n2 AS DOUBLE)) * sqrt(CAST(nx.n2 AS DOUBLE)))
        |      * 10000) AS BIGINT) AS cos_q
        |  FROM d JOIN n n1 ON d.id1 = n1.doc_id JOIN n nx ON d.id2 = nx.doc_id)
        |SELECT id1, id2, cos_q FROM scored WHERE cos_q >= 6000
        |ORDER BY id1, id2""".stripMargin)),

    // margin-based bitext mining over two disjoint embedding slices:
    // mutual-argmax pairs under the ratio margin (k=4 neighbor sums)
    Entry("ann_bitext_pairs", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Ann.mineBitext(
          emb.where(col("vec_id") < 40),
          emb.where(col("vec_id") >= 40 && col("vec_id") < 80),
          "vec_id", "embedding", k = 4)
        .orderBy("src_id", "tgt_id")
    }, Some(
      """WITH e AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS i,
        |         CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS v
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
        |  WHERE vec_id < 80),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
        |cosm AS (
        |  SELECT a.vec_id AS sid, b.vec_id AS tid,
        |         round(sum(a.v * b.v) /
        |           (max(na.nrm) * max(nb.nrm)), 6) AS c
        |  FROM e a JOIN e b ON a.i = b.i
        |  JOIN n na ON na.vec_id = a.vec_id JOIN n nb ON nb.vec_id = b.vec_id
        |  WHERE a.vec_id < 40 AND b.vec_id >= 40
        |  GROUP BY 1, 2),
        |f AS (
        |  SELECT sid, tid, CAST(round(c * 1000000) AS BIGINT) AS c6
        |  FROM (SELECT sid, tid, c,
        |          row_number() OVER (PARTITION BY sid ORDER BY c DESC, tid) AS r
        |        FROM cosm) WHERE r <= 4),
        |bk AS (
        |  SELECT sid, tid, CAST(round(c * 1000000) AS BIGINT) AS c6
        |  FROM (SELECT sid, tid, c,
        |          row_number() OVER (PARTITION BY tid ORDER BY c DESC, sid) AS r
        |        FROM cosm) WHERE r <= 4),
        |fs AS (SELECT sid, CAST(sum(c6) AS BIGINT) AS fsum6,
        |         CAST(count(*) AS BIGINT) AS kf FROM f GROUP BY sid),
        |bs AS (SELECT tid, CAST(sum(c6) AS BIGINT) AS bsum6,
        |         CAST(count(*) AS BIGINT) AS kb FROM bk GROUP BY tid),
        |cand AS (
        |  SELECT f.sid, f.tid,
        |    floor(CAST(c6 AS DOUBLE) /
        |      (CAST(fsum6 AS DOUBLE) / (kf * 2) + CAST(bsum6 AS DOUBLE) / (kb * 2))
        |      * 1000000) / 1000000 AS margin
        |  FROM f JOIN fs USING (sid) JOIN bs USING (tid)),
        |bsrc AS (
        |  SELECT sid, tid FROM (SELECT sid, tid,
        |      row_number() OVER (PARTITION BY sid ORDER BY margin DESC, tid) AS r
        |    FROM cand) WHERE r = 1),
        |btgt AS (
        |  SELECT sid, tid FROM (SELECT sid, tid,
        |      row_number() OVER (PARTITION BY tid ORDER BY margin DESC, sid) AS r
        |    FROM cand) WHERE r = 1)
        |SELECT cand.sid AS src_id, cand.tid AS tgt_id, margin
        |FROM cand
        |JOIN bsrc ON cand.sid = bsrc.sid AND cand.tid = bsrc.tid
        |JOIN btgt ON cand.sid = btgt.sid AND cand.tid = btgt.tid
        |ORDER BY src_id, tgt_id""".stripMargin)),

    // ECOD-style anomaly depth per embedding: integer per-dimension
    // empirical-CDF tail depth summed over dims (small = outlier).
    // Quantized to 1/1000 cells so the CDF frame stays bounded.
    Entry("emb_ecod_depth", (s, dir) => {
      graft.ops.Ecod.depths(t(s, dir, "embeddings"), "vec_id",
          "embedding", quant = 1000)
        .orderBy("vec_id")
    }, Some(
      // ECOD replay: same 1/1000 quantization (FLOAT→DOUBLE cast before
      // the multiply on both engines), same histogram-cumulative depth.
      """WITH ex AS (
        |  SELECT vec_id, CAST(t.i AS INTEGER) AS dim,
        |    CAST(floor(CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE)
        |      * 1000) AS BIGINT) AS qv
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |counts AS (SELECT dim, qv, count(*) AS cnt FROM ex GROUP BY 1, 2),
        |nn AS (SELECT count(*) AS n FROM embeddings),
        |cdf AS (
        |  SELECT dim, qv,
        |    least(sum(cnt) OVER (PARTITION BY dim ORDER BY qv),
        |      (SELECT n FROM nn) -
        |        (sum(cnt) OVER (PARTITION BY dim ORDER BY qv) - cnt))
        |      AS cell_depth
        |  FROM counts)
        |SELECT e.vec_id, CAST(sum(c.cell_depth) AS BIGINT) AS depth
        |FROM ex e JOIN cdf c ON e.dim = c.dim AND e.qv = c.qv
        |GROUP BY e.vec_id ORDER BY vec_id""".stripMargin)),

    // reciprocal-rank fusion of two document rankings (length prior x
    // lexical diversity): integer 1e9 div (60+rank) contributions so
    // fused scores are exact BIGINTs; each list cut to top-1000 by
    // TakeOrdered before its bounded rank window. Top-100 fused.
    Entry("q_rrf_docs", (s, dir) => {
      val docs = t(s, dir, "documents")
      val byLength = docs.select(col("doc_id"), col("n_chars").as("score"))
      val byDiversity = docs
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
        .groupBy("doc_id")
        .agg(countDistinct("token").as("score"))
      graft.ops.RankFusion.rrf(Seq(byLength, byDiversity),
          "doc_id", "score", topN = 1000, k = 60)
        .orderBy(col("rrf_score").desc, col("doc_id").asc)
        .limit(100)
    }, Some(
      // RRF replay: same top-1000 cuts, same integer contributions
      """WITH la AS (SELECT doc_id, n_chars AS score FROM documents),
        |lb AS (
        |  SELECT d.doc_id, CAST(count(DISTINCT t.token) AS BIGINT) AS score
        |  FROM documents d,
        |    unnest(regexp_split_to_array(trim(lower(d.text)), '\s+')) AS t(token)
        |  WHERE length(t.token) > 0
        |  GROUP BY d.doc_id),
        |ra AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM (SELECT * FROM la ORDER BY score DESC, doc_id ASC LIMIT 1000)),
        |rb AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM (SELECT * FROM lb ORDER BY score DESC, doc_id ASC LIMIT 1000)),
        |c AS (
        |  SELECT doc_id, 1000000000 // (60 + rank) AS c FROM ra
        |  UNION ALL
        |  SELECT doc_id, 1000000000 // (60 + rank) AS c FROM rb)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_score,
        |  CAST(count(*) AS BIGINT) AS n_lists
        |FROM c GROUP BY doc_id
        |ORDER BY rrf_score DESC, doc_id ASC LIMIT 100""".stripMargin)),

    // embedding-distribution drift between two corpus halves: per-dim
    // integer-quantized sums → mean-vector cosine + worst per-dim
    // second-moment ratio — the drift family's embedding member
    // (PSI/TVD cover scalars; this covers the vector column).
    Entry("q_emb_drift", (s, dir) => {
      val ex = t(s, dir, "embeddings")
        .select((col("vec_id") % 2 === 0).as("h"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("h"), col("dim"),
          floor(col("v").cast("double") * 1000000).cast("long").as("q"))
      val sums = ex.groupBy("h", "dim")
        .agg(count(lit(1)).as("n"), sum("q").as("sq"),
          sum((col("q") * col("q")).cast("decimal(38,0)")).as("sqq"))
      val a = sums.where(col("h"))
        .select(col("dim"), col("n").as("na"), col("sq").as("sqa"),
          col("sqq").as("sqqa"))
      val b = sums.where(!col("h"))
        .select(col("dim"), col("n").as("nb"), col("sq").as("sqb"),
          col("sqq").as("sqqb"))
      // per-dim n is constant within a half, so the mean-vector cosine
      // reduces to integer sums of sq products (the n's cancel) — no
      // order-sensitive double accumulation anywhere; the m2 ratio is
      // a per-dim pinned double, max is order-free
      val dec38 = "decimal(38,0)"
      val j = a.join(b, "dim")
        .select(col("dim"), col("sqa"), col("sqb"),
          (col("sqqa") * col("nb")).cast("double").as("m2an"),
          (col("sqqb") * col("na")).cast("double").as("m2bn"))
      j.agg(
          sum((col("sqa") * col("sqb")).cast(dec38)).as("sab"),
          sum((col("sqa") * col("sqa")).cast(dec38)).as("saa"),
          sum((col("sqb") * col("sqb")).cast(dec38)).as("sbb"),
          max(greatest(col("m2an") / col("m2bn"),
            col("m2bn") / col("m2an"))).as("mr"))
        .select(
          (floor(col("sab").cast("double") /
            (sqrt(col("saa").cast("double")) *
              sqrt(col("sbb").cast("double"))) * 1000000) / 1000000)
            .as("mean_cosine"),
          (floor(col("mr") * 1000000) / 1000000).as("worst_m2_ratio"))
    }, Some(
      // embedding-drift replay: same quantized per-dim sums, the n's
      // cancel in the mean cosine, same pinned chains
      """WITH ex AS (
        |  SELECT (vec_id % 2 = 0) AS h, CAST(t.i AS INTEGER) AS dim,
        |    CAST(floor(CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE)
        |      * 1000000) AS BIGINT) AS q
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)),
        |sums AS (
        |  SELECT h, dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(q) AS BIGINT) AS sq,
        |    CAST(sum(q * q) AS HUGEINT) AS sqq
        |  FROM ex GROUP BY h, dim),
        |j AS (
        |  SELECT a.dim, a.sq AS sqa, b.sq AS sqb,
        |    CAST(a.sqq * b.n AS DOUBLE) AS m2an,
        |    CAST(b.sqq * a.n AS DOUBLE) AS m2bn
        |  FROM sums a JOIN sums b ON a.dim = b.dim AND a.h AND NOT b.h),
        |agg AS (
        |  SELECT CAST(sum(CAST(sqa * sqb AS HUGEINT)) AS HUGEINT) AS sab,
        |    CAST(sum(CAST(sqa * sqa AS HUGEINT)) AS HUGEINT) AS saa,
        |    CAST(sum(CAST(sqb * sqb AS HUGEINT)) AS HUGEINT) AS sbb,
        |    max(greatest(m2an / m2bn, m2bn / m2an)) AS mr
        |  FROM j)
        |SELECT floor(CAST(sab AS DOUBLE) / (sqrt(CAST(saa AS DOUBLE))
        |    * sqrt(CAST(sbb AS DOUBLE))) * 1000000) / 1000000
        |    AS mean_cosine,
        |  floor(mr * 1000000) / 1000000 AS worst_m2_ratio
        |FROM agg""".stripMargin)),

    // DBSCAN over planted blobs: 200k points in 1000 md5-scattered
    // dense blobs plus 10% uniform noise — grid radius join + core
    // closure + border attach end to end, reported as cluster/role
    // counts. Bench-only (CC closure is iterative; DbscanSpec pins
    // textbook roles exactly).
    Entry("dbscan_blobs", (s, dir) => {
      import org.apache.spark.sql.functions.{conv => fconv}
      val n = 100000L
      val ids = s.range(n).select(col("id"))
      def h(tag: String) =
        (fconv(substring(md5(concat(lit(tag), col("id").cast("string"))),
          1, 15), 16, 10).cast("long"))
      val blob = pmod(h("b"), lit(1000L))
      val noise = pmod(h("n"), lit(10L)) === 0
      // ~90 points per 200x200 blob box: eps 40 gives LOCAL
      // connectivity (avg ~11 in-range neighbors), not a blob-clique —
      // the pair count stays ~n·density, never n² per blob
      val pts = ids.select(col("id"),
        when(noise, pmod(h("x"), lit(4000000L)))
          .otherwise(blob * 4000L + pmod(h("x"), lit(200L))).as("x"),
        when(noise, pmod(h("y"), lit(4000000L)))
          .otherwise(blob * 4000L + pmod(h("y"), lit(200L))).as("y"))
      graft.ops.Dbscan.cluster(pts, eps = 40L, minPts = 6)
        .groupBy("role")
        .agg(count(lit(1)).as("n_points"),
          countDistinct(col("cluster")).as("n_clusters"))
        .orderBy("role")
    }, None),

    // product quantization round trip: train 8x64 codebooks, encode
    // the corpus to 8-byte codes, ADC-probe 10 queries, and report the
    // top-1 agreement with brute cosine — the memory-bounded serving
    // path measured end to end (PqSpec pins exactness; no SQL oracle
    // for the k-means training loop).
    Entry("pq_roundtrip", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = graft.ops.Pq.train(emb, "vec_id", "embedding",
        m = 8, ksub = 64, iters = 3)
      val codes = graft.ops.Pq.encode(emb, "vec_id", "embedding", model)
      val queries = emb.where(col("vec_id") % 50 === 0).limit(10)
      val top = graft.ops.Pq.adcTopK(codes, queries, "vec_id",
        "embedding", model, k = 10)
      top.agg(count(lit(1)).as("n_results"),
        countDistinct(col("query_id")).as("n_queries"))
    }, None),

    // greedy k-center coreset selection (diversity pruning): 16
    // maximally-spread vectors + full-corpus assignment — the
    // data-distillation selector; O(k·n) cosines via the running
    // min-distance column, one bounded argmax per round
    Entry("emb_kcenter_select", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val centers = graft.ops.Coreset.kCenters(emb, "vec_id", "embedding", 16)
      graft.ops.Coreset.assign(emb, "vec_id", "embedding", centers)
        .groupBy("center_id").agg(count(lit(1)).as("n_assigned"))
        .agg(count(lit(1)).as("n_centers"), sum("n_assigned").as("n_vectors"))
    }, None)
  )
}
