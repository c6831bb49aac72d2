package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Baseline: exact brute-force cosine top-k — the query set is small
  * and broadcast, so the corpus streams through one narrow pass
  * (cost = |corpus|·|queries|·dim multiply-adds, no shuffle of the
  * corpus). Scale path: random-hyperplane LSH buckets the corpus once
  * (cost ≈ one groupBy), and each query probes only its bucket.
  */
object Ann {

  /** Cosine similarity between two float-array columns: native fused
    * expression (graft.expr.CosineSimF) — bit-identical to the
    * higher-order formulation below but one codegen'd loop instead of
    * interpreted lambdas (the ANN hot path). */
  def cosine(a: Column, b: Column): Column =
    graft.expr.CosineSimF.cosineSim(a, b)

  /** The composed higher-order form of [[cosine]] — kept as the
    * executable spec the native expression is tested against. */
  private[graft] def cosineHof(a: Column, b: Column): Column = {
    def dd(x: Column, y: Column) = aggregate(
      zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
      lit(0.0d), (acc, v) => acc + v)
    dd(a, b) / (sqrt(dd(a, a)) * sqrt(dd(b, b)))
  }

  /** (query_id, neighbor_id, cosine, rnk) from a scored candidate
    * frame via the mergeable bounded-heap aggregate
    * (graft.expr.TopKByScore): each map task keeps only its local
    * top-k per query, so the shuffle carries k·tasks rows per query —
    * NOT the |candidates| rows a `row_number()` window would move
    * (at |corpus| × |queries| candidates that window shuffle was the
    * dominant cost of the brute path at scale). Output matches the
    * window form's (score desc, id asc) order and tie-breaks for all
    * comparable scores, with ONE deliberate divergence: NaN cosines
    * (zero-magnitude vectors: 0/0) are dropped, where the window form
    * ranked them first (Spark sorts NaN above any double desc) — a
    * zero vector is "similar to nothing", not "most similar". */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("query_id")
      .agg(graft.expr.TopKByScore.topKBy(col("cosine"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cosine"), (col("pos") + 1).cast("int").as("rnk"))

  /** Exact top-k neighbors per query by cosine similarity.
    *
    * `queries` is broadcast; the join is a BroadcastNestedLoopJoin so
    * the corpus is scanned exactly once with no shuffle; the top-k
    * reduction is map-side (see [[topKPerQuery]]). Ties broken by
    * ascending corpus id for determinism. Zero-magnitude vectors have
    * no defined cosine (NaN) and never appear as neighbors; a query
    * whose candidates are all zero vectors returns no rows.
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = Adaptive.widenScan(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")))
    val scored = c.crossJoin(q)
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Metadata-filtered exact top-k: neighbors drawn only from corpus
    * rows satisfying `predicate` — the filtered-vector-search serving
    * shape (find similar docs *within a language / source / date
    * range*). Pre-filtering is the exact strategy: the predicate
    * prunes the scan BEFORE any distance is computed (pushed to the
    * parquet reader when it references scan columns), so cost scales
    * with the filtered corpus, and recall is exact by construction —
    * unlike post-filtering a k′>k unfiltered search, which can return
    * fewer than k when the filter is selective. Same
    * broadcast-queries / map-side-heap shape as [[bruteTopK]]. */
  def bruteTopKFiltered(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        predicate: Column): DataFrame =
    bruteTopK(corpus.where(predicate), queries, idCol, vecCol, k)

  /** k-NN graph over the corpus itself: every vector's k nearest
    * neighbors — the substrate of graph-based ANN serving, NN-descent
    * refinement, graph clustering, and local-density outlier scores.
    *
    * Exact form (`cells <= 0`) = [[bruteTopK]] with the corpus on
    * both sides — quadratic, fine to tens of thousands. At corpus
    * scale pass `cells`/`nprobe`: both sides assign to IVF cells
    * against the broadcast centroid array (narrow), then meet in a
    * SHUFFLED equi-join on cell — NOT [[ivfTopK]]'s broadcast-probes
    * shape, which would broadcast the whole corpus when queries =
    * corpus. Cost ∝ corpus × scanned-fraction; candidate volume per
    * cell is |cell|·nprobe-ish — cap cell skew upstream with a
    * k-means quantizer ([[kmeansCentroids]]) if the corpus clusters
    * hard. Approximate like any IVF probe: neighbors outside the
    * probed cells are missed (recall dials are cells/nprobe). */
  def knnGraph(corpus0: DataFrame, idCol: String, vecCol: String, k: Int,
               cells: Int = 0, nprobe: Int = 0,
               centroids: Option[DataFrame] = None): DataFrame = {
    // a derived corpus is consumed by three subtrees below (and twice
    // as query + corpus side of the brute path) — pin it once
    val corpus = Adaptive.pinDerived(corpus0)
    if (cells <= 0) return bruteTopK(corpus, corpus, idCol, vecCol, k)
    require(nprobe >= 1, "nprobe must be >= 1 when cells are used")
    val cents = broadcast(centroidArray(centroids.getOrElse(
      corpus.select(col(idCol).as("cent_id"), col(vecCol).as("cent_vec"))
        .orderBy(md5(col("cent_id").cast("string")).asc, col("cent_id").asc)
        .limit(cells))))
    val assigned = Adaptive.widenScan(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv")))
      .crossJoin(cents)
      .select(col("neighbor_id"), col("cv"),
        bestCell(col("cv"), col("cents")).as("cell"))
    val probes = Adaptive.widenScan(
        corpus.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
      .crossJoin(cents)
      .select(col("query_id"), col("qv"),
        explode(topCells(col("qv"), col("cents"), nprobe)).as("p"))
      .select(col("query_id"), col("qv"), col("p.cent_id").as("cell"))
    val scored = assigned.join(probes, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** Mutual-kNN clustering: vectors are clustered by connected
    * components over MUTUAL nearest-neighbor edges (a↔b both rank in
    * each other's top-k, cosine ≥ `minCosine`) — the density-style
    * clustering that needs no cluster count up front, where k-means
    * cells impose one. Mutuality is the standard asymmetric-hub
    * guard: a hub vector appearing in thousands of top-k lists links
    * them all only if it reciprocates. Every vector gets a component
    * (singletons cluster alone). Built entirely from owned machinery:
    * [[knnGraph]] (pass `cells`/`nprobe` for the shuffled scale
    * path) → one-shuffle mutuality count → pointer-jumping
    * [[ConnectedComponents]] (log-round closure). */
  def mutualKnnClusters(corpus: DataFrame, idCol: String, vecCol: String,
                        k: Int, minCosine: Double,
                        cells: Int = 0, nprobe: Int = 0): DataFrame = {
    // mutuality in ONE pass: canonicalize each directed edge and keep
    // pairs present from both directions. Top-k output is unique per
    // (query, neighbor), so count==2 ⇔ a∈top-k(b) ∧ b∈top-k(a) — the
    // intersect formulation evaluated the whole top-k subplan twice
    // (no exchange reuse across the projection-flipped subtrees) and
    // paid two distinct shuffles for the same answer
    val g = knnGraph(corpus, idCol, vecCol, k, cells, nprobe)
      .where(col("cosine") >= minCosine && col("query_id") =!= col("neighbor_id"))
    val mutual = g.groupBy(
        least(col("query_id"), col("neighbor_id")).as("src"),
        greatest(col("query_id"), col("neighbor_id")).as("dst"))
      .agg(count(lit(1)).as("n_dir"))
      .where(col("n_dir") === 2)
      .select(col("src"), col("dst"))
    val selfEdges = corpus.select(col(idCol).cast("long").as("src"))
      .select(col("src"), col("src").as("dst"))
    ConnectedComponents.components(mutual.union(selfEdges))
  }

  /** Cosine of every vector to its GROUP's centroid — the label-noise
    * / outlier curation signal for embedding corpora (a vector far
    * from its class centroid is mislabeled, junk, or an edge case;
    * curation pipelines drop or re-queue the low-cosine tail).
    *
    * Determinism: the centroid is built from per-element
    * floor(v·10⁴) INTEGER partials (exact, order-independent — a
    * float-summed mean would differ per partitioning), divided once;
    * the final cosine is round6'd, absorbing the per-group float sum
    * order like every ANN oracle here. Scale shape: one posexplode +
    * two grouped aggregates with map-side partials (element rows
    * shuffle on (group, i), then (group, id)); the centroid frame is
    * groups×dim rows — tiny; nothing driver-side. */
  def centroidCosines(emb: DataFrame, idCol: String, vecCol: String,
                      groupCol: String): DataFrame = {
    val q = emb.select(col(groupCol).as("grp"), col(idCol).as("vid"),
      posexplode(col(vecCol)).as(Seq("i", "v")))
    val cent = q.groupBy("grp", "i")
      .agg(sum(floor(col("v").cast("double") * 10000).cast("long")).as("cq"),
        count(lit(1)).as("n"))
      .select(col("grp"), col("i"),
        (col("cq").cast("double") / 10000.0 / col("n")).as("c"))
    q.join(cent, Seq("grp", "i"))
      .groupBy("grp", "vid")
      .agg(sum(col("v").cast("double") * col("c")).as("dot"),
        sum(col("v").cast("double") * col("v")).as("nv"),
        sum(col("c") * col("c")).as("nc"))
      .select(col("grp"), col("vid"),
        round(col("dot") / (sqrt(col("nv")) * sqrt(col("nc"))), 6)
          .as("cos_centroid"))
  }

  /** Hard-negative mining for embedding-model training (the triplet
    * construction step of retrieval/reranker training): per query,
    * the rank-1 neighbor is the POSITIVE and ranks `skipTop+1 ..
    * skipTop+numNegatives` are the hard negatives — similar enough to
    * be informative, far enough (past the skip band, which guards
    * against unlabeled true duplicates) to be presumed non-matches.
    * Output: (query_id, pos_id, neg_id, neg_rank), one row per
    * negative. One brute pass ranks once; positives and negatives are
    * sliced from the same ranking — no second scan. */
  /** Margin-based bitext mining (Artetxe & Schwenk 2019, the
    * LASER/CCMatrix parallel-corpus miner): a candidate pair scores
    * by its cosine RELATIVE to what each side scores against its
    * other neighbors — margin(x,y) = cos(x,y) /
    * (sumNNk(x)/(2·kx) + sumNNk(y)/(2·ky)) — which kills hubs that
    * are merely close to everything; a pair survives only as the
    * MUTUAL argmax of both sides (the intersection "max" strategy).
    *
    * Determinism: per-pair cosines are round6'd then scaled to exact
    * 1e6 integers, so the neighbor sums are order-independent BIGINTs
    * and the one margin division floor-quantizes to 6 — the DuckDB
    * oracle replays the whole chain. Scale: two broadcast-query top-k
    * passes (corpus never shuffles) + two candidate-sized aggregates;
    * candidates = |src|·k rows.
    *
    * Output: (src_id, tgt_id, margin) mutual-best pairs. */
  def mineBitext(src: DataFrame, tgt: DataFrame, idCol: String,
                 vecCol: String, k: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    def crossTopK(corpus: DataFrame, queries: DataFrame): DataFrame = {
      val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
      val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      topKPerQuery(
        c.crossJoin(q).select(col("query_id"), col("neighbor_id"),
          round(cosine(col("qv"), col("cv")), 6).as("cosine")), k)
    }
    val c6 = round(col("cosine") * 1e6).cast("long")
    val fwd = crossTopK(tgt, src).select(
      col("query_id").as("src_id"), col("neighbor_id").as("tgt_id"),
      c6.as("c6"))
    val bwd = crossTopK(src, tgt).select(
      col("query_id").as("tgt_id"), col("neighbor_id").as("src_id"),
      c6.as("c6"))
    val fSum = fwd.groupBy("src_id")
      .agg(sum("c6").as("fsum6"), count(lit(1)).as("kf"))
    val bSum = bwd.groupBy("tgt_id")
      .agg(sum("c6").as("bsum6"), count(lit(1)).as("kb"))
    val cand = fwd
      .join(fSum, "src_id").join(bSum, "tgt_id")
      .select(col("src_id"), col("tgt_id"),
        (floor(col("c6").cast("double") /
          (col("fsum6").cast("double") / (col("kf") * 2) +
           col("bsum6").cast("double") / (col("kb") * 2)) * 1e6) / 1e6)
          .as("margin"))
    val bestSrc = cand.groupBy("src_id")
      .agg(min(struct((-col("margin")).as("nm"), col("tgt_id").as("t"))).as("b"))
      .select(col("src_id"), col("b.t").as("tgt_id"))
    val bestTgt = cand.groupBy("tgt_id")
      .agg(min(struct((-col("margin")).as("nm"), col("src_id").as("s"))).as("b"))
      .select(col("tgt_id"), col("b.s").as("src_id"))
    cand.join(bestSrc, Seq("src_id", "tgt_id"), "left_semi")
      .join(bestTgt, Seq("src_id", "tgt_id"), "left_semi")
  }

  def mineHardNegatives(corpus: DataFrame, queries: DataFrame,
                        idCol: String, vecCol: String,
                        numNegatives: Int, skipTop: Int = 3): DataFrame = {
    require(numNegatives > 0 && skipTop >= 1,
      "need numNegatives > 0 and skipTop >= 1 (rank 1 is the positive)")
    val ranked = bruteTopK(corpus, queries, idCol, vecCol,
      k = skipTop + numNegatives)
    val pos = ranked.where(col("rnk") === 1)
      .select(col("query_id"), col("neighbor_id").as("pos_id"))
    ranked.where(col("rnk") > skipTop)
      .select(col("query_id"), col("neighbor_id").as("neg_id"),
        (col("rnk") - skipTop).as("neg_rank"))
      .join(pos, "query_id")
      .select("query_id", "pos_id", "neg_id", "neg_rank")
  }

  /** All corpus vectors within `threshold` cosine of any query —
    * embedding-based near-duplicate detection (deterministic, no
    * top-k selection instability). */
  def cosineNeighbors(corpus: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .crossJoin(q)
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Deterministic pseudo-random unit-ish hyperplane component for
    * (plane p, dimension d): a hash mapped into [-1, 1). Seeds the LSH
    * without any driver-side RNG state. */
  private def planeComponent(p: Int, d: Column): Column =
    (pmod(xxhash64(lit(p), d, lit(0x5eed)), lit(2000000L)).cast("double") / 1000000.0) - 1.0

  /** Sign-random-projection bucket id: one bit per hyperplane. Native
    * fused expression (graft.expr.LshBucket64), identical output to
    * [[lshBucketHof]]. */
  def lshBucket(vec: Column, numPlanes: Int): Column =
    graft.expr.LshBucket64.lshBucket(vec, numPlanes)

  /** md5-seeded hyperplane matrix for the engine-replayable bucket
    * variant: component (p, d) = md5("p:d") first 15 hex chars as a
    * 60-bit int, mapped into [-1, 1). The matrix is a MODEL constant
    * (numPlanes × dim doubles), so it is evaluated once on the driver
    * and embedded as literals — zero per-row hashing; an external SQL
    * engine recomputes the identical values from md5 directly. */
  private[graft] def md5PlaneMatrix(numPlanes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes, dim) { (p, d) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$p:$d".getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2000000L)
        .toDouble / 1000000.0 - 1.0
    }

  /** Engine-replayable sign-random-projection bucket over `dim`-wide
    * vectors: literal md5-derived planes; the dot product is rounded
    * to 6dp before the sign test so bucket assignment cannot split on
    * floating summation order across engines. Used by the DuckDB
    * oracle path; [[lshBucket]] (native codegen) is the fast default. */
  def lshBucketMd5(vec: Column, numPlanes: Int, dim: Int): Column = {
    val planes = md5PlaneMatrix(numPlanes, dim)
    (0 until numPlanes).map { p =>
      val arr = array(planes(p).map(lit): _*)
      val dot = round(aggregate(
        zip_with(vec, arr, (v, c) => v.cast("double") * c),
        lit(0.0d), (acc, x) => acc + x), 6)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** The composed higher-order form of [[lshBucket]] — the executable
    * spec the native expression is tested against. */
  private[graft] def lshBucketHof(vec: Column, numPlanes: Int): Column =
    (0 until numPlanes).map { p =>
      val dot = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (v, i) => v.cast("double") * planeComponent(p, i)),
        lit(0.0d), (acc, v) => acc + v)
      when(dot >= 0, lit(1L) * (1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Fold the (tiny) centroid set into ONE array-typed row —
    * `collect_list` of (cent_id, cent_vec) structs, sorted by cent_id
    * for a deterministic element order. Broadcast-joined onto the
    * corpus, this makes cell assignment a narrow projection: the only
    * job over the centroids is a k-row aggregate. */
  private[graft] def centroidArray(cents: DataFrame): DataFrame =
    cents.agg(array_sort(
      collect_list(struct(col("cent_id"), col("cent_vec")))).as("cents"))

  /** Narrow per-row best-cell assignment: one fused native loop
    * (graft.expr.ArgmaxCell) over the broadcast centroid array —
    * highest rounded cosine wins, ties go to the smallest cent_id
    * (elements are sorted by cent_id). Replaces the r2
    * `Window.partitionBy(unique id)` form, which shuffled the entire
    * corpus (vectors included) on a unique key just to compute a
    * per-row max — pure overhead at any scale — and (r8) the composed
    * array_max-over-structs form, whose per-centroid interpreted
    * lambda dispatch dominated the index build at 256 cells. */
  private[graft] def bestCell(vec: Column, centsArr: Column): Column =
    graft.expr.ArgmaxCell.argmaxCell(vec, centsArr)

  /** The composed higher-order form of [[bestCell]] — the executable
    * spec the native expression is property-tested against
    * (AnnSpec). Sole semantic divergence: a NULL vector here resolves
    * to the first centroid (null-first struct ordering under
    * array_max), where the native form returns a null cell. */
  private[graft] def bestCellHof(vec: Column, centsArr: Column): Column =
    array_max(transform(centsArr, (c, i) => struct(
      round(cosine(vec, c.getField("cent_vec")), 6).as("score"),
      (-i).as("ni"),
      c.getField("cent_id").as("cent_id")))).getField("cent_id")

  /** Narrow top-`nprobe` probe-cell selection per query vector:
    * sort the per-centroid scores ascending on (-score, cent_id) and
    * slice — score desc, cent_id asc, same order the r2 window used. */
  private[graft] def topCells(qv: Column, centsArr: Column, nprobe: Int): Column =
    slice(array_sort(transform(centsArr, c => struct(
      (-round(cosine(qv, c.getField("cent_vec")), 6)).as("ns"),
      c.getField("cent_id").as("cent_id")))), 1, nprobe)

  /** Lloyd-iteration k-means over an embedding column, cosine
    * assignment — refines the hash-sampled IVF centroids into trained
    * ones. Structure per iteration: score corpus × broadcast(current
    * centroids) (narrow pass), argmax per vector, element-wise mean
    * per cell. The per-cell mean is one mergeable vector-sum aggregate
    * (graft.expr.VectorSum): partials combine map-side, so each
    * iteration's shuffle carries one (dim doubles + count) buffer per
    * (cell × map task) — NOT the |corpus|·dim scalar rows the
    * posexplode + groupBy(cell, pos) formulation would move.
    *
    * The model (k × dim floats) lives ON THE DRIVER between
    * iterations — the classic distributed k-means shape: each
    * iteration is exactly one Spark job (the means aggregate) against
    * a fresh LocalRelation of the current centroids. The r6 form kept
    * the model as a chained DataFrame instead; each iteration's plan
    * then referenced the previous iteration's in three places, so
    * Catalyst's analysis cost grew ~3^iters — a 12-iteration run spun
    * the optimizer for minutes and every iteration leaked a cached
    * frame. Now plan size is constant per iteration, nothing is
    * cached, and a 50-iteration run is 50 flat jobs.
    *
    * Empty cells keep their previous centroid. Deterministic: seeded
    * by the md5 sample, fixed iteration count, rounded scores. */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      k: Int = 16, iters: Int = 5): DataFrame = {
    val spark = corpus.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cent_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cent_vec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false))))
    def toDf(m: Seq[(Long, Seq[Float])]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(m.map { case (id, v) =>
          org.apache.spark.sql.Row(id, v) }: _*), schema)

    // deterministic md5-sampled seed model (TakeOrdered: map-side
    // partial top-k, never a full sort) — k rows to the driver
    var cents: Seq[(Long, Seq[Float])] =
      corpus.select(col(idCol).cast("long").as("cent_id"), col(vecCol).as("cent_vec"))
        .orderBy(md5(col("cent_id").cast("string")).asc, col("cent_id").asc)
        .limit(k).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toSeq
    // widenScan (r20): every k-means iteration re-scans the corpus with
    // a k-way argmin per row — widen a narrow scan, no-op otherwise
    val c = Adaptive.widenScan(corpus.select(col(idCol).as("vid"), col(vecCol).as("cv")))
    for (_ <- 1 to iters) {
      val assigned = c.crossJoin(broadcast(centroidArray(toDf(cents))))
        .select(bestCell(col("cv"), col("cents")).as("cell"), col("cv"))
      val means = assigned
        .groupBy("cell").agg(graft.expr.VectorSum.vectorSum(col("cv")).as("s"))
        .select(col("cell").cast("long").as("cent_id"),
          expr("transform(s.sums, x -> CAST(x / s.n AS FLOAT))").as("cent_vec"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      // empty cells: keep the previous centroid
      cents = cents.map { case (id, v) => id -> means.getOrElse(id, v) }
    }
    toDf(cents)
  }

  /** Persist a trained IVF/k-means centroid model (cent_id, cent_vec)
    * as parquet — train once offline ([[kmeansCentroids]]), serve many
    * query batches against the saved model via `ivfTopK(...,
    * centroids = Some(loadCentroids(...)))` without re-sampling or
    * re-training per call. The model is k×dim — driver-trivial. */
  def saveCentroids(cents: DataFrame, path: String): Unit =
    cents.select(col("cent_id"), col("cent_vec"))
      .repartition(1) // k rows: one file, no small-file spray
      .write.mode("overwrite").parquet(path)

  /** Load a centroid model written by [[saveCentroids]]. Fails fast on
    * a frame that is not (cent_id, cent_vec). */
  def loadCentroids(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    require(df.columns.toSet == Set("cent_id", "cent_vec"),
      s"not a centroid model: ${df.columns.mkString(",")}")
    df
  }

  /** IVF (inverted-file) ANN: the corpus is partitioned into cells
    * around deterministic hash-sampled centroid vectors; each query
    * probes only its `nprobe` nearest cells.
    *
    * Build cost: one broadcast pass scoring corpus × centroids (the
    * classic IVF coarse quantizer, centroids here are sampled rather
    * than k-means-trained — at 100 TB you'd persist the cell
    * assignment once and train centroids offline). Query cost:
    * |probed cells| / numCells of the corpus instead of all of it.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              numCells: Int = 16, nprobe: Int = 4,
              centroids: Option[DataFrame] = None): DataFrame = {
    // default: deterministic pseudo-random centroid sample — smallest
    // numCells ids by md5 of the id string — stable across runs, no
    // RNG state, reproducible by any engine with md5 (enables a SQL
    // oracle). Pass `centroids` (cent_id, cent_vec) for a trained
    // quantizer, e.g. [[kmeansCentroids]].
    val cents = broadcast(centroidArray(centroids.getOrElse(
      corpus.select(col(idCol).as("cent_id"), col(vecCol).as("cent_vec"))
        .orderBy(md5(col("cent_id").cast("string")).asc, col("cent_id").asc)
        .limit(numCells))))

    // scores are rounded before the argmax so cell assignment is
    // stable across engines/fp-summation orders; assignment and
    // probing are both narrow projections against the one-row
    // broadcast centroid array — the corpus is never shuffled here
    val assigned = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .crossJoin(cents)
      .select(col("neighbor_id"), col("cv"), bestCell(col("cv"), col("cents")).as("cell"))

    val probes = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
        .crossJoin(cents)
        .select(col("query_id"), col("qv"),
          explode(topCells(col("qv"), col("cents"), nprobe)).as("p"))
        .select(col("query_id"), col("qv"), col("p.cent_id").as("cell")))

    val scored = assigned.join(probes, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** LSH-bucketed ANN: probe only the query's bucket. Recall trades off
    * with `numPlanes` (16 planes ⇒ 65k buckets). The corpus bucket
    * assignment is one narrow pass; at scale you'd persist/bucket-write
    * it once and reuse across query batches. */
  /** Deterministic two-level (coarse → fine) IVF quantizer model:
    * `(coarse, fine)` frames. Coarse = the `numCoarse` corpus vectors
    * with the smallest (md5(id), id); fine = the NEXT
    * `numCoarse × numFine` vectors in that order, dealt round-robin
    * to coarse cells (seed with post-coarse rank r: coarse_id =
    * r % numCoarse, global fine cent_id = coarse_id × numFine +
    * r / numCoarse). Same replay-anywhere property as [[ivfTopK]]'s
    * sampled centroids — no RNG, no training pass; swap in k-means
    * fine centroids offline when the corpus has cluster structure.
    *
    * Why two-level: flat assignment cost is |corpus| × numCells
    * cosines — doubling cells to sharpen the probe frontier doubles
    * the build. Hierarchical assignment scores numCoarse + numFine
    * per vector (64+16 for a 1024-cell index vs 1024 flat): finer
    * cells at a FRACTION of the flat build, the standard IVF serving
    * trick (coarse quantizer routes, fine cells bound the scan). */
  def twoLevelCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                        numCoarse: Int, numFine: Int): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    val n = numCoarse + numCoarse * numFine
    // model rows to the driver (n × dim floats — driver-trivial, the
    // same contract as kmeansCentroids), ranked without a full sort
    val seeds = corpus
      .select(col(idCol).cast("long").as("sid"), col(vecCol).as("svec"))
      .orderBy(md5(col("sid").cast("string")).asc, col("sid").asc)
      .limit(n).collect()
    require(seeds.length == n,
      s"two-level quantizer needs $n distinct seed vectors, corpus has ${seeds.length}")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("coarse_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cent_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cent_vec",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType, containsNull = false))))
    def rowsOf(xs: Seq[(Long, Long, Seq[Float])]) =
      spark.createDataFrame(java.util.Arrays.asList(xs.map { case (c, i, v) =>
        org.apache.spark.sql.Row(c, i, v) }: _*), schema)
    val coarse = rowsOf(seeds.take(numCoarse).zipWithIndex.map { case (r, i) =>
      (i.toLong, i.toLong, r.getSeq[Float](1)) })
    val fine = rowsOf(seeds.drop(numCoarse).zipWithIndex.map { case (r, j) =>
      val cid = (j % numCoarse).toLong
      (cid, cid * numFine + j / numCoarse, r.getSeq[Float](1)) })
    (coarse.select(col("cent_id"), col("cent_vec")), fine)
  }

  /** One-row frame `(cents, fines)`: the coarse centroid array plus a
    * coarse_id-indexed array of per-cell fine centroid arrays —
    * broadcast-join this against any batch and assign with
    * [[bestCell2]]. */
  private[graft] def twoLevelArrays(coarse: DataFrame, fine: DataFrame): DataFrame = {
    val fines = fine
      .groupBy("coarse_id")
      .agg(array_sort(collect_list(struct(col("cent_id"), col("cent_vec")))).as("cell_fines"))
      .agg(array_sort(collect_list(struct(col("coarse_id"), col("cell_fines")))).as("ordered"))
      .select(transform(col("ordered"), o => o.getField("cell_fines")).as("fines"))
    centroidArray(coarse).crossJoin(fines)
  }

  /** Two-level cell assignment: native argmax over the coarse array
    * routes to one fine array, native argmax over it yields the
    * GLOBAL fine cent_id. numCoarse + numFine fused cosines per row —
    * never numCoarse × numFine. */
  private[graft] def bestCell2(vec: Column, centsArr: Column, finesArr: Column): Column =
    graft.expr.ArgmaxCell.argmaxCell(vec,
      element_at(finesArr, bestCell(vec, centsArr).cast("int") + 1))

  /** Per-query probe-cell selection for the two-level index: rank
    * coarse cells by cosine, take `nCoarseProbe`, score THEIR fine
    * centroids, keep the overall top `nprobe` global fine ids ranked
    * by the JOINT (coarse + fine) score — assignment is coarse-GATED
    * (a vector lands in its coarse winner's fine set), so a pure fine
    * ranking would probe cells the gate never routes neighbors to.
    * Probe-side only (queries are small): composed HOFs, not the
    * native kernel. */
  private[graft] def topCells2(qv: Column, centsArr: Column, finesArr: Column,
                               nCoarseProbe: Int, nprobe: Int): Column = {
    val topCoarse = slice(array_sort(transform(centsArr, c => struct(
      (-round(cosine(qv, c.getField("cent_vec")), 6)).as("ns"),
      c.getField("cent_id").as("cent_id")))), 1, nCoarseProbe)
    val cands = flatten(transform(topCoarse, tc =>
      transform(element_at(finesArr, tc.getField("cent_id").cast("int") + 1), f => struct(
        (tc.getField("ns") - round(cosine(qv, f.getField("cent_vec")), 6)).as("ns"),
        f.getField("cent_id").as("cent_id")))))
    slice(array_sort(cands), 1, nprobe)
  }

  /** IVF ANN with the two-level quantizer of [[twoLevelCentroids]]:
    * same contract as [[ivfTopK]] (exact re-scoring of candidates, so
    * surfaced cosines are exact; recall is the probed-fraction dial)
    * with numCoarse × numFine fine cells at a build cost of
    * numCoarse + numFine cosines per corpus vector.
    *
    * Measured honestly, both sides (2M × 64):
    *  - uniform-random vectors (BENCH_SCALE_ANN_FRONTIER.json):
    *    recall caps at ~0.6 at a 10% scan where flat-512 reaches
    *    1.00 — coarse-GATED assignment is only as predictable as the
    *    query's estimate of a neighbor's coarse argmax, and on
    *    structure-free vectors (best neighbor cosine ~0.5) that
    *    estimate is weak;
    *  - clustered vectors, 2000 centers + noise
    *    (BENCH_SCALE_ANN_FRONTIER_CLUSTERED.json): recall 1.000 at a
    *    10.4% scan with build 2.4× cheaper than flat-512 (16.6 s vs
    *    40.5 s) at equal recall.
    * So: real embedding corpora (clustered — the case IVF exists
    * for) → this path; adversarially unstructured vectors or an
    * unknown distribution with a hard recall floor → flat
    * [[ivfTopK]]. */
  def ivfTopK2(corpus: DataFrame, queries: DataFrame,
               idCol: String, vecCol: String, k: Int,
               numCoarse: Int = 64, numFine: Int = 16,
               nCoarseProbe: Int = 8, nprobe: Int = 100,
               model: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val (coarse, fine) = model.getOrElse(
      twoLevelCentroids(corpus, idCol, vecCol, numCoarse, numFine))
    val arrs = broadcast(twoLevelArrays(coarse, fine))
    val assigned = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .crossJoin(arrs)
      .select(col("neighbor_id"), col("cv"),
        bestCell2(col("cv"), col("cents"), col("fines")).as("cell"))
    val probes = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
        .crossJoin(arrs)
        .select(col("query_id"), col("qv"),
          explode(topCells2(col("qv"), col("cents"), col("fines"),
            nCoarseProbe, nprobe)).as("p"))
        .select(col("query_id"), col("qv"), col("p.cent_id").as("cell")))
    val scored = assigned.join(probes, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cosine"))
    topKPerQuery(scored, k)
  }

  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              numPlanes: Int = 8, replayable: Boolean = false,
              dim: Int = 64): DataFrame = {
    def bucket(vec: Column): Column =
      if (replayable) lshBucketMd5(vec, numPlanes, dim) else lshBucket(vec, numPlanes)
    val cb = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      bucket(col(vecCol)).as("bucket"))
    val qb = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      bucket(col(vecCol)).as("bucket")))
    val scored = cb.join(qb, "bucket")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** The auto-quantizer decision record, persisted as index metadata
    * so the serving side routes probes through the same quantizer the
    * build chose (AnnIngest.buildAuto / probeAuto). */
  final case class IvfAutoChoice(
      kind: String, // "flat" | "two_level"
      meanTopCosine: Double,
      threshold: Double,
      numCells: Int, numCoarse: Int, numFine: Int, sampleRows: Int)

  /** One-pass clusteredness probe for the flat-vs-two-level quantizer
    * choice: the mean top-1 neighbor cosine of `nQueries` sampled
    * vectors against a `sampleRows` corpus sample.
    *
    * Why THIS statistic: the two frontiers
    * (BENCH_SCALE_ANN_FRONTIER{,_CLUSTERED}.json) differ in where a
    * query's true neighbors SIT. Clustered corpora put them at cosine
    * ≈ 0.99 — near-identical vectors route identically through any
    * deterministic quantizer, so the coarse-gated two-level index
    * keeps recall (measured 1.000) at a fraction of the flat build
    * cost. Structure-free corpora put the best neighbor at ~0.5 —
    * routing a cosine-0.5 pair consistently is exactly what the
    * coarse gate cannot do (measured recall cap ~0.6), so only flat
    * holds recall. A centroid-side statistic can't see this (a
    * routing-agreement probe measured 0.017 on BOTH corpora — gated
    * and flat argmax disagree constantly even when recall is 1.0,
    * because query and neighbor MISROUTE TOGETHER); the neighbor
    * cosine is the thing itself.
    *
    * Cost: nQueries × sampleRows fused cosines (256 × 64k ≈ 17M — a
    * sub-second narrow pass), both sides deterministic md5-ordered
    * LIMIT samples from opposite ends of the order so a query is
    * never its own candidate. */
  def clusterednessProbe(corpus: DataFrame, idCol: String, vecCol: String,
                         nQueries: Int = 256, sampleRows: Int = 65536): Double = {
    val sample = corpus.select(col(idCol).as("sid"), col(vecCol).as("v"))
      .orderBy(md5(col("sid").cast("string")).asc, col("sid").asc)
      .limit(sampleRows)
    val qs = corpus.select(col(idCol).as("sid"), col(vecCol).as("v"))
      .orderBy(md5(col("sid").cast("string")).desc, col("sid").desc)
      .limit(nQueries)
    bruteTopK(sample, qs, "sid", "v", 1)
      .agg(avg(col("cosine"))).head().getDouble(0)
  }

  /** Auto-pick the IVF quantizer: measure [[clusterednessProbe]] and
    * take the two-level model when the corpus's neighbors are close
    * enough (mean top-1 cosine ≥ `threshold`) for gated routing to
    * hold recall — otherwise the flat `numCells` quantizer with its
    * hard recall floor. Returns the decision record plus whichever
    * model won: flat centroids on the left, (coarse, fine) on the
    * right.
    *
    * Threshold default 0.8: measured mean top-1 cosine is ~0.99 on
    * the clustered frontier corpus and ~0.55 on the uniform one
    * (BENCH_SCALE_ANN_AUTO.json) — the dial sits in a wide empty
    * band, so the choice is stable under sample noise. */
  def chooseQuantizer(corpus: DataFrame, idCol: String, vecCol: String,
                      numCells: Int = 512, numCoarse: Int = 64, numFine: Int = 8,
                      sampleRows: Int = 65536, threshold: Double = 0.8)
      : (IvfAutoChoice, Either[DataFrame, (DataFrame, DataFrame)]) = {
    val meanTop = clusterednessProbe(corpus, idCol, vecCol, sampleRows = sampleRows)
    if (meanTop >= threshold) {
      val (coarse, fine) = twoLevelCentroids(corpus, idCol, vecCol, numCoarse, numFine)
      (IvfAutoChoice("two_level", meanTop, threshold,
        numCoarse * numFine, numCoarse, numFine, sampleRows), Right((coarse, fine)))
    } else {
      val flat = corpus
        .select(col(idCol).cast("long").as("cent_id"), col(vecCol).as("cent_vec"))
        .orderBy(md5(col("cent_id").cast("string")).asc, col("cent_id").asc)
        .limit(numCells)
      (IvfAutoChoice("flat", meanTop, threshold,
        numCells, numCoarse, numFine, sampleRows), Left(flat))
    }
  }

  /** Persist a two-level quantizer model (coarse + fine frames). */
  def saveTwoLevel(coarse: DataFrame, fine: DataFrame, path: String): Unit = {
    saveCentroids(coarse.select("cent_id", "cent_vec"), s"$path/coarse")
    fine.select(col("coarse_id"), col("cent_id"), col("cent_vec"))
      .repartition(1).write.mode("overwrite").parquet(s"$path/fine")
  }

  /** Load a two-level model written by [[saveTwoLevel]]. */
  def loadTwoLevel(spark: org.apache.spark.sql.SparkSession,
                   path: String): (DataFrame, DataFrame) = {
    val fine = spark.read.parquet(s"$path/fine")
    require(fine.columns.toSet == Set("coarse_id", "cent_id", "cent_vec"),
      s"not a two-level fine model: ${fine.columns.mkString(",")}")
    (loadCentroids(spark, s"$path/coarse"), fine)
  }

  /** SemDeDup-style semantic deduplication: drop all but one
    * representative of every group of embedding near-duplicates
    * (cosine ≥ threshold), returning the surviving rows of `emb`.
    *
    * Scale shape: candidate pairs come from shared sign-random-
    * projection buckets — never corpus² (the same blocking idea as
    * MinHash LSH banding, Similarity.scala); the near-dup graph closes
    * with the O(log diameter) pointer-jumping CC; and because min-label
    * CC's component id IS the minimum member id, the survivor set is
    * just {node == component} — no extra ranking pass. Like any
    * LSH-blocked dedup, a cross-bucket near-dup pair is missed with
    * probability growing in numPlanes (recall/cost dial); dense
    * corpora want more planes to bound bucket sizes.
    *
    * A bucket of m vectors yields m²/2 candidate pairs, so ONE dense
    * region (thousands of identical/default embeddings — the
    * boilerplate cluster of the embedding world) would turn the join
    * quadratic. Buckets above `maxBucket` therefore switch to
    * VERIFIED star-linking: each member scores against only the
    * bucket's min-id representative (m cosines, not m²/2) and links
    * when it passes the same threshold — the mega-cluster treatment
    * the MinHash survivor pipeline applies (Similarity.scala). A hot-
    * bucket member similar to some OTHER member but not to the
    * representative is missed (recall dial, like blocking itself).
    *
    * `replayable = true` uses the md5-seeded planes so an external
    * engine replays blocking, scoring, and closure (the oracle path);
    * the native codegen bucket is the fast default. */
  def semanticSurvivors(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numPlanes: Int = 8, replayable: Boolean = false,
      dim: Int = 64, maxBucket: Int = 10000): DataFrame = {
    def bucket(vec: Column): Column =
      if (replayable) lshBucketMd5(vec, numPlanes, dim) else lshBucket(vec, numPlanes)
    // cache: the self-join references the bucketed frame twice — an
    // uncached plan would scan the corpus and re-evaluate the
    // numPlanes×dim bucket dot products on both sides
    val b = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
      bucket(col(vecCol)).as("bkt")).cache()
    // per-bucket sizes ride along on the (already co-partitioned)
    // bucket key — no extra corpus shuffle
    val sized = b.join(b.groupBy("bkt").agg(count(lit(1)).as("_n")), "bkt")
    val cold = sized.where(col("_n") <= maxBucket)
    // one bucket per vector ⇒ a pair meets at most once (no dedup
    // shuffle needed before the edge union)
    val coldPairs = cold.select(col("bkt"), col("id").as("id1"), col("v").as("v1"))
      .join(cold.select(col("bkt"), col("id").as("id2"), col("v").as("v2")), "bkt")
      .where(col("id1") < col("id2"))
      .where(round(cosine(col("v1"), col("v2")), 6) >= threshold)
      .select(col("id1").as("src"), col("id2").as("dst"))
    // hot buckets: verify members against the representative only
    val hot = sized.where(col("_n") > maxBucket)
    val reps = hot.groupBy("bkt").agg(min("id").as("rep_id"))
    val hotPairs = hot.join(reps, "bkt")
      .where(col("id") =!= col("rep_id"))
      .join(b.select(col("id").as("rep_id"), col("v").as("rep_v")), "rep_id")
      .where(round(cosine(col("v"), col("rep_v")), 6) >= threshold)
      .select(col("rep_id").as("src"), col("id").as("dst"))
    val pairs = coldPairs.union(hotPairs)
    val edges = pairs.union(
      emb.select(col(idCol).cast("long").as("src"),
        col(idCol).cast("long").as("dst")))
    // components() checkpoints the edge list eagerly, so the bucketed
    // frame is consumed by the time it returns — release it
    val comp = ConnectedComponents.components(edges)
    b.unpersist(false)
    val survivors = comp.where(col("id") === col("component")).select("id")
    emb.join(survivors, emb(idCol).cast("long") === survivors("id"), "left_semi")
  }
}
