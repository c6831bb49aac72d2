package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou/Douze/Schmid 2011) — the memory side of
  * the ANN serving story: IVF ([[Ann.ivfTopK]]) bounds how much of the
  * corpus a probe SCANS; PQ bounds how many bytes per vector the scan
  * TOUCHES. Each vector splits into `m` contiguous subvectors; each
  * subspace gets its own `ksub`-codeword L2 k-means codebook; a vector
  * is stored as m small codes (m bytes at ksub=256 — a 64-dim float
  * vector compresses 256 B → 8 B, the difference between an index that
  * fits executor memory at 10⁹ vectors and one that does not). Queries
  * score against codes with an asymmetric-distance table: m·ksub exact
  * subdistances computed ONCE per query, then every corpus row costs m
  * table lookups (the [[graft.expr.AdcScore]] native kernel).
  *
  * Training shape: ALL subspaces train jointly — one explode to
  * (sub, subvec) rows, then per iteration ONE broadcast-join +
  * argmin + vector-sum aggregate job for every codebook at once (m
  * separate k-means loops would scan the corpus m times per
  * iteration). The model is driver-resident between iterations like
  * [[Ann.kmeansCentroids]]; encode and probe are narrow scans against
  * literal codebooks — no shuffle anywhere but the final top-k's
  * map-side partials.
  *
  * Deterministic end to end: md5-sampled seeds, fixed iterations,
  * 6-decimal-rounded distances with id tie-breaks. */
object Pq {

  /** Train per-subspace codebooks. Returns `(sub, cent_id, cent_vec)`
    * with cent_id in [0, ksub). `dim` must divide evenly by `m`. */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int = 256, iters: Int = 5): DataFrame = {
    require(m >= 1 && ksub >= 1 && iters >= 1)
    val spark = corpus.sparkSession
    val first = corpus.select(size(col(vecCol))).first().getInt(0)
    require(first % m == 0, s"dim $first not divisible by m=$m")
    val dsub = first / m

    // md5-deterministic seed rows; each contributes one seed PER sub
    val seedRows = corpus
      .select(col(idCol).cast("string").as("sid"), col(vecCol).as("v"))
      .orderBy(md5(col("sid")).asc, col("sid").asc)
      .limit(ksub).collect()
    var books: Array[Array[Array[Float]]] = Array.tabulate(m) { s =>
      seedRows.map(_.getSeq[Float](1).slice(s * dsub, (s + 1) * dsub)
        .toArray).toArray
    }

    val subs = (0 until m).map(s => struct(lit(s).as("sub"),
      slice(col(vecCol), s * dsub + 1, dsub).as("sv")))
    // widenScan (r20): every k-means iteration scans this frame — on an
    // unsplittable local file the argmin+aggregate ran single-task
    val ex = Adaptive.widenScan(
        corpus.select(explode(array(subs: _*)).as("e")))
      .select(col("e.sub").as("sub"), col("e.sv").as("sv"))
      .localCheckpoint(eager = false)

    def bookDf(): DataFrame = {
      import spark.implicits._
      (0 until m).flatMap(s => books(s).zipWithIndex.map { case (cw, c) =>
        (s, c.toLong, cw.toSeq)
      }).toDF("sub", "cent_id", "cent_vec")
    }
    for (_ <- 1 to iters) {
      val cb = bookDf().groupBy("sub")
        .agg(array_sort(collect_list(
          struct(col("cent_id"), col("cent_vec")))).as("cents"))
      val assigned = ex.join(broadcast(cb), "sub")
        .select(col("sub"),
          graft.expr.ArgminCellL2.argminL2Cell(col("sv"), col("cents"))
            .as("cell"),
          col("sv"))
      val means = assigned.groupBy("sub", "cell")
        .agg(graft.expr.VectorSum.vectorSum(col("sv")).as("s"))
        .select(col("sub"), col("cell"),
          expr("transform(s.sums, x -> CAST(x / s.n AS FLOAT))").as("mv"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getSeq[Float](2))
        .toMap
      books = Array.tabulate(m) { s =>
        books(s).zipWithIndex.map { case (old, c) =>
          means.get((s, c.toLong)).map(_.toArray).getOrElse(old)
        }
      }
    }
    bookDf()
  }

  private def driverBooks(model: DataFrame): (Int, Array[Array[Array[Float]]]) = {
    val rows = model.select(col("sub"), col("cent_id"), col("cent_vec"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2)))
    val m = rows.map(_._1).max + 1
    val books = Array.tabulate(m) { s =>
      rows.filter(_._1 == s).sortBy(_._2).map(_._3.toArray)
    }
    (m, books)
  }

  private def centsLit(cw: Array[Array[Float]]): Column =
    typedlit(cw.zipWithIndex.map { case (v, c) => (c.toLong, v.toSeq) }.toSeq)

  /** The composed higher-order form of the ADC table — the executable
    * spec [[graft.expr.AdcTable]] is property-tested against (PqSpec).
    * Production probes use the native kernel: this form pays m·ksub
    * nested interpreted lambda dispatches per row. */
  private[graft] def adcTableHof(vec: Column, booksLit: Column,
      dsub: Int): Column =
    transform(booksLit, (bs, s) => transform(bs, cw =>
      aggregate(zip_with(slice(vec, s * dsub + 1, lit(dsub)), cw,
        (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, e) => acc + e)))

  /** Encode the corpus: `(id, codes array<int>)` — m codes per row via
    * the native L2 argmin against literal codebooks (narrow scan, no
    * shuffle, whole-stage codegen). */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      model: DataFrame): DataFrame = {
    val (m, books) = driverBooks(model)
    val dsub = books(0)(0).length
    val codeCols = (0 until m).map { s =>
      graft.expr.ArgminCellL2.argminL2Cell(
        slice(col(vecCol), s * dsub + 1, dsub), centsLit(books(s)))
        .cast("int")
    }
    // widenScan (r20): m argmins over ksub codewords per row is the
    // heavy per-row stage; widen a narrow scan, no-op otherwise
    Adaptive.widenScan(corpus.select(col(idCol), col(vecCol)))
      .select(col(idCol).as("id"), array(codeCols: _*).as("codes"))
  }

  /** Top-k nearest (smallest ADC distance) corpus codes per query:
    * `(query_id, neighbor_id, adc_dist, rnk)`. The per-query distance
    * table is computed once on the (broadcast) query side; each
    * corpus row then costs m native lookups. Ties break to the
    * smaller neighbor id. */
  def adcTopK(codes: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, model: DataFrame, k: Int): DataFrame = {
    val (m, books) = driverBooks(model)
    val booksLit = typedlit(books.map(_.map(_.toSeq).toSeq).toSeq)
    val table = graft.expr.AdcTable.adcTable(col(vecCol), booksLit)
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol))
      .withColumn("tbl", table)
      .select(col("query_id"), col("tbl")))
    val scored = codes.crossJoin(q)
      .select(col("query_id"),
        (-graft.expr.AdcScore.adcScore(col("codes"), col("tbl")))
          .as("cosine"),
        col("id").as("neighbor_id"))
      .where(col("cosine").isNotNull)
    Ann.topKPerQuery(scored, k)
      .select(col("query_id"), col("neighbor_id"),
        (-col("cosine")).as("adc_dist"), col("rnk"))
  }

  /** The production PQ serving shape: ADC shortlists `shortlist`
    * candidates from the 8-byte codes (the cheap, memory-bounded
    * scan), then ONLY those candidates are re-ranked with exact
    * cosine against their full vectors — quantization error affects
    * WHICH `shortlist` rows are fetched, never the final order.
    * `corpus` provides the full vectors (in a real deployment, the
    * row-group-pruned fetch of shortlisted ids). Output matches
    * [[Ann.bruteTopK]]: `(query_id, neighbor_id, cosine, rnk)`,
    * self-matches excluded. */
  def adcRerankTopK(codes: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      model: DataFrame, k: Int, shortlist: Int = 200): DataFrame = {
    val sl = adcTopK(codes, queries, idCol, vecCol, model, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("_cv"))
    val qv = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("_qv")))
    val scored = broadcast(sl).join(cv, "neighbor_id").join(qv, "query_id")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Ann.cosine(col("_qv"), col("_cv")), 6).as("cosine"))
    Ann.topKPerQuery(scored, k)
  }

  /** IVF×PQ — the full FAISS-shaped serving index, composed from the
    * two bounds this file and [[Ann]] provide separately: the IVF
    * cells bound how much of the corpus a probe SCANS (only `nprobe`
    * cells' rows are touched), the PQ codes bound the BYTES each
    * scanned row costs (m per row), and the exact re-rank bounds the
    * quality loss to "was the true neighbor shortlisted". Encode once
    * with [[encodeWithCells]]; codes carry their cell so the probe is
    * one cell equi-join — the corpus vectors are only fetched for the
    * `shortlist` re-ranked rows.
    *
    * No-residual variant (codes quantize raw vectors, not v−centroid):
    * one codebook serves every cell, which keeps train/encode one
    * pass; residual encoding buys sharper codes at the cost of
    * per-cell tables — swap in when recall at fixed m needs it. */
  def encodeWithCells(corpus: DataFrame, idCol: String, vecCol: String,
      model: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = broadcast(Ann.centroidArray(centroids))
    encode(corpus, idCol, vecCol, model)
      .join(corpus.select(col(idCol).as("id"), col(vecCol).as("_v")), "id")
      .crossJoin(cents)
      .select(col("id"), col("codes"),
        Ann.bestCell(col("_v"), col("cents")).as("cell"))
  }

  /** Top-k per query over an [[encodeWithCells]] index:
    * `(query_id, neighbor_id, cosine, rnk)` like [[Ann.bruteTopK]].
    * Scan = rows in the query's `nprobe` nearest cells; each scanned
    * row costs m ADC lookups; `shortlist` candidates re-rank exact. */
  def ivfAdcTopK(codesWithCells: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      model: DataFrame, centroids: DataFrame, k: Int,
      nprobe: Int = 8, shortlist: Int = 200): DataFrame = {
    val (m, books) = driverBooks(model)
    val booksLit = typedlit(books.map(_.map(_.toSeq).toSeq).toSeq)
    val table = graft.expr.AdcTable.adcTable(col(vecCol), booksLit)
    val cents = broadcast(Ann.centroidArray(centroids))
    val probes = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol))
      .withColumn("tbl", table)
      .crossJoin(cents)
      .select(col("query_id"), col("tbl"),
        explode(Ann.topCells(col(vecCol), col("cents"), nprobe)).as("p"))
      .select(col("query_id"), col("tbl"), col("p.cent_id").as("cell")))
    val scored = codesWithCells.join(probes, "cell")
      .select(col("query_id"),
        (-graft.expr.AdcScore.adcScore(col("codes"), col("tbl")))
          .as("cosine"),
        col("id").as("neighbor_id"))
      .where(col("cosine").isNotNull)
    val sl = Ann.topKPerQuery(scored, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("_cv"))
    val qv = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("_qv")))
    val reranked = broadcast(sl).join(cv, "neighbor_id").join(qv, "query_id")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Ann.cosine(col("_qv"), col("_cv")), 6).as("cosine"))
    Ann.topKPerQuery(reranked, k)
  }

  // ---- residual variant (the classic IVFADC): codes quantize the ---
  // ---- CELL RESIDUAL v − centroid, so one codebook's resolution ----
  // ---- concentrates on within-cell structure — sharper codes at ----
  // ---- the same m, at the cost of per-(query, cell) tables. --------
  // ---- MEASURED (r13, BENCH_SCALE_ANN_PQ_RESIDUAL.json, 2M×64 ------
  // ---- clustered, 512 k-means cells, nprobe 50, 9.8% scan): --------
  // ---- residual recall@10 0.938 ≥ raw 0.936 at equal bytes and -----
  // ---- scan; probe 5.0 s vs 4.1 s (the per-cell tables' price). ----
  // ---- The r12 0.304 was COARSE SAMPLED cells: residuals against ---
  // ---- md5-sampled corpus rows keep ~full vector norm and lose -----
  // ---- the global structure a raw codebook exploits — residual -----
  // ---- requires a TRAINED coarse quantizer (use kmeansCentroids). --

  /** `(id, cell, rvec)` — each vector's cell plus its residual against
    * that cell's centroid (the frame both residual train and encode
    * consume; derive once). */
  def residualFrame(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    val cents = broadcast(Ann.centroidArray(centroids))
    val cvecs = broadcast(centroids.select(col("cent_id").as("cell"),
      col("cent_vec").as("_cvec")))
    corpus.select(col(idCol).as("id"), col(vecCol).as("_v"))
      .crossJoin(cents)
      .select(col("id"), col("_v"),
        Ann.bestCell(col("_v"), col("cents")).as("cell"))
      .join(cvecs, "cell")
      .select(col("id"), col("cell"),
        zip_with(col("_v"), col("_cvec"),
          (x, y) => (x - y).cast("float")).as("rvec"))
  }

  /** Train codebooks on residuals ([[train]] on [[residualFrame]]). */
  def trainResidual(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, m: Int, ksub: Int = 256,
      iters: Int = 5): DataFrame =
    train(residualFrame(corpus, idCol, vecCol, centroids)
      .localCheckpoint(eager = false), "id", "rvec", m, ksub, iters)

  /** Residual encode: `(id, cell, codes)`. The residual frame is
    * pinned (lazy localCheckpoint) — it feeds both the code projection
    * and the cell join, and recomputing it means a second full
    * assignment pass over the corpus. */
  def encodeResidualWithCells(corpus: DataFrame, idCol: String,
      vecCol: String, model: DataFrame, centroids: DataFrame): DataFrame = {
    val rf = residualFrame(corpus, idCol, vecCol, centroids)
      .localCheckpoint(eager = false)
    encode(rf, "id", "rvec", model)
      .join(rf.select(col("id"), col("cell")), "id")
      .select(col("id"), col("cell"), col("codes"))
  }

  /** Residual IVFADC probe: each (query, probed cell) builds its OWN
    * ADC table from the query's residual against THAT cell's
    * centroid; otherwise identical to [[ivfAdcTopK]] (shortlist +
    * exact cosine re-rank). */
  def ivfAdcResidualTopK(codesWithCells: DataFrame, corpus: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      model: DataFrame, centroids: DataFrame, k: Int,
      nprobe: Int = 8, shortlist: Int = 200): DataFrame = {
    val (m, books) = driverBooks(model)
    val dsub = books(0)(0).length
    val booksLit = typedlit(books.map(_.map(_.toSeq).toSeq).toSeq)
    val cents = broadcast(Ann.centroidArray(centroids))
    val cvecs = broadcast(centroids.select(col("cent_id").as("cell"),
      col("cent_vec").as("_cvec")))
    val qres = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("_qv"))
      .crossJoin(cents)
      .select(col("query_id"), col("_qv"),
        explode(Ann.topCells(col("_qv"), col("cents"), nprobe)).as("p"))
      .select(col("query_id"), col("_qv"), col("p.cent_id").as("cell"))
      .join(cvecs, "cell")
      .withColumn("_qr", zip_with(col("_qv"), col("_cvec"),
        (x, y) => (x - y).cast("float")))
      // pin _qr as a materialized ATTRIBUTE before the table build:
      // CollapseProject otherwise inlines the zip_with derivation into
      // the table expression's input and re-evaluates it (measured 14x
      // on the residual probe at 100k before the native kernel). The
      // frame is query·nprobe rows — tiny.
      .localCheckpoint(eager = false)
    val table = graft.expr.AdcTable.adcTable(col("_qr"), booksLit)
    val probes = broadcast(qres.withColumn("tbl", table)
      .select(col("query_id"), col("cell"), col("tbl")))
    val scored = codesWithCells.join(probes, "cell")
      .select(col("query_id"),
        (-graft.expr.AdcScore.adcScore(col("codes"), col("tbl")))
          .as("cosine"),
        col("id").as("neighbor_id"))
      .where(col("cosine").isNotNull)
    val sl = Ann.topKPerQuery(scored, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("_cv"))
    val qv = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("_qv")))
    val reranked = broadcast(sl).join(cv, "neighbor_id").join(qv, "query_id")
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Ann.cosine(col("_qv"), col("_cv")), 6).as("cosine"))
    Ann.topKPerQuery(reranked, k)
  }
}
