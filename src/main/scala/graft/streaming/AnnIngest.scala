package graft.streaming

import graft.ops.Ann
import graft.sources.CommitLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming ANN index maintenance: the ingest-side of IVF search.
  *
  * Batch IVF ([[Ann.ivfTopK]]) re-partitions the whole corpus per run;
  * an embedding feed cannot. Here each arriving micro-batch is assigned
  * to its nearest centroid cell (broadcast centroids — a narrow pass)
  * and appended to a parquet index PARTITIONED BY cell, so the index
  * grows append-only and probes read only their cells via partition
  * pruning. Each batch writes only its own (cell, run_id, batch_id)
  * partitions ([[MicroBatch]]) → idempotent under foreachBatch retry.
  *
  * At 100 TB this is the standard serving shape: the quantizer
  * (centroids, k × dim doubles) is the only coordinated state; cells
  * re-cluster independently offline (e.g. [[Ann.kmeansCentroids]] on a
  * sample) without touching the ingest path.
  */
object AnnIngest {

  // ---- index generations + re-cluster maintenance (r16) ---- //
  //
  // A grown index keeps the centroids it started with; as the corpus
  // drifts, new vectors crowd into the few cells nearest the drifted
  // region — recall at fixed nprobe survives (a probe and its
  // neighbors crowd into the SAME cells) but the probed fraction
  // balloons toward a full scan (the r8 quantization lesson, now on
  // the streaming path). recluster() retrains the quantizer from the
  // accumulated index and rewrites it cell-partitioned into a NEW
  // generation directory, then flips one `_current.gen` pointer by
  // atomic rename — readers see the old generation until the flip and
  // the new one after, never a mix. Probes and appends resolve the
  // pointer per call, so a stream RESTARTED after maintenance appends
  // to the new generation (replays of an already-copied batch
  // dynamic-overwrite their own (cell, run, batch) partitions with
  // identical content — idempotent, because assignment against the
  // new model is deterministic). DISCIPLINE: run recluster between
  // stream segments (the AvailableNow cadence), never under a live
  // writer — a concurrent append would assign against the old model.

  private def hfs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private val genMarker = """_gen(\d{8})\.current""".r

  /** The generation directory reads and appends resolve to: the
    * HIGHEST-numbered `_genNNNNNNNN.current` marker present, else the
    * index root (the gen-0 layout every pre-maintenance index has).
    * Markers are append-only files created by atomic rename — no
    * pointer is ever deleted-then-replaced, so there is no window
    * where a reader resolves to a stale generation mid-swap. */
  def currentDataPath(spark: SparkSession, indexPath: String): String = {
    val (fs, root) = hfs(spark, indexPath)
    if (!fs.exists(root)) return indexPath
    val gens = fs.listStatus(root).toSeq.flatMap(
      _.getPath.getName match {
        case genMarker(n) => Seq(n.toInt)
        case _ => Seq.empty
      })
    if (gens.isEmpty) indexPath
    else f"$indexPath/_gen${gens.max}%08d"
  }

  private def genNumber(dataPath: String, indexPath: String): Int =
    if (dataPath == indexPath) 0
    else dataPath.substring(indexPath.length + 1).stripPrefix("_gen").toInt

  /** The current generation's persisted flat centroid model — what a
    * restarted ingest segment should append with after maintenance. */
  def currentCentroids(spark: SparkSession, indexPath: String): DataFrame =
    Ann.loadCentroids(spark,
      s"${currentDataPath(spark, indexPath)}/_model/flat")

  /** Retrain the quantizer from the accumulated index (deterministic
    * md5 sample → [[Ann.kmeansCentroids]]), rewrite every indexed
    * vector cell-partitioned under the new model into generation
    * N+1, persist the model alongside, and flip the `_current.gen`
    * pointer atomically. The quantizer KIND survives maintenance: a
    * two_level generation retrains two-level with its recorded
    * coarse/fine dials (returning the new coarse centroids), flat
    * retrains flat with `numCells`. One pass over the index + a model-sized
    * training job; old generations stay on disk for readers that
    * resolved before the flip (reclaim them once drained). Returns
    * the new centroids. */
  def recluster(spark: SparkSession, indexPath: String, numCells: Int,
      iters: Int = 5, sampleRows: Int = 65536): DataFrame = {
    val cur = currentDataPath(spark, indexPath)
    // preserve the generation's quantizer KIND (r16 ADVICE): a
    // two_level index retrains two-level with its own coarse/fine
    // dials — a silent downgrade to flat would flip probeAuto onto
    // the flat probe path after maintenance; flat (or an index with
    // no recorded decision — the plain processBatch lineage) retrains
    // flat with the caller's numCells
    val prev = try Some(readQuantizerChoice(cur))
      catch { case _: java.io.IOException => None }
    val twoLevel = prev.filter(_.kind == "two_level")
    val rows = spark.read.parquet(cur)
      .select(col("id"), col("vec"), col("run_id"), col("batch_id"))
    val sample = rows.select(col("id"), col("vec"))
      .orderBy(md5(col("id").cast("string")).asc, col("id").asc)
      .limit(sampleRows)
    val genPath = f"$indexPath/_gen${genNumber(cur, indexPath) + 1}%08d"
    val (returned, assigned, saveModel) = twoLevel match {
      case Some(p) =>
        val (coarse, fine) =
          Ann.twoLevelCentroids(sample, "id", "vec", p.numCoarse, p.numFine)
        (coarse, rows.crossJoin(broadcast(Ann.twoLevelArrays(coarse, fine)))
          .select(col("id"), col("vec"),
            Ann.bestCell2(col("vec"), col("cents"), col("fines")).as("cell"),
            col("run_id"), col("batch_id")),
          () => Ann.saveTwoLevel(coarse, fine, s"$genPath/_model"))
      case None =>
        val cents = Ann.kmeansCentroids(sample, "id", "vec", numCells, iters)
        (cents, rows.crossJoin(broadcast(Ann.centroidArray(cents)))
          .select(col("id"), col("vec"),
            Ann.bestCell(col("vec"), col("cents")).as("cell"),
            col("run_id"), col("batch_id")),
          () => Ann.saveCentroids(cents, s"$genPath/_model/flat"))
    }
    CommitLog.overwritePartitions(
      assigned.repartition(col("cell")), // one file per cell, see writeCells
      genPath, Seq("cell", "run_id", "batch_id"))
    saveModel()
    val props = new java.util.Properties()
    props.setProperty("kind", twoLevel.map(_.kind).getOrElse("flat"))
    props.setProperty("num_cells",
      twoLevel.map(_.numCells.toString).getOrElse(numCells.toString))
    props.setProperty("sample_rows", sampleRows.toString)
    props.setProperty("mean_top_cosine",
      twoLevel.map(_.meanTopCosine.toString).getOrElse("-1"))
    props.setProperty("threshold",
      twoLevel.map(_.threshold.toString).getOrElse("-1"))
    props.setProperty("num_coarse",
      twoLevel.map(_.numCoarse.toString).getOrElse("0"))
    props.setProperty("num_fine",
      twoLevel.map(_.numFine.toString).getOrElse("0"))
    val (fs, _) = hfs(spark, indexPath)
    val propsOut = fs.create(
      new org.apache.hadoop.fs.Path(s"$genPath/_quantizer.properties"), true)
    try props.store(propsOut, "graft ANN recluster quantizer")
    finally propsOut.close()
    // the swap: create the generation's marker by write-temp-then-
    // atomic-rename (the CommitLog protocol); resolution takes the max
    // marker, so the new generation becomes visible in one rename and
    // nothing is ever deleted out from under a reader
    val markerName = f"_gen${genNumber(cur, indexPath) + 1}%08d.current"
    val tmp = new org.apache.hadoop.fs.Path(
      s"$indexPath/.$markerName.${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(genPath.getBytes("UTF-8")) finally out.close()
    val ptr = new org.apache.hadoop.fs.Path(s"$indexPath/$markerName")
    if (!fs.rename(tmp, ptr)) {
      fs.delete(tmp, false)
      if (!fs.exists(ptr)) sys.error(s"could not publish $ptr")
    }
    returned
  }

  /** The maintenance DIAL: how unbalanced the current generation's
    * cells are — (cells, rows, max-cell fraction, expected scan
    * fraction at `nprobe`). A healthy index scans ~nprobe/cells per
    * probe; a drifted one concentrates rows in few cells and the scan
    * fraction climbs toward 1. Poll this between stream segments and
    * [[recluster]] when it crosses the budgeted fraction — the
    * measured trigger, not a guess (one groupBy over the index's
    * partition column — a metadata-cheap aggregate). */
  def cellBalance(spark: SparkSession, indexPath: String,
      nprobe: Int): DataFrame = {
    val sizes = spark.read.parquet(currentDataPath(spark, indexPath))
      .groupBy("cell").count()
    // expected scan fraction at nprobe ≈ sum of the nprobe largest
    // cells / rows — the adversarial bound (a probe lands in the hot
    // cells exactly when the drifted region is what's being queried)
    sizes.select(col("count"))
      .orderBy(col("count").desc)
      .limit(nprobe)
      .agg(sum("count").as("hot_rows"))
      .crossJoin(sizes.agg(count(lit(1)).as("cells"),
        sum("count").as("rows"), max("count").as("max_cell")))
      .select(col("cells"), col("rows"),
        round(col("max_cell").cast("double") / col("rows"), 6)
          .as("max_cell_frac"),
        round(col("hot_rows").cast("double") / col("rows"), 6)
          .as(s"scan_frac_at_$nprobe"))
  }

  /** Reclaim generation directories SUPERSEDED by a later recluster,
    * once their marker is older than `graceMs` — readers that resolved
    * before the swap must drain first (the vacuum contract, same as
    * CommitLog's). The current generation and the root (gen-0) layout
    * are never touched; gen-0's data stays until the caller removes it
    * explicitly (it doubles as the legacy whole-dir read surface). */
  def vacuumGenerations(spark: SparkSession, indexPath: String,
      graceMs: Long = 24L * 3600 * 1000): Unit = {
    val (fs, root) = hfs(spark, indexPath)
    if (!fs.exists(root)) return
    val markers = fs.listStatus(root).toSeq.flatMap(s =>
      s.getPath.getName match {
        case genMarker(n) => Seq((n.toInt, s))
        case _ => Seq.empty
      })
    if (markers.isEmpty) return
    val current = markers.map(_._1).max
    val now = java.lang.System.currentTimeMillis()
    markers.filter { case (n, s) =>
      n < current && now - s.getModificationTime > graceMs
    }.foreach { case (n, _) =>
      fs.delete(new org.apache.hadoop.fs.Path(
        f"$indexPath/_gen$n%08d"), true)
      // the marker itself stays: resolution takes the max, and a
      // surviving marker documents the generation history
    }
  }

  /** (id, vec, cell) assignment of a batch against broadcast centroids;
    * scores rounded like Ann.ivfTopK so assignment is reproducible.
    * Narrow: the centroid set folds into one broadcast array row and
    * each vector takes its argmax inside a single projection — no
    * Window, so the batch is never shuffled (r2 shuffled it on the
    * unique id just to rank a per-row max). */
  private[streaming] def assignCells(batch: DataFrame, centroids: DataFrame,
                                     idCol: String, vecCol: String): DataFrame =
    batch.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .crossJoin(broadcast(Ann.centroidArray(centroids)))
      .select(col("id"), col("vec"), Ann.bestCell(col("vec"), col("cents")).as("cell"))

  def start(stream: DataFrame, centroids: DataFrame,
            idCol: String, vecCol: String,
            indexPath: String, checkpoint: String): StreamingQuery =
    MicroBatch.start(stream, checkpoint) { (batch, runId, batchId) =>
      processBatch(batch, centroids, idCol, vecCol, indexPath, runId, batchId)
    }

  /** One micro-batch; factored out so tests and the batch index-build
    * path (AnnScaleSmoke) can drive it directly. */
  private[graft] def processBatch(batch: DataFrame, centroids: DataFrame,
                                      idCol: String, vecCol: String,
                                      indexPath: String, runId: String,
                                      batchId: Long): Unit =
    writeCells(assignCells(batch, centroids, idCol, vecCol), indexPath,
      runId, batchId)

  /** Land one batch's (id, vec, cell) rows in the current generation,
    * co-locating each cell before the partitioned write: one file per
    * cell per batch instead of one per (cell × task) — without this a
    * 1024-cell index write sprays cells × tasks tiny files and file
    * overhead dominates both the build and every probe read. */
  private def writeCells(assigned: DataFrame, indexPath: String,
      runId: String, batchId: Long): Unit =
    CommitLog.writeDataOnly(assigned.repartition(col("cell")),
      currentDataPath(assigned.sparkSession, indexPath), runId, batchId,
      leading = Seq("cell"))

  /** Two-level variants: same index layout and probe discipline, cells
    * from the hierarchical quantizer ([[Ann.twoLevelCentroids]]) — the
    * fine-cells-at-coarse-build-cost serving shape. */
  private[graft] def assignCells2(batch: DataFrame, coarse: DataFrame,
                                  fine: DataFrame, idCol: String,
                                  vecCol: String): DataFrame =
    batch.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .crossJoin(broadcast(Ann.twoLevelArrays(coarse, fine)))
      .select(col("id"), col("vec"),
        Ann.bestCell2(col("vec"), col("cents"), col("fines")).as("cell"))

  private[graft] def processBatch2(batch: DataFrame, coarse: DataFrame,
                                   fine: DataFrame, idCol: String, vecCol: String,
                                   indexPath: String, runId: String,
                                   batchId: Long): Unit =
    writeCells(assignCells2(batch, coarse, fine, idCol, vecCol), indexPath,
      runId, batchId)

  /** Probe a two-level index: top `nCoarseProbe` coarse cells per
    * query, top `nprobe` of their fine cells overall, partition-pruned
    * read of exactly those cells. */
  def probe2(spark: SparkSession, indexPath: String, coarse: DataFrame,
             fine: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             k: Int, nCoarseProbe: Int, nprobe: Int): DataFrame = {
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(Ann.twoLevelArrays(coarse, fine)))
      .select(col("query_id"), col("qv"),
        explode(Ann.topCells2(col("qv"), col("cents"), col("fines"),
          nCoarseProbe, nprobe)).as("p"))
      .select(col("query_id"), col("qv"), col("p.cent_id").as("cell"))
    val cells = probes.select("cell").distinct().collect().map(_.get(0))
    val index = spark.read.parquet(currentDataPath(spark, indexPath))
      .where(col("cell").isin(cells: _*))
    Ann.topKPerQuery(
      index.join(broadcast(probes), Seq("cell"))
        .where(col("id") =!= col("query_id"))
        .select(col("query_id"), col("id").as("neighbor_id"),
          round(Ann.cosine(col("qv"), col("vec")), 6).as("cosine")), k)
  }

  /** Auto-quantizer index build: probe the corpus's clusteredness
    * ([[Ann.clusterednessProbe]]), pick flat vs two-level
    * ([[Ann.chooseQuantizer]]), build the cell-partitioned index with
    * the winner, and persist BOTH the chosen model (under
    * `_model/`) and the decision record (`_quantizer.properties`) in
    * the index directory — underscore-prefixed, so index scans never
    * read them as data. [[probeAuto]] reads the metadata back and
    * routes probes through the same quantizer; the caller never has
    * to know which side won. Returns the decision. */
  def buildAuto(batch: DataFrame, idCol: String, vecCol: String,
                indexPath: String, runId: String, batchId: Long,
                numCells: Int = 512, numCoarse: Int = 64, numFine: Int = 8,
                sampleRows: Int = 65536,
                threshold: Double = 0.8): Ann.IvfAutoChoice = {
    val (choice, model) = Ann.chooseQuantizer(batch, idCol, vecCol,
      numCells, numCoarse, numFine, sampleRows, threshold)
    model match {
      case Left(flat) =>
        Ann.saveCentroids(flat, s"$indexPath/_model/flat")
        processBatch(batch, flat, idCol, vecCol, indexPath, runId, batchId)
      case Right((coarse, fine)) =>
        Ann.saveTwoLevel(coarse, fine, s"$indexPath/_model")
        processBatch2(batch, coarse, fine, idCol, vecCol, indexPath, runId, batchId)
    }
    val props = new java.util.Properties()
    props.setProperty("kind", choice.kind)
    props.setProperty("mean_top_cosine", choice.meanTopCosine.toString)
    props.setProperty("threshold", choice.threshold.toString)
    props.setProperty("num_cells", choice.numCells.toString)
    props.setProperty("num_coarse", choice.numCoarse.toString)
    props.setProperty("num_fine", choice.numFine.toString)
    props.setProperty("sample_rows", choice.sampleRows.toString)
    val dir = new java.io.File(indexPath)
    dir.mkdirs()
    val out = new java.io.FileOutputStream(new java.io.File(dir, "_quantizer.properties"))
    try props.store(out, "graft ANN auto-quantizer decision")
    finally out.close()
    choice
  }

  /** Read back the decision [[buildAuto]] persisted. */
  def readQuantizerChoice(indexPath: String): Ann.IvfAutoChoice = {
    val props = new java.util.Properties()
    val in = new java.io.FileInputStream(
      new java.io.File(indexPath, "_quantizer.properties"))
    try props.load(in) finally in.close()
    Ann.IvfAutoChoice(
      props.getProperty("kind"),
      props.getProperty("mean_top_cosine").toDouble,
      props.getProperty("threshold").toDouble,
      props.getProperty("num_cells").toInt,
      props.getProperty("num_coarse").toInt,
      props.getProperty("num_fine").toInt,
      props.getProperty("sample_rows").toInt)
  }

  /** Probe an auto-built index: route through whichever quantizer the
    * build recorded, loading the persisted model — the serving side
    * needs only the index path. `nCoarseProbe`/`nprobe` default to the
    * frontier-swept dials for each kind. */
  def probeAuto(spark: SparkSession, indexPath: String, queries: DataFrame,
                idCol: String, vecCol: String, k: Int,
                nCoarseProbe: Int = 32, nprobe: Int = 50): DataFrame = {
    // model + decision live in the CURRENT generation (a recluster
    // rewrites both); the data reads below resolve the same way
    val gen = currentDataPath(spark, indexPath)
    val choice = readQuantizerChoice(gen)
    if (choice.kind == "two_level") {
      val (coarse, fine) = Ann.loadTwoLevel(spark, s"$gen/_model")
      probe2(spark, indexPath, coarse, fine, queries, idCol, vecCol, k, nCoarseProbe, nprobe)
    } else {
      val flat = Ann.loadCentroids(spark, s"$gen/_model/flat")
      probe(spark, indexPath, flat, queries, idCol, vecCol, k, nprobe)
    }
  }

  /** Top-k probe against the persisted index. Each query maps to its
    * `nprobe` nearest cells; the index read carries cell IN (...) so
    * only those partitions are listed/scanned — probe cost tracks the
    * probed fraction, not the index size. */
  def probe(spark: SparkSession, indexPath: String, centroids: DataFrame,
            queries: DataFrame, idCol: String, vecCol: String,
            k: Int, nprobe: Int): DataFrame = {
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(Ann.centroidArray(centroids)))
      .select(col("query_id"), col("qv"),
        explode(Ann.topCells(col("qv"), col("cents"), nprobe)).as("p"))
      .select(col("query_id"), col("qv"), col("p.cent_id").as("cell"))

    // queries are small by contract → the probed cell set is tiny;
    // materializing it gives the scan a static partition filter
    val cells = probes.select("cell").distinct().collect().map(_.get(0))
    val index = spark.read.parquet(currentDataPath(spark, indexPath))
      .where(col("cell").isin(cells: _*))

    Ann.topKPerQuery(
      index.join(broadcast(probes), Seq("cell"))
        .where(col("id") =!= col("query_id"))
        .select(col("query_id"), col("id").as("neighbor_id"),
          round(Ann.cosine(col("qv"), col("vec")), 6).as("cosine")), k)
  }
}
