package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Smoke.time

/** Scale smoke for streaming-index MAINTENANCE
  * ([[graft.streaming.AnnIngest.recluster]]): build a cell-partitioned
  * IVF index whose quantizer only ever saw the PRE-drift world, ingest
  * a drifted feed (disjoint region of the embedding space), and
  * measure what drift does to the serving index — the drifted rows
  * crowd into the few stale cells nearest their region, so probes over
  * drifted queries scan a corpus-sized fraction. Then recluster
  * (retrain from the accumulated index, rewrite, one atomic
  * generation-marker swap) and re-measure: same recall, scan fraction
  * back to the healthy nprobe/cells regime. One JSON line →
  * BENCH_SCALE_ANN_RECLUSTER.json. */
object ReclusterScaleSmoke {

  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 500000L
    val spark = GraftSession.local(GraftSession.defaultCores, "graft-recluster-smoke")
    val dir = java.nio.file.Files.createTempDirectory("ann-recluster").toString
    val idx = s"$dir/index"
    val numCells = 256
    val nprobe = 10

    // early world: 1000 hash centers with components in [-1.1, 0.1];
    // drifted world: the same construction shifted +1.5 per component —
    // a region no early centroid is near
    def gen(shift: String) =
      "transform(sequence(0, 63), j -> CAST(" +
        "pmod(xxhash64(pmod(xxhash64(id), 1000), j), 2000) / 1000.0 - 1.0 + " +
        s"pmod(xxhash64(id, j, 7), 200) / 1000.0 - 0.1 + $shift AS FLOAT))"
    val half = rows / 2
    spark.range(half).select(col("id").as("vec_id"), expr(gen("0.0")).as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/early")
    spark.range(half, rows).select(col("id").as("vec_id"), expr(gen("1.5")).as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/drift")
    val early = spark.read.parquet(s"$dir/early")
    val drift = spark.read.parquet(s"$dir/drift")

    // the quantizer the serving index started with: early world only
    val cents0 = graft.ops.Ann.kmeansCentroids(early, "vec_id", "embedding",
      k = numCells, iters = 3)
    val (_, tIngest) = time {
      graft.streaming.AnnIngest.processBatch(early, cents0, "vec_id",
        "embedding", idx, "r", 0L)
      graft.streaming.AnnIngest.processBatch(drift, cents0, "vec_id",
        "embedding", idx, "r", 1L)
    }

    val queries = drift.where(col("vec_id") < half + 100)
    def truthOf(): Set[(Long, Long)] =
      graft.ops.Ann.bruteTopK(early.unionAll(drift), queries,
          "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (truth, tBrute) = time(truthOf())

    /** (max drifted-cell fraction, mean probed-rows fraction, recall,
      * probe seconds) of the CURRENT generation. */
    def measure(cents: DataFrame): (Double, Double, Double, Double) = {
      val cur = graft.streaming.AnnIngest.currentDataPath(spark, idx)
      val drifted = spark.read.parquet(cur).where(col("id") >= half)
        .groupBy("cell").count().select("count").collect().map(_.getLong(0))
      val crowd = drifted.max.toDouble / drifted.sum
      val (got, tProbe) = time(
        graft.streaming.AnnIngest.probe(spark, idx, cents, queries,
            "vec_id", "embedding", 10, nprobe)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet)
      val recall = got.intersect(truth).size.toDouble / truth.size
      val sizes = spark.read.parquet(cur).groupBy("cell").count()
      val probes = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        .crossJoin(broadcast(graft.ops.Ann.centroidArray(cents)))
        .select(col("query_id"),
          explode(graft.ops.Ann.topCells(col("qv"), col("cents"), nprobe)).as("p"))
        .select(col("query_id"), col("p.cent_id").as("cell"))
      val scan = probes.join(sizes, Seq("cell"))
        .groupBy("query_id").agg(sum("count").as("s"))
        .agg(avg("s")).head().getDouble(0) / rows
      (crowd, scan, recall, tProbe)
    }

    val (crowd0, scan0, recall0, tProbe0) = measure(cents0)
    val (cents1, tRecluster) = time(
      graft.streaming.AnnIngest.recluster(spark, idx, numCells, iters = 3))
    val (crowd1, scan1, recall1, tProbe1) = measure(cents1)

    def f(d: Double) = Smoke.fmt(d, 4)
    val json =
      s"""{"metric":"ann_recluster","rows":$rows,"cells":$numCells,"nprobe":$nprobe,""" +
      s""""ingest_sec":${f(tIngest)},"brute_sec":${f(tBrute)},"recluster_sec":${f(tRecluster)},""" +
      s""""before":{"max_drift_cell_frac":${f(crowd0)},"scan_frac":${f(scan0)},"recall":${f(recall0)},"probe_sec":${f(tProbe0)}},""" +
      s""""after":{"max_drift_cell_frac":${f(crowd1)},"scan_frac":${f(scan1)},"recall":${f(recall1)},"probe_sec":${f(tProbe1)}},""" +
      s""""generation":"${graft.streaming.AnnIngest.currentDataPath(spark, idx).split('/').last}"}"""
    Smoke.artifact("BENCH_SCALE_ANN_RECLUSTER.json", json)
    spark.stop()
  }
}
