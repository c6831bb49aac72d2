package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Attribution probe for the r12 q_curriculum_order regression
  * (0.33 s → 1.19 s): GlobalOrder.withPositions swapped `cache()` for
  * a lazy `localCheckpoint(false)` to fix the r11 cache leak, and the
  * bench entry tripled. This measures the SAME plan under each pin
  * strategy on the SAME corpus (warm min-of-3, like the bench), so the
  * delta is attributed rather than assumed:
  *
  *   - cache          — the leaking r11 shape (unpersisted here after
  *                      each run, which the production caller cannot do)
  *   - ckpt_lazy      — production (lazy localCheckpoint, default level)
  *   - ckpt_memdisk   — lazy localCheckpoint at MEMORY_AND_DISK
  *                      (deserialized), the verdict's suggested lever
  *   - nopin          — no pinning at all (floor: what the exchange +
  *                      window cost without materialization; NOT a
  *                      correct production option — boundary recompute)
  */
object GlobalOrderAttribution {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(
      graft.GraftSession.defaultCores, "globalorder-attribution")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        graft.text.TextAnalysis.qualityScore(col("text")).as("score"))

    def curriculum(pin: DataFrame => DataFrame): DataFrame =
      graft.ops.GlobalOrder.withPositionsPinned(
          docs.withColumn("_gkey",
            graft.ops.GlobalOrder.curriculumKey("score", "doc_id", 0L)), 0, pin)
        .select("doc_id", "pos").orderBy("doc_id")

    // warm min-of-3 wall time of the full query shape; each run builds
    // a FRESH plan (fresh pin) so nothing carries over between runs
    def timeIt(mk: () => DataFrame): Double = {
      mk().count() // warm: code paths, file footers
      (1 to 3).map { _ =>
        val pinned = new java.util.concurrent.atomic.AtomicReference[DataFrame]()
        val t0 = System.nanoTime()
        mk().count()
        val sec = (System.nanoTime() - t0) / 1e9
        Option(pinned.get).foreach(_.unpersist(blocking = true))
        sec
      }.min
    }

    val nopin = timeIt(() => curriculum(identity))
    val ckptLazy = timeIt(() => curriculum(_.localCheckpoint(false)))
    val ckptMemDisk = timeIt(() =>
      curriculum(_.localCheckpoint(false, StorageLevel.MEMORY_AND_DISK)))
    // cache variant: unpersist AFTER timing each run (the leak the
    // checkpoint fixed) — track the cached frame through the closure
    var lastCached: DataFrame = null
    val cache = timeIt { () =>
      if (lastCached != null) lastCached.unpersist(blocking = true)
      val out = curriculum { d => lastCached = d.persist(); lastCached }
      out
    }
    if (lastCached != null) lastCached.unpersist(blocking = true)
    // leaky-cache variant — r11's ACTUAL bench conditions: the cache
    // is never unpersisted, and because CacheManager matches by
    // logical plan, each fresh per-run frame HITS the leaked entry, so
    // min-of-3 times a cache-read run, not a full materialization
    val leaked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val cacheLeaky = timeIt { () =>
      curriculum { d => val p = d.persist(); leaked += p; p }
    }
    leaked.foreach(_.unpersist(blocking = true))

    println(s"""{"probe":"q_curriculum_order pin-strategy attribution","sf_dir":"$sfDir",""" +
      s""""nopin_sec":${f"$nopin%.3f"},"cache_sec":${f"$cache%.3f"},""" +
      s""""cache_leaky_sec":${f"$cacheLeaky%.3f"},""" +
      s""""ckpt_lazy_sec":${f"$ckptLazy%.3f"},"ckpt_memdisk_sec":${f"$ckptMemDisk%.3f"}}""")
    spark.stop()
  }
}
