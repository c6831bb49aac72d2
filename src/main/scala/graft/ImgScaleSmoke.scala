package graft

import org.apache.spark.sql.functions._
import graft.Smoke.{fmt3 => fmt}

/** Multimodal scale smoke: perceptual image hashing + near-dup
  * detection measured on a generated corpus of REAL encoded PNGs —
  * the evidence that the ImageHash path (decode → bounded-grid hash →
  * shared banding join) runs at corpus scale, not just on the spec's
  * fixtures. One JSON line → BENCH_SCALE_IMG.json.
  *
  * Corpus: n/2 deterministic 8×8 block patterns (64 random bits from
  * xxhash of the pair id) rendered at 128×64, each paired with its
  * 64×32 re-render — a planted resized near-duplicate. Distinct
  * patterns are random 64-bit codes, so cross-pair Hamming-≤3 hits
  * are ~impossible and recall/precision have exact expected values:
  * every planted pair found, nothing else.
  */
object ImgScaleSmoke {

  private def renderPng(bits: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val bit = (bits >>> ((y * 8 / h) * 8 + (x * 8 / w))) & 1L
        img.setRGB(x, y, if (bit == 1L) 0xffffff else 0x000000)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** WebP lossless container with the given canvas — built to the
    * RIFF/VP8L byte layout (no JDK WebP encoder exists); the dims walk
    * under test reads exactly these header bytes. */
  private def webpLossless(w: Int, h: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
    }
    out.write("RIFF".getBytes("US-ASCII")); le32(4 + 8 + 5)
    out.write("WEBP".getBytes("US-ASCII"))
    out.write("VP8L".getBytes("US-ASCII")); le32(5)
    out.write(0x2f); le32((w - 1) | ((h - 1) << 14))
    out.toByteArray
  }

  private def encodeTiff(bits: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, if (((bits >>> ((x + y) % 63)) & 1L) == 1L) 0xffffff else 0)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "tiff", bos)
    bos.toByteArray
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 50000L
    val spark = GraftSession.local(GraftSession.defaultCores, "graft-img-smoke")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("img-scale").toString
    // generation (PNG encode) is corpus setup, excluded from timings
    val t0 = System.nanoTime()
    spark.range(n).map { id =>
      // 64 well-mixed pattern bits per pair id (collision-free at any
      // realistic n, unlike a 32-bit hash)
      val bits = new java.util.SplittableRandom(id / 2).nextLong() | 1L
      val (w, h) = if (id % 2 == 0) (128, 64) else (64, 32)
      (id, renderPng(bits, w, h))
    }.toDF("media_id", "payload")
      .write.mode("overwrite").parquet(s"$root/media")
    val tGen = (System.nanoTime() - t0) / 1e9

    val media = spark.read.parquet(s"$root/media")
    // decode + hash throughput (the scan-side cost at 100 TB)
    val t1 = System.nanoTime()
    // aHash: on high-contrast block patterns the cell-vs-global-mean
    // bit is exactly resize-stable, so planted recall should be 1.0
    // (dHash, measured: ~0.87 here — truncation at the 9-column grid
    // drifts ~4 bits across a 2x resize of hard block edges; fine for
    // natural images, wrong hash for this corpus)
    val hashed = graft.multimodal.ImageHash
      .hashImages(media, "media_id", "payload", kind = "ahash").cache()
    val nHashed = hashed.count()
    val tHash = (System.nanoTime() - t1) / 1e9
    // pair detection on the cached hashes — isolates the banding-join
    // cost from the (already measured) decode pass
    val t2 = System.nanoTime()
    val pairs = graft.ops.Similarity
      .simhashPairsFromHashes(hashed.where(col("simhash").isNotNull),
        maxHamming = 3)
      .select("id1", "id2").as[(Long, Long)].collect()
    val tPairs = (System.nanoTime() - t2) / 1e9
    val planted = pairs.count { case (a, b) => b == a + 1 && a % 2 == 0 }
    val extra = pairs.length - planted
    // header-only dims probe vs full ImageIO decode on the same
    // corpus: the reason the probe exists is this ratio (a
    // resolution/format gate should not pay decode prices). Dims
    // cross-checked against the generator's two known sizes.
    def time2(fn: => Long): (Double, Long) = {
      fn
      var best = Double.MaxValue; var v = 0L
      (1 to 2).foreach { _ =>
        val s = System.nanoTime(); v = fn
        best = math.min(best, (System.nanoTime() - s) / 1e9)
      }
      (best, v)
    }
    val (tProbe, okProbe) = time2(
      media.select(graft.expr.ImageDims.imageDims(col("payload")).as("d"))
        .where(col("d.width") === 128 && col("d.height") === 64 ||
               col("d.width") === 64 && col("d.height") === 32)
        .count())
    val (tDecode, okDecode) = time2(
      graft.multimodal.Multimodal.decodeImagesJdk(media)
        .where(col("decoded_w") === 128 && col("decoded_h") === 64 ||
               col("decoded_w") === 64 && col("decoded_h") === 32)
        .count())
    require(okProbe == n && okDecode == n,
      s"dims disagree: probe $okProbe decode $okDecode of $n")
    // mixed-format corpus: PNG + real-JDK-encoder TIFF + constructed
    // WebP (r13: the two formats the r12 probe lacked — modern crawls
    // are heavily WebP). Dims are a pure function of id, so the check
    // is EXACT per row, not a count heuristic.
    spark.range(n).map { id =>
      val bits = new java.util.SplittableRandom(id).nextLong() | 1L
      // TIFF stays small: the JDK writes uncompressed RGB, and the
      // vectorized parquet reader reserves batch-size × row-bytes
      val cap = if (id % 3 == 1) 48 else 500
      val w = (id % cap).toInt + 1
      val h = ((id * 7) % cap).toInt + 1
      val payload = (id % 3) match {
        case 0 => renderPng(bits, w, h)
        case 1 => encodeTiff(bits, w, h)
        case _ => webpLossless(w, h)
      }
      (id, w, h, payload)
    }.toDF("media_id", "w", "h", "payload")
      .write.mode("overwrite").parquet(s"$root/mixed")
    val mixed = spark.read.parquet(s"$root/mixed")
    val t3 = System.nanoTime()
    val exact = mixed.select(col("media_id"), col("w"), col("h"),
        graft.expr.ImageDims.imageDims(col("payload")).as("d"))
      .where(col("d.width") === col("w") && col("d.height") === col("h") &&
        col("d.format") === element_at(
          typedLit(Seq("png", "tiff", "webp")),
          (col("media_id") % 3).cast("int") + 1))
      .count()
    val tMixed = (System.nanoTime() - t3) / 1e9
    require(exact == n, s"mixed-format dims: $exact of $n exact")
    // the one-pass router over the same mixed corpus: classification
    // counts must be exact thirds, and the wall time IS the full
    // format+metadata+privacy front door (r13 MediaRoute)
    val t4 = System.nanoTime()
    val routed = graft.multimodal.MediaRoute.route(mixed, "payload")
      .groupBy(expr("substring_index(media_format, '/', 1)").as("kind"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val tRoute = (System.nanoTime() - t4) / 1e9
    require(routed.getOrElse("image", 0L) == n &&
      routed.getOrElse("unknown", 0L) == 0L,
      s"router misclassified: $routed")
    val json =
      s"""{"metric":"img_scale","images":$n,"gen_sec":${fmt(tGen)},""" +
      s""""hash_sec":${fmt(tHash)},"hash_rows_per_sec":${(nHashed / tHash).toLong},""" +
      s""""pairs_sec":${fmt(tPairs)},"planted_found":$planted,""" +
      s""""planted_expected":${n / 2},"false_pairs":$extra,""" +
      s""""dims_probe_sec":${fmt(tProbe)},"full_decode_sec":${fmt(tDecode)},""" +
      s""""probe_speedup":${fmt(tDecode / tProbe)},""" +
      s""""mixed_formats":["png","tiff","webp"],"mixed_rows":$n,""" +
      s""""mixed_exact":$exact,"mixed_probe_sec":${fmt(tMixed)},""" +
      s""""route_sec":${fmt(tRoute)},""" +
      s""""route_rows_per_sec":${(n / tRoute).toLong}}"""
    Smoke.artifact("BENCH_SCALE_IMG.json", json)
    spark.stop()
    new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
  }
}
