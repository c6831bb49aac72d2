package graft

import org.apache.spark.sql.functions._
import graft.Smoke.{fmt3 => fmt}

/** Video scale smoke: container demux + real MJPEG frame decode
  * measured on a generated corpus of REAL MJPEG-AVI payloads — the
  * evidence that the VideoCodec path (RIFF walk → frame index →
  * per-frame ImageIO decode → luma features) runs at corpus scale,
  * not just on the spec's fixtures. One JSON line →
  * BENCH_SCALE_VIDEO.json.
  *
  * Corpus: n deterministic videos of `frames` 64×48 frames each, every
  * frame a distinct 8×8 block pattern (same renderer family as
  * ImgScaleSmoke), MJPEG-encoded by [[graft.multimodal.MjpegAvi]].
  * Every derived value has an exact expectation: container "avi",
  * fourcc MJPG, dimensions 64×48, frame count = `frames`, and
  * `sampleFrameCount` decoded lumas per video — counted, so the
  * throughput number can't be bought with silent decode failures.
  */
object VideoScaleSmoke {

  private def renderFrame(bits: Long, w: Int, h: Int): java.awt.image.BufferedImage = {
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
    img
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 5000L
    val frames = if (args.length > 1) args(1).toInt else 8
    val spark = GraftSession.local(GraftSession.defaultCores, "graft-video-smoke")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("video-scale").toString
    // generation (JPEG encode + AVI mux) is corpus setup, excluded
    // from the decode timing
    val t0 = System.nanoTime()
    // half MJPEG-AVI, half MJPEG-in-MP4: both containers' demux +
    // frame-decode paths measured in one pass (MP4 sample addressing
    // is stco x stsc x stsz since r11)
    spark.range(n).map { id =>
      val rnd = new java.util.SplittableRandom(id)
      val imgs = (0 until frames).map(_ => renderFrame(rnd.nextLong() | 1L, 64, 48))
      val payload = if (id % 2 == 0) graft.multimodal.MjpegAvi.write(imgs, fps = 10)
        else graft.multimodal.MjpegMp4.write(imgs, fps = 10)
      (id, payload)
    }.toDF("media_id", "payload")
      .write.mode("overwrite").parquet(s"$root/videos")
    val tGen = (System.nanoTime() - t0) / 1e9

    val videos = spark.read.parquet(s"$root/videos")
    val sampleFrames = 4
    def decodePass(): (Long, Long, Long) = {
      val out = graft.multimodal.Multimodal.decodeVideo(videos, sampleFrames)
        .agg(
          sum(when((col("container") === "avi" && col("codec") === "MJPG" ||
            col("container") === "mp4" && col("codec") === "jpeg") &&
            col("video_w") === 64 && col("video_h") === 48 &&
            col("n_frames") === frames, 1L).otherwise(0L)).as("ok_meta"),
          sum(when(size(col("frame_lumas")) === sampleFrames, 1L).otherwise(0L))
            .as("ok_lumas"),
          count(lit(1)).as("total"))
        .head()
      (out.getLong(0), out.getLong(1), out.getLong(2))
    }
    decodePass() // warm: codegen + ImageIO plugin init
    val t1 = System.nanoTime()
    val (okMeta, okLumas, total) = decodePass()
    val tDecode = (System.nanoTime() - t1) / 1e9

    val json =
      s"""{"metric":"video_scale","videos":$n,"frames_per_video":$frames,""" +
      s""""gen_sec":${fmt(tGen)},"decode_sec":${fmt(tDecode)},""" +
      s""""videos_per_sec":${(n / tDecode).toLong},""" +
      s""""decoded_frames_per_sec":${(n * sampleFrames / tDecode).toLong},""" +
      s""""ok_meta":$okMeta,"ok_lumas":$okLumas,"total":$total}"""
    Smoke.artifact("BENCH_SCALE_VIDEO.json", json)
    spark.stop()
    new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
    ()
  }
}
