package graft
package scale

import graft.Smoke.{time, warmMin, withTempDir}
import java.awt.image.BufferedImage
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Multimodal sources at scale over generated corpora of REAL encoded
  * payloads (PNG, TIFF, WebP, MJPEG in AVI and MP4, PDF), where every
  * derived value has an exact expectation, so throughput is measured on
  * verified-correct work. Size: items in the corpus. */
object MediaScale {

  /** An 8×8 block pattern of the 64 `bits`, rendered at w×h. */
  private def blocks(bits: Long, w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y,
        if (((bits >>> ((y * 8 / h) * 8 + (x * 8 / w))) & 1L) == 1L) 0xffffff else 0)
    img
  }

  private def encode(img: BufferedImage, format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  /** WebP lossless container of a w×h canvas, built to the RIFF/VP8L
    * byte layout (no JDK WebP encoder exists): the dims probe reads
    * exactly these header bytes. */
  private def webpLossless(w: Int, h: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(30).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(4 + 8 + 5)
      .put("WEBPVP8L".getBytes("US-ASCII")).putInt(5)
      .put(0x2f.toByte).putInt((w - 1) | ((h - 1) << 14))
    java.util.Arrays.copyOf(out.array(), out.position())
  }

  /** Perceptual image hashing and near-dup detection over `n` PNGs: n/2
    * random 64-bit block patterns at 128×64, each paired with its 64×32
    * re-render (a planted resized near-dup; distinct patterns never sit
    * within Hamming 3, so every planted pair and nothing else must be
    * found). Then header-only dims against a full decode, and a
    * PNG/TIFF/WebP corpus of id-derived dims through the dims probe and
    * the one-pass [[graft.multimodal.MediaRoute]], exact per row. */
  private def img(spark: SparkSession, n: Long): Fields = withTempDir("scale-img") { root =>
    import spark.implicits._
    val (_, tGen) = time(spark.range(n).map { id =>
      val bits = new java.util.SplittableRandom(id / 2).nextLong() | 1L
      val (w, h) = if (id % 2 == 0) (128, 64) else (64, 32)
      (id, encode(blocks(bits, w, h), "png"))
    }.toDF("media_id", "payload").write.mode("overwrite").parquet(s"$root/media"))
    val media = spark.read.parquet(s"$root/media")
    // aHash: on high-contrast blocks the cell-vs-mean bit is exactly
    // resize-stable (dHash drifts ~4 bits across a 2× resize of hard
    // block edges: recall ~0.87 here)
    val (hashed, tHash) = time {
      val h = graft.multimodal.ImageHash
        .hashImages(media, "media_id", "payload", kind = "ahash").cache()
      h.count(); h
    }
    val (pairs, tPairs) = time(graft.ops.Similarity
      .simhashPairsFromHashes(hashed.where(col("simhash").isNotNull), maxHamming = 3)
      .select("id1", "id2").as[(Long, Long)].collect())
    hashed.unpersist()
    val planted = pairs.count { case (a, b) => b == a + 1 && a % 2 == 0 }
    val knownDims = (c: String) => col(s"${c}w") === 128 && col(s"${c}h") === 64 ||
      col(s"${c}w") === 64 && col(s"${c}h") === 32
    val probe = media.select(graft.expr.ImageDims.imageDims(col("payload")).as("d"))
      .select(col("d.width").as("pw"), col("d.height").as("ph")).where(knownDims("p"))
    val decode = graft.multimodal.Multimodal.decodeImagesJdk(media)
      .select(col("decoded_w").as("dw"), col("decoded_h").as("dh")).where(knownDims("d"))
    val (tProbe, tDecode) = (warmMin(probe.count()), warmMin(decode.count()))
    // mixed formats, dims a pure function of id; the JDK writes TIFF as
    // uncompressed RGB, so TIFFs stay small (the vectorized reader
    // reserves batch-size × row-bytes)
    spark.range(n).map { id =>
      val bits = new java.util.SplittableRandom(id).nextLong() | 1L
      val cap = if (id % 3 == 1) 48 else 500
      val (w, h) = ((id % cap).toInt + 1, ((id * 7) % cap).toInt + 1)
      val payload = (id % 3) match {
        case 0 => encode(blocks(bits, w, h), "png")
        case 1 => encode(blocks(bits, w, h), "tiff")
        case _ => webpLossless(w, h)
      }
      (id, w, h, payload)
    }.toDF("media_id", "w", "h", "payload").write.mode("overwrite").parquet(s"$root/mixed")
    val mixed = spark.read.parquet(s"$root/mixed")
    val (exact, tMixed) = time(mixed.select(col("media_id"), col("w"), col("h"),
        graft.expr.ImageDims.imageDims(col("payload")).as("d"))
      .where(col("d.width") === col("w") && col("d.height") === col("h") &&
        col("d.format") === element_at(typedLit(Seq("png", "tiff", "webp")),
          (col("media_id") % 3).cast("int") + 1))
      .count())
    val (routed, tRoute) = time(graft.multimodal.MediaRoute.route(mixed, "payload")
      .groupBy(expr("substring_index(media_format, '/', 1)").as("kind"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    Fields("metric" -> "img_scale", "images" -> n, "gen_sec" -> tGen, "hash_sec" -> tHash,
      "hash_rows_per_sec" -> (n / tHash).toLong, "pairs_sec" -> tPairs,
      "planted_found" -> planted.toLong, "planted_expected" -> n / 2,
      "false_pairs" -> (pairs.length - planted).toLong,
      "dims_probe_sec" -> tProbe, "full_decode_sec" -> tDecode, "probe_speedup" -> tDecode / tProbe,
      "dims_probe_ok" -> probe.count(), "full_decode_ok" -> decode.count(),
      "mixed_formats" -> Seq("png", "tiff", "webp"), "mixed_rows" -> n, "mixed_exact" -> exact,
      "mixed_probe_sec" -> tMixed, "route_sec" -> tRoute,
      "route_rows_per_sec" -> (n / tRoute).toLong,
      "routed_image" -> routed.getOrElse("image", 0L),
      "routed_unknown" -> routed.getOrElse("unknown", 0L))
  }

  private def checkImg(f: Fields): Unit = {
    val n = f.long("images")
    require(f.long("planted_found") == f.long("planted_expected") && f.long("false_pairs") == 0,
      s"pairs: ${f("planted_found")} of ${f("planted_expected")} planted, ${f("false_pairs")} false")
    require(f.long("dims_probe_ok") == n && f.long("full_decode_ok") == n,
      s"dims disagree: probe ${f("dims_probe_ok")} decode ${f("full_decode_ok")} of $n")
    require(f.long("mixed_exact") == n, s"mixed-format dims: ${f("mixed_exact")} of $n exact")
    require(f.long("routed_image") == n && f.long("routed_unknown") == 0,
      s"router: ${f("routed_image")} images, ${f("routed_unknown")} unknown of $n")
  }

  /** Container demux + real MJPEG frame decode over `n` videos of 8
    * 64×48 block-pattern frames, half MJPEG-AVI and half MJPEG-in-MP4:
    * every video's container, codec, dims and frame count, and 4
    * decoded lumas per video, are checked. */
  private def video(spark: SparkSession, n: Long): Fields = withTempDir("scale-video") { root =>
    import spark.implicits._
    val (frames, sampleFrames) = (8, 4)
    val (_, tGen) = time(spark.range(n).map { id =>
      val rnd = new java.util.SplittableRandom(id)
      val imgs = (0 until frames).map(_ => blocks(rnd.nextLong() | 1L, 64, 48))
      (id, if (id % 2 == 0) graft.multimodal.MjpegAvi.write(imgs, fps = 10)
        else graft.multimodal.MjpegMp4.write(imgs, fps = 10))
    }.toDF("media_id", "payload").write.mode("overwrite").parquet(s"$root/videos"))
    def decodePass() = graft.multimodal.Multimodal
      .decodeVideo(spark.read.parquet(s"$root/videos"), sampleFrames)
      .agg(
        sum(when((col("container") === "avi" && col("codec") === "MJPG" ||
          col("container") === "mp4" && col("codec") === "jpeg") &&
          col("video_w") === 64 && col("video_h") === 48 && col("n_frames") === frames, 1L)
          .otherwise(0L)),
        sum(when(size(col("frame_lumas")) === sampleFrames, 1L).otherwise(0L)),
        count(lit(1)))
      .head()
    decodePass() // warm-up: codegen, ImageIO plugin init
    val (out, tDecode) = time(decodePass())
    Fields("metric" -> "video_scale", "videos" -> n, "frames_per_video" -> frames,
      "gen_sec" -> tGen, "decode_sec" -> tDecode, "videos_per_sec" -> (n / tDecode).toLong,
      "decoded_frames_per_sec" -> (n * sampleFrames / tDecode).toLong,
      "ok_meta" -> out.getLong(0), "ok_lumas" -> out.getLong(1), "total" -> out.getLong(2))
  }

  private def checkVideo(f: Fields): Unit =
    require(Seq("ok_meta", "ok_lumas", "total").forall(f.long(_) == f.long("videos")),
      s"of ${f("videos")} videos: ${f("total")} decoded, ${f("ok_meta")} with exact metadata, " +
        s"${f("ok_lumas")} with all lumas")

  private def words(id: Long): IndexedSeq[String] =
    (0 until 8).map(k => java.lang.Long.toHexString(id * 31 + k * 7 + 11))

  private def latin1(s: String): Array[Byte] = s.getBytes("ISO-8859-1")

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](raw.length * 2 + 64)
    val k = d.deflate(buf); d.end()
    java.util.Arrays.copyOf(buf, k)
  }

  private def hexOf(s: String): String = latin1(s).map(b => f"${b & 0xff}%02X").mkString

  /** Catalog + pages + ONE page object + a flate content stream. */
  private def wrapFlate(content: String): Array[Byte] = {
    val body = deflate(latin1(content))
    latin1("%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n" +
      s"4 0 obj << /Length ${body.length} /Filter /FlateDecode >> stream\n") ++ body ++
      latin1("\nendstream endobj\ntrailer << /Size 5 /Root 1 0 R >>\nstartxref\n0\n%%EOF\n")
  }

  /** PDF 1.5+: the pages/page dicts live INSIDE a /Type /ObjStm flate
    * stream (invisible to a raw token scan); the text rides a plain stream. */
  private def objStmPdf(id: Long): Array[Byte] = {
    val body = deflate(latin1("3 0 <</Type /Pages /Kids [4 0 R 5 0 R] /Count 2>> " +
      "4 0 <</Type /Page /Parent 3 0 R>> 5 0 <</Type /Page /Parent 3 0 R>>"))
    val content = s"BT (doc $id:) Tj (${words(id)(0)}) Tj ET"
    latin1("%PDF-1.5\n2 0 obj << /Type /ObjStm /N 3 /First 10 /Filter /FlateDecode " +
      s"/Length ${body.length} >> stream\n") ++ body ++
      latin1(s"\nendstream endobj\n6 0 obj << /Length ${content.length} >> stream\n" +
        s"$content\nendstream endobj\n%%EOF\n")
  }

  /** The PDF of `id` by family (id mod 10): 0-5 flate streams with the
    * text split across Tj and TJ; 6 a benign /Encrypt MENTION inside a
    * content literal (must parse unencrypted); 7 hex strings through
    * the Latin-1 path; 8 an object stream holding 2 pages; 9 junk. */
  private def pdf(id: Long): Array[Byte] = {
    val ws = words(id)
    (id % 10) match {
      case 9 => s"junk payload $id".getBytes("UTF-8")
      case 8 => objStmPdf(id)
      case 7 =>
        wrapFlate(s"BT (doc $id:) Tj <${hexOf(ws(0))}> Tj (${ws(1)}) Tj <${hexOf(ws(2))}> Tj ET")
      case 6 => wrapFlate(s"BT (doc $id: mentions /Encrypt here) Tj (${ws(0)}) Tj ET")
      case _ => wrapFlate(s"BT /F1 12 Tf 72 720 Td (doc $id:) Tj " +
        ws.take(4).map(w => s"($w) Tj").mkString(" ") +
        " [" + ws.drop(4).map(w => s"($w) -120").mkString(" ") + "] TJ ET")
    }
  }

  private def expectedText(id: Long): String = {
    val ws = words(id)
    (id % 10) match {
      case 6 => s"doc $id: mentions /Encrypt here ${ws(0)}"
      case 7 => s"doc $id: ${ws(0)} ${ws(1)} ${ws(2)}"
      case 8 => s"doc $id: ${ws(0)}"
      case _ => s"doc $id: " + ws.take(4).mkString(" ") + " " + ws.drop(4).mkString("")
    }
  }

  private def expectedPages(id: Long): Int = if (id % 10 == 8) 2 else 1

  /** [[graft.sources.Pdf.extractAll]] over `n` generated PDFs in a
    * parquet binary column (the WARC-payload path): every parsed row's
    * text, page count and encrypted flag exact, junk rows isolated. */
  private def pdfs(spark: SparkSession, n: Long): Fields = withTempDir("scale-pdf") { root =>
    import spark.implicits._
    spark.range(n).map(id => (s"doc-$id.pdf", id, pdf(id))).toDF("path", "id", "payload")
      .write.mode("overwrite").parquet(s"$root/pdfs")
    val docs = spark.read.parquet(s"$root/pdfs")
    val ((ok, corrupt), sec) = time {
      val parsed = graft.sources.Pdf.extractAll(docs, "path", "payload")
      (parsed.where(!col("_corrupt")).count(), parsed.where(col("_corrupt")).count())
    }
    val (exact, exactSec) = time(graft.sources.Pdf.extractAll(docs, "path", "payload")
      .where(!col("_corrupt"))
      .select(regexp_extract(col("path"), "doc-(\\d+)", 1).cast("long").as("id"), col("text"),
        col("n_pages"), col("encrypted"))
      .as[(Long, String, Int, Boolean)]
      .filter { case (id, text, pages, enc) =>
        text == expectedText(id) && pages == expectedPages(id) && !enc }
      .count())
    def family(d: Long) = n / 10 + (if (n % 10 > d) 1L else 0L)
    Fields("metric" -> "pdf_scale", "docs" -> n, "corrupt_planted" -> family(9),
      "objstm_docs" -> family(8), "hex_docs" -> family(7), "enc_mention_docs" -> family(6),
      "parsed_ok" -> ok, "corrupt_isolated" -> corrupt, "text_pages_enc_exact" -> exact,
      "parse_sec" -> sec,
      "docs_per_sec" -> (ok / sec).toLong, "exact_check_sec" -> exactSec)
  }

  private def checkPdfs(f: Fields): Unit = {
    val want = f.long("docs") - f.long("corrupt_planted")
    require(f.long("parsed_ok") == want && f.long("corrupt_isolated") == f.long("corrupt_planted"),
      s"parsed ${f("parsed_ok")}, corrupt ${f("corrupt_isolated")} of ${f("docs")}")
    require(f.long("text_pages_enc_exact") == want, s"${f("text_pages_enc_exact")} of $want exact")
  }

  val all: Seq[ScaleCase] = Seq(
    ScaleCase("img", "BENCH_SCALE_IMG.json", 50000L, img, checkImg),
    ScaleCase("pdf", "BENCH_SCALE_PDF.json", 50000L, pdfs, checkPdfs),
    ScaleCase("video", "BENCH_SCALE_VIDEO.json", 5000L, video, checkVideo))
}
