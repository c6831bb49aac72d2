package graft

import org.apache.spark.sql.functions._
import graft.Smoke.{fmt3 => fmt}

/** PDF-source scale smoke: N generated PDFs parsed by
  * [[graft.sources.Pdf.extractAll]] over a parquet-backed binary
  * column (the WARC-payload path). The corpus mixes the walker's
  * distinct code paths BY FAMILY (id mod 10), and every check is
  * EXACT per row — throughput is measured on verified-correct work:
  *   - 0-5: FlateDecode content streams (the common real-generator
  *     shape), id-derived sentence split across Tj and TJ operators;
  *   - 6: benign /Encrypt MENTION inside a content literal — must
  *     parse unencrypted with exact text (the r13 false-positive
  *     class, r14 spec-located probe);
  *   - 7: hex-string text (`<...> Tj`) decoding through the Latin-1
  *     path (r14) alongside literal strings;
  *   - 8: PDF 1.5+ /Type /ObjStm — page dicts INSIDE a compressed
  *     object stream (r14 decode path), exact page count 2;
  *   - 9: corrupt junk payloads proving per-row isolation.
  * One JSON line → BENCH_SCALE_PDF.json. */
object PdfScaleSmoke {

  private def words(id: Long): IndexedSeq[String] =
    (0 until 8).map(k => java.lang.Long.toHexString(id * 31 + k * 7 + 11))

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](raw.length * 2 + 64)
    val k = d.deflate(buf); d.end()
    java.util.Arrays.copyOf(buf, k)
  }

  private def hexOf(s: String): String =
    s.getBytes("ISO-8859-1").map(b => f"${b & 0xff}%02X").mkString

  /** Standard wrapper: catalog + pages + ONE page object + a flate
    * content stream. */
  private def wrapFlate(content: String): Array[Byte] = {
    val body = deflate(content.getBytes("ISO-8859-1"))
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    w(s"4 0 obj << /Length ${body.length} /Filter /FlateDecode >> stream\n")
    out.write(body)
    w("\nendstream endobj\n")
    w("trailer << /Size 5 /Root 1 0 R >>\nstartxref\n0\n%%EOF\n")
    out.toByteArray
  }

  private def genPdf(id: Long): Array[Byte] = {
    val ws = words(id)
    wrapFlate(s"BT /F1 12 Tf 72 720 Td (doc $id:) Tj " +
      ws.take(4).map(w => s"($w) Tj").mkString(" ") +
      " [" + ws.drop(4).map(w => s"($w) -120").mkString(" ") + "] TJ ET")
  }

  private def genEncMentionPdf(id: Long): Array[Byte] = {
    val ws = words(id)
    wrapFlate(s"BT (doc $id: mentions /Encrypt here) Tj (${ws(0)}) Tj ET")
  }

  private def genHexPdf(id: Long): Array[Byte] = {
    val ws = words(id)
    wrapFlate(s"BT (doc $id:) Tj <${hexOf(ws(0))}> Tj (${ws(1)}) Tj " +
      s"<${hexOf(ws(2))}> Tj ET")
  }

  /** PDF 1.5+ shape: the pages/page dicts live INSIDE a /Type /ObjStm
    * FlateDecode stream (invisible to a raw token scan); the text
    * rides a separate plain stream. */
  private def genObjStmPdf(id: Long): Array[Byte] = {
    val inner = "3 0 <</Type /Pages /Kids [4 0 R 5 0 R] /Count 2>> " +
      "4 0 <</Type /Page /Parent 3 0 R>> 5 0 <</Type /Page /Parent 3 0 R>>"
    val body = deflate(inner.getBytes("ISO-8859-1"))
    val ws = words(id)
    val content = s"BT (doc $id:) Tj (${ws(0)}) Tj ET"
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.5\n")
    w(s"2 0 obj << /Type /ObjStm /N 3 /First 10 /Filter /FlateDecode " +
      s"/Length ${body.length} >> stream\n")
    out.write(body)
    w("\nendstream endobj\n")
    w(s"6 0 obj << /Length ${content.length} >> stream\n$content\nendstream endobj\n")
    w("%%EOF\n")
    out.toByteArray
  }

  private[graft] def expectedText(id: Long): String = {
    val ws = words(id)
    (id % 10) match {
      case 6 => s"doc $id: mentions /Encrypt here ${ws(0)}"
      case 7 => s"doc $id: ${ws(0)} ${ws(1)} ${ws(2)}"
      case 8 => s"doc $id: ${ws(0)}"
      case _ => s"doc $id: " + ws.take(4).mkString(" ") + " " + ws.drop(4).mkString("")
    }
  }

  private[graft] def expectedPages(id: Long): Int =
    if (id % 10 == 8) 2 else 1

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 20000L
    val spark = GraftSession.local(GraftSession.defaultCores, "graft-pdf-smoke")
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("pdf-scale").toString
    spark.range(n).map { id =>
      val payload = (id % 10) match {
        case 9 => s"junk payload $id".getBytes("UTF-8") // corrupt 10%
        case 8 => genObjStmPdf(id)
        case 7 => genHexPdf(id)
        case 6 => genEncMentionPdf(id)
        case _ => genPdf(id)
      }
      (s"doc-$id.pdf", id, payload)
    }.toDF("path", "id", "payload")
      .write.mode("overwrite").parquet(s"$root/pdfs")
    val pdfs = spark.read.parquet(s"$root/pdfs")
    val t0 = System.nanoTime()
    val parsed = graft.sources.Pdf.extractAll(pdfs, "path", "payload")
    val okCount = parsed.where(!col("_corrupt")).count()
    val corruptCount = parsed.where(col("_corrupt")).count()
    val sec = (System.nanoTime() - t0) / 1e9
    // exact per-row check: text, page count, and the encrypted flag
    // (family 6 mentions /Encrypt and must NOT flag)
    val t1 = System.nanoTime()
    val exact = graft.sources.Pdf.extractAll(pdfs, "path", "payload")
      .where(!col("_corrupt"))
      .select(regexp_extract(col("path"), "doc-(\\d+)", 1)
        .cast("long").as("id"), col("text"), col("n_pages"), col("encrypted"))
      .as[(Long, String, Int, Boolean)]
      .filter { case (id, text, pages, enc) =>
        text == expectedText(id) && pages == expectedPages(id) && !enc }
      .count()
    val exactSec = (System.nanoTime() - t1) / 1e9
    val expectOk = n - (n + 0) / 10 // ids ending in 9
    require(okCount == expectOk && corruptCount == n - expectOk,
      s"ok $okCount corrupt $corruptCount of $n")
    require(exact == expectOk, s"exact $exact != $expectOk")
    def famCount(d: Long) = n / 10 + (if (n % 10 > d) 1L else 0L)
    val fam = famCount(8) // ids ending in 6/7/8 each (equal when 10 | n)
    val json = s"""{"metric":"pdf_scale","docs":$n,"corrupt_planted":${n - expectOk},""" +
      s""""objstm_docs":$fam,"hex_docs":$fam,"enc_mention_docs":$fam,""" +
      s""""parsed_ok":$okCount,"corrupt_isolated":$corruptCount,""" +
      s""""text_pages_enc_exact":$exact,"parse_sec":${fmt(sec)},""" +
      s""""docs_per_sec":${(okCount / sec).toLong},""" +
      s""""exact_check_sec":${fmt(exactSec)}}"""
    Smoke.artifact("BENCH_SCALE_PDF.json", json)
    spark.stop()
    new scala.reflect.io.Directory(new java.io.File(root)).deleteRecursively()
  }
}
