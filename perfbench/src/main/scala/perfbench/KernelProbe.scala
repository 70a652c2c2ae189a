package perfbench

import scala.collection.mutable

import graft.Extract
import graft.html.HtmlExtract
import graft.pdf.{ContentParser, PdfDocument, PdfFileParser, TextExtractor}

/** Single-thread timing of the kernel's layers, called from outside through
  * their public entry points, over a sample of one workload's payloads.
  *
  * Each document is timed `reps` times after a warm-up pass and the fastest
  * repetition of each call is kept. The calls follow `Extract.extractPdf`'s
  * order on one freshly opened document (open, then per page decode and text
  * extraction), so caches are in the state the kernel sees. Self times are
  * differences on the same payload:
  *   model   = PdfDocument.open - PdfFileParser.load
  *   textops = TextExtractor.extractText - ContentParser.parse
  *   glue    = Extract.apply - (open + decode + extractText), or - HtmlExtract
  */
object KernelProbe {

  /** Per-document microseconds of each layer (NaN where it does not run). */
  final class DocTimes(val extract: Double, val xref: Double, val model: Double,
                       val decode: Double, val lex: Double, val textops: Double,
                       val html: Double, val glue: Double)

  final case class Result(
      docs: Seq[DocTimes],
      pdfDocs: Int,
      pages: Long,
      contentOps: Long,
      decodedBytes: Long,
      okDocs: Int,
      spans: Seq[Span])

  /** A traced call: document `doc`, layer name, offsets from the probe start. */
  final case class Span(doc: Int, name: String, startNs: Long, endNs: Long)

  val Layers: Seq[(String, DocTimes => Double)] = Seq(
    "extract.us" -> (_.extract),
    "pdf.xref.us" -> (_.xref),
    "pdf.model.us" -> (_.model),
    "pdf.decode.us" -> (_.decode),
    "pdf.lex.us" -> (_.lex),
    "pdf.textops.us" -> (_.textops),
    "html.us" -> (_.html),
    "extract.glue.us" -> (_.glue))

  private final class Clock(origin: Long, doc: Int, spans: mutable.ArrayBuffer[Span] /* null = off */) {
    def apply[T](name: String)(f: => T): (T, Long) = {
      val t0 = System.nanoTime()
      val v = f
      val t1 = System.nanoTime()
      if (spans != null) spans += Span(doc, name, t0 - origin, t1 - origin)
      (v, t1 - t0)
    }
  }

  /** Layer nanoseconds of one pass over one payload, in `Layers` order
    * before the differences are taken: extract, xref, open, decode, lex,
    * extractText, html.
    */
  private def pass(p: Array[Byte], clock: Clock, counts: Array[Long]): Array[Long] = {
    val t = new Array[Long](7)
    t(0) = clock("Extract.apply")(Extract(p))._2
    if (Extract.isPdf(p)) {
      t(1) =
        try clock("PdfFileParser.load")(new PdfFileParser(p).load())._2
        catch { case _: Exception => 0L }
      val (doc, tOpen) =
        try clock("PdfDocument.open")(Option(PdfDocument.open(p)))
        catch { case _: Exception => (None, 0L) }
      t(2) = tOpen
      doc.foreach { d =>
        counts(0) += d.pages.length
        for (page <- d.pages) {
          val (content, tDec) =
            try clock("allContentStreams")(d.allContentStreams(page))
            catch { case _: Exception => (Array.emptyByteArray, 0L) }
          t(3) += tDec
          counts(2) += content.length
          t(5) +=
            (try clock("TextExtractor.extractText")(TextExtractor.extractText(content, page.resources))._2
            catch { case _: Exception => 0L })
          val (ops, tLex) =
            try clock("ContentParser.parse")(new ContentParser(content).parse().length)
            catch { case _: Exception => (0, 0L) }
          t(4) += tLex
          counts(1) += ops
        }
      }
    } else t(6) = clock("HtmlExtract.extract")(HtmlExtract.extract(p))._2
    t
  }

  def run(payloads: IndexedSeq[Array[Byte]], reps: Int, traced: Boolean): Result = {
    val scratch = new Array[Long](3)
    val off = new Clock(0L, 0, null)
    for (_ <- 0 until 2; p <- payloads) pass(p, off, scratch)

    val origin = System.nanoTime()
    val spans = mutable.ArrayBuffer.empty[Span]
    val counts = new Array[Long](3)
    var pdfDocs = 0
    var okDocs = 0
    val docs = payloads.indices.map { i =>
      val p = payloads(i)
      val best = Array.fill(7)(Long.MaxValue)
      for (r <- 0 until reps) {
        val clock = new Clock(origin, i, if (traced && r == reps - 1) spans else null)
        val t = pass(p, clock, if (r == 0) counts else scratch)
        for (k <- 0 until 7) best(k) = math.min(best(k), t(k))
      }
      if (Extract(p).status == "ok") okDocs += 1
      val us = best.map(_ / 1e3)
      if (Extract.isPdf(p)) {
        pdfDocs += 1
        new DocTimes(us(0), us(1), us(2) - us(1), us(3), us(4), us(5) - us(4), Double.NaN,
          us(0) - (us(2) + us(3) + us(5)))
      } else
        new DocTimes(us(0), Double.NaN, Double.NaN, Double.NaN, Double.NaN, Double.NaN, us(6),
          us(0) - us(6))
    }
    Result(docs, pdfDocs, counts(0), counts(1), counts(2), okDocs, spans.toSeq)
  }
}
