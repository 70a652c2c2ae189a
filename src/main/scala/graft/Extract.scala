package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.pdf._
import graft.pdf.{Deadline, PdfTimeout}
import graft.html.HtmlExtract

/** One extracted span: page index + [start,end) byte offsets into textBytes. */
final case class Span(page: Int, start: Long, end: Long)

/** Kernel output for one document.
  *
  *  - textBytes carries the EXACT extracted bytes (the byte-identity unit of
  *    the north rule); `text` is its UTF-8 (lossy) string view for the Spark
  *    string column.
  *  - status: ok | error | empty | skipped_oversize | timeout
  *  - error: message for status=error (text still holds the partial output).
  */
final case class ExtractResult(
    textBytes: Array[Byte],
    spans: Seq[Span],
    status: String,
    error: String) {
  def text: String = new String(textBytes, UTF_8)
}

/** Top-level per-document extraction: payload dispatch (PDF magic vs HTML),
  * page loop with per-page extraction, span accounting, failure isolation.
  * Pure function Array[Byte] -> ExtractResult; executed per row inside
  * Dataset.mapPartitions. Never throws.
  */
object Extract {

  /** Documents larger than this are skipped (skew guard; recorded in
    * lineage, never silently dropped).
    */
  val DefaultMaxBytesPerDoc: Int = 64 << 20

  /** Per-document wall-clock budget (skew guard, SURVEY §4.3): pathological
    * documents become status=timeout rows instead of stragglers.
    */
  val DefaultTimeoutMs: Long = 30000L

  def apply(payload: Array[Byte], maxBytesPerDoc: Int = DefaultMaxBytesPerDoc,
            timeoutMs: Long = DefaultTimeoutMs): ExtractResult =
    guarded(payload, maxBytesPerDoc, timeoutMs, failedResult) {
      if (isPdf(payload)) extractPdf(payload)
      else extractHtml(payload)
    }

  private val failedResult: (String, String) => ExtractResult =
    (status, msg) => ExtractResult(Array.emptyByteArray, Nil, status, msg)

  /** The per-document guard of every kernel path (text and image
    * extraction): empty and oversize payloads short-circuit, `body` runs
    * under the per-document Deadline (always cleared), and any failure
    * becomes `failed(status, message)`. Statuses: empty | skipped_oversize
    * | timeout | error.
    */
  private[graft] def guarded[T](payload: Array[Byte], maxBytesPerDoc: Int, timeoutMs: Long,
                                failed: (String, String) => T)(body: => T): T =
    try {
      if (payload == null || payload.length == 0) failed("empty", "")
      else if (payload.length > maxBytesPerDoc) failed("skipped_oversize", "")
      else {
        if (timeoutMs > 0) Deadline.set(System.nanoTime() + timeoutMs * 1000000L)
        try body finally Deadline.clear()
      }
    } catch {
      case _: PdfTimeout => failed("timeout", "per-document time budget exceeded")
      case ie: InterruptedException =>
        // Task cancellation (Spark kills speculative/cancelled tasks via
        // interrupt) must propagate, not become a data row.
        Thread.currentThread().interrupt()
        throw ie
      case fatal: OutOfMemoryError =>
        throw fatal // the heap is unreliable now: fail the task, don't mask
        // (StackOverflowError stays a clean error row: the stack has fully
        // unwound and the depth caps make it a document property, not a VM
        // corruption)
      case e: Throwable => // absolute backstop: a kernel bug must not fail the task
        failed("error", safeMsg(e))
    }

  def isPdf(payload: Array[Byte]): Boolean =
    payload.length >= 5 &&
      payload(0) == '%' && payload(1) == 'P' && payload(2) == 'D' &&
      payload(3) == 'F' && payload(4) == '-'

  /** PDF branch: open -> page list -> per-page golden extraction. Pages are
    * joined with "\n"; spans record each page's [start,end) in textBytes.
    * Any page-level error aborts with the partial text accumulated so far
    * (matching the reference's ExtractText error contract).
    */
  def extractPdf(payload: Array[Byte]): ExtractResult = {
    val doc =
      try PdfDocument.open(payload)
      catch {
        case t: PdfTimeout => throw t // handled at the top level -> status=timeout
        case e: Exception  => return ExtractResult(Array.emptyByteArray, Nil, "error", safeMsg(e))
      }
    val pages = doc.pages
    if (pages.length == 1) {
      // Single-page fast path (the common crawl case): the page's bytes ARE
      // the document bytes — skip the two full-buffer copies (BAOS write +
      // toByteArray) the page loop pays. Output identical: span [0, len) on
      // page 0, error contract unchanged (partial text + error row).
      val pe = extractPage(doc, pages.head)
      return pdfResult(pe.bytes, Seq(Span(0, 0L, pe.bytes.length.toLong)), pe.error)
    }
    val buf = new java.io.ByteArrayOutputStream()
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    var error: Option[String] = None
    var pageIdx = 0
    val it = pages.iterator
    while (error.isEmpty && it.hasNext) {
      if (pageIdx > 0) buf.write('\n')
      val start = buf.size().toLong
      val pe = extractPage(doc, it.next())
      buf.write(pe.bytes)
      spans += Span(pageIdx, start, buf.size().toLong)
      error = pe.error
      pageIdx += 1
    }
    pdfResult(buf.toByteArray, spans.toSeq, error)
  }

  /** One page's golden extraction under the per-page error contract: any
    * failure becomes the page's error (empty page text); a timeout
    * propagates to the top level (status=timeout).
    */
  private def extractPage(doc: PdfDocument, page: PdfPage): PageExtract =
    try TextExtractor.extractText(doc.allContentStreams(page), page.resources)
    catch {
      case t: PdfTimeout => throw t
      case e: Exception  => PageExtract(Array.emptyByteArray, Some(safeMsg(e)))
    }

  private def pdfResult(bytes: Array[Byte], spans: Seq[Span], error: Option[String]): ExtractResult =
    error match {
      case Some(msg) => ExtractResult(bytes, spans, "error", msg)
      case None      => ExtractResult(bytes, spans, "ok", "")
    }

  /** HTML branch: boilerplate strip; one span per kept block. */
  def extractHtml(payload: Array[Byte]): ExtractResult = {
    val res = HtmlExtract.extract(payload)
    // Output bytes assembled directly from the parts (title, then blocks,
    // joined by '\n') — the res.text mkString built a full intermediate
    // String only to be encoded once and discarded. Per-part UTF-8 equals
    // whole-string UTF-8 here: the '\n' join char cannot complete a
    // surrogate pair, and a lone surrogate encodes to '?' either way.
    val bytes: Array[Byte] = {
      val title = res.title
      val blocks = res.blocks
      val nParts = (if (title.nonEmpty) 1 else 0) + blocks.length
      if (nParts == 0) Array.emptyByteArray
      else {
        val enc = new Array[Array[Byte]](nParts)
        var j = 0
        if (title.nonEmpty) { enc(0) = title.getBytes(UTF_8); j = 1 }
        for (b <- blocks) { enc(j) = b.getBytes(UTF_8); j += 1 }
        var total = nParts - 1 // the joining '\n' bytes
        var i = 0
        while (i < nParts) { total += enc(i).length; i += 1 }
        val out = new Array[Byte](total)
        var off = 0
        i = 0
        while (i < nParts) {
          if (i > 0) { out(off) = '\n'; off += 1 }
          System.arraycopy(enc(i), 0, out, off, enc(i).length)
          off += enc(i).length
          i += 1
        }
        out
      }
    }
    // Span per output line (title counts as line 0 when present). Line
    // boundaries are found on the ENCODED bytes: UTF-8 never embeds 0x0A
    // inside a multi-byte sequence, so segments between '\n' bytes are
    // exactly the per-line byte lengths the old split + re-encode computed
    // (split("\n", -1) semantics: n newlines -> n+1 segments, trailing
    // empties kept).
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    if (bytes.length > 0) {
      var idx = 0
      var start = 0
      var i = 0
      while (i <= bytes.length) {
        if (i == bytes.length || bytes(i) == '\n') {
          spans += Span(idx, start.toLong, i.toLong)
          idx += 1
          start = i + 1
        }
        i += 1
      }
    }
    ExtractResult(bytes, spans.toSeq, "ok", "")
  }

  private def safeMsg(e: Throwable): String = {
    val m = e.getMessage
    val base = if (m == null || m.isEmpty) e.getClass.getSimpleName else m
    if (base.length > 500) base.substring(0, 500) else base
  }
}
