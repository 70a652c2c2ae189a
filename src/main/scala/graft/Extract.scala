package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import graft.pdf._
import graft.pdf.{Deadline, PdfTimeout}
import graft.html.HtmlExtract

/** One extracted span: page index + [start,end) byte offsets into textBytes. */
final case class Span(page: Int, start: Long, end: Long)

/** Kernel output for one document.
  *
  *  - textBytes carries the EXACT extracted bytes (the byte-identity unit of
  *    the north rule); `text` is their lossy UTF-8 string view,
  *    `Extract.textOf`.
  *  - status: ok | error | empty | skipped_oversize | timeout
  *  - error: message for status=error (text still holds the partial output).
  */
final case class ExtractResult(
    textBytes: Array[Byte],
    spans: Seq[Span],
    status: String,
    error: String) {
  def text: String = Extract.textOf(textBytes)
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

  /** The string view of extracted bytes: Java's lossy UTF-8 decode. Spark's
    * `cast` and `make_valid_utf8` replace invalid sequences differently, so
    * the kernel, `extract_text` and the table's derived `text` column
    * (`TableIO.readData`) all decode through this one function.
    */
  def textOf(textBytes: Array[Byte]): String = new String(textBytes, UTF_8)

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

  /** PDF branch: open -> page list -> per-page golden extraction, one line
    * per page. Any page-level error aborts with the partial text up to and
    * including that page (matching the reference's ExtractText error
    * contract).
    */
  private def extractPdf(payload: Array[Byte]): ExtractResult = {
    val doc = PdfDocument.open(payload)
    val pages = mutable.ArrayBuffer.empty[Array[Byte]]
    var error: Option[String] = None
    val it = doc.pages.iterator
    while (error.isEmpty && it.hasNext) {
      val pe = extractPage(doc, it.next())
      pages += pe.bytes
      error = pe.error
    }
    joinLines(pages, error)
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

  /** HTML branch: boilerplate strip; the title (if any), then one line per
    * kept block. Neither holds a '\n' (block text turns it into a space, the
    * title collapse splits on it), so each part is exactly one line. Per-part
    * UTF-8 equals whole-text UTF-8: the '\n' join char cannot complete a
    * surrogate pair, and a lone surrogate encodes to '?' either way.
    */
  private def extractHtml(payload: Array[Byte]): ExtractResult = {
    val res = HtmlExtract.extract(payload)
    val lines = if (res.title.nonEmpty) res.title +: res.blocks else res.blocks
    joinLines(lines.iterator.map(_.getBytes(UTF_8)).toIndexedSeq, None)
  }

  /** The one line join of both branches: `parts` joined with '\n', one
    * Span(i, start, end) per part, status error if `error` is set. A single
    * part is the output itself, uncopied.
    */
  private def joinLines(parts: collection.IndexedSeq[Array[Byte]], error: Option[String]): ExtractResult = {
    val bytes =
      if (parts.length == 1) parts(0)
      else new Array[Byte](math.max(0, parts.length - 1) + parts.iterator.map(_.length).sum)
    val spans = List.newBuilder[Span]
    var off = 0
    for (i <- parts.indices) {
      if (i > 0) { bytes(off) = '\n'; off += 1 }
      val p = parts(i)
      if (p ne bytes) System.arraycopy(p, 0, bytes, off, p.length)
      spans += Span(i, off.toLong, (off + p.length).toLong)
      off += p.length
    }
    ExtractResult(bytes, spans.result(), if (error.isEmpty) "ok" else "error", error.getOrElse(""))
  }

  private def safeMsg(e: Throwable): String = {
    val m = e.getMessage
    val base = if (m == null || m.isEmpty) e.getClass.getSimpleName else m
    if (base.length > 500) base.substring(0, 500) else base
  }
}
