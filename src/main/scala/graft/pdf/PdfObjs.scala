package graft.pdf

import scala.collection.mutable

/** PDF object algebra — the 10 primitive types of the PDF object layer.
  *
  * Semantics follow the reference object model (unidoc pdf/core/primitives.go:16-69):
  *  - strings are RAW BYTE strings (never decoded),
  *  - dictionaries preserve insertion order of keys,
  *  - indirect objects / streams are numbered containers.
  *
  * This ADT lives entirely inside the extraction kernel: it is constructed and
  * consumed within a single Spark task (one document at a time) and is never
  * serialized or exposed as a Spark schema.
  */
sealed trait PdfObj

final case class PdfBool(value: Boolean) extends PdfObj
final case class PdfInt(value: Long) extends PdfObj
final case class PdfReal(value: Double) extends PdfObj

/** Raw byte string. MUST NOT be converted to a JVM String: byte identity of
  * extracted text depends on it (reference: pdf/core/primitives.go:35).
  */
final class PdfStr(val bytes: Array[Byte]) extends PdfObj {
  override def equals(o: Any): Boolean = o match {
    case s: PdfStr => java.util.Arrays.equals(bytes, s.bytes)
    case _         => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(bytes)
  override def toString: String = s"PdfStr(${new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)})"
}
object PdfStr {
  def apply(bytes: Array[Byte]): PdfStr = new PdfStr(bytes)
  def ascii(s: String): PdfStr = new PdfStr(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
}

final case class PdfName(name: String) extends PdfObj

/** Heterogeneous array; mutable because reference resolution rewrites elements
  * in place (reference: pdf/model/reader.go:627-701).
  */
final class PdfArr(val items: mutable.ArrayBuffer[PdfObj]) extends PdfObj {
  def length: Int = items.length
  def apply(i: Int): PdfObj = items(i)
  def update(i: Int, v: PdfObj): Unit = items(i) = v
  override def toString: String = items.mkString("PdfArr(", ", ", ")")
}
object PdfArr {
  def apply(objs: PdfObj*): PdfArr = new PdfArr(mutable.ArrayBuffer(objs: _*))
  def empty: PdfArr = new PdfArr(mutable.ArrayBuffer.empty)
}

/** Insertion-ordered dictionary (reference: pdf/core/primitives.go:44-47 keeps
  * a parallel key slice; writer and tests rely on Keys() order).
  */
final class PdfDict extends PdfObj {
  private val order = mutable.ArrayBuffer.empty[String]
  private val map = mutable.HashMap.empty[String, PdfObj]

  /** Go-style: returns null when absent (mirrors dict.Get returning nil). */
  def get(key: String): PdfObj = map.getOrElse(key, null)
  def set(key: String, v: PdfObj): Unit = {
    if (!map.contains(key)) order += key
    map(key) = v
  }
  def keys: Seq[String] = order.toSeq
  def contains(key: String): Boolean = map.contains(key)
  override def toString: String =
    order.map(k => s"/$k ${map(k)}").mkString("<<", " ", ">>")
}
object PdfDict {
  def apply(kvs: (String, PdfObj)*): PdfDict = {
    val d = new PdfDict
    kvs.foreach { case (k, v) => d.set(k, v) }
    d
  }
}

case object PdfNull extends PdfObj

final case class PdfRef(num: Long, gen: Long) extends PdfObj

/** Numbered container around any direct object. */
final class PdfIndirect(var num: Long, var gen: Long, var obj: PdfObj) extends PdfObj {
  override def toString: String = s"PdfIndirect($num $gen, $obj)"
}

/** Inline image (BI...ID...EI): properties + raw data; carried as an opaque
  * operation param in content streams (text extraction ignores it, but the
  * parser must skip the binary payload correctly or the operator stream
  * derails).
  */
final class InlineImage(val props: PdfDict, val stream: Array[Byte]) extends PdfObj

/** Stream object: dictionary + raw (still encoded) payload bytes. */
final class PdfStream(var num: Long, var gen: Long, val dict: PdfDict, var raw: Array[Byte]) extends PdfObj {
  override def toString: String = s"PdfStream($num $gen, $dict, ${raw.length} bytes)"
}

/** Parse/processing failure inside the kernel. Never escapes a Spark task:
  * the pipeline converts it to a status=error output row.
  */
class PdfError(msg: String) extends RuntimeException(msg)

/** Per-document wall-clock budget exceeded (skew guard, SURVEY.md §4.3):
  * surfaces as a status=timeout row.
  */
final class PdfTimeout extends PdfError("per-document time budget exceeded")

/** Thread-local cooperative deadline for the extraction kernel. All
  * unbounded-ish loops (content ops, page loop, object lookups) poll it;
  * 0 = no deadline.
  */
object Deadline {
  private val tl = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  def set(deadlineNanos: Long): Unit = tl.set(deadlineNanos)
  def clear(): Unit = tl.set(0L)
  def check(): Unit = {
    val d = tl.get()
    if (d != 0L && System.nanoTime() > d) throw new PdfTimeout
  }
}

/** Control-flow signal for Go-style io.EOF returns inside the lexers. The
  * content-stream and CMap parsers treat EOF as a clean section/stream end
  * (reference: pdf/contentstream/parser.go:48-51, pdf/internal/cmap/cmap.go:126).
  */
final class EofExit extends RuntimeException("EOF") {
  override def fillInStackTrace(): Throwable = this // cheap: used as control flow
}

object PdfObjs {
  /** Trace through chains of indirect objects to a direct object (does NOT
    * resolve references). Returns null beyond the depth cap, like the
    * reference (pdf/core/primitives.go:556-575, TraceMaxDepth=20).
    */
  val TraceMaxDepth = 20
  def traceToDirect(obj: PdfObj): PdfObj = {
    var o = obj
    var depth = 0
    while (o.isInstanceOf[PdfIndirect]) {
      o = o.asInstanceOf[PdfIndirect].obj
      depth += 1
      if (depth > TraceMaxDepth) return null
    }
    o
  }

  /** Whitespace set per the PDF spec Table 1 (reference: pdf/core/symbols.go:10-17). */
  def isWhiteSpace(ch: Int): Boolean =
    ch == 0x00 || ch == 0x09 || ch == 0x0a || ch == 0x0c || ch == 0x0d || ch == 0x20

  def isFloatDigit(c: Int): Boolean = (c >= '0' && c <= '9') || c == '.'
  def isDecimalDigit(c: Int): Boolean = c >= '0' && c <= '9'
  def isOctalDigit(c: Int): Boolean = c >= '0' && c <= '7'

  /** Delimiter set ()<>[]{}/% (reference: pdf/core/symbols.go:56-79). */
  def isDelimiter(c: Int): Boolean =
    c == '(' || c == ')' || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '{' || c == '}' || c == '/' || c == '%'

  /** UTF-8 encode a unicode code point with Go's rune semantics: surrogate
    * halves and out-of-range values encode as U+FFFD (Go `string(r)`).
    */
  def utf8EncodeRune(cp0: Long, out: java.io.ByteArrayOutputStream): Unit = {
    var cp = cp0
    if (cp < 0 || cp > 0x10ffff || (cp >= 0xd800 && cp <= 0xdfff)) cp = 0xfffd
    val c = cp.toInt
    if (c < 0x80) out.write(c)
    else if (c < 0x800) {
      out.write(0xc0 | (c >> 6)); out.write(0x80 | (c & 0x3f))
    } else if (c < 0x10000) {
      out.write(0xe0 | (c >> 12)); out.write(0x80 | ((c >> 6) & 0x3f)); out.write(0x80 | (c & 0x3f))
    } else {
      out.write(0xf0 | (c >> 18)); out.write(0x80 | ((c >> 12) & 0x3f))
      out.write(0x80 | ((c >> 6) & 0x3f)); out.write(0x80 | (c & 0x3f))
    }
  }
  def utf8EncodeRune(cp: Long): Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream(4)
    utf8EncodeRune(cp, b)
    b.toByteArray
  }
}

/** Seekable cursor over an in-memory byte payload. Stands in for the
  * reference's io.ReadSeeker + bufio.Reader pair: the whole document is in
  * RAM inside the Spark task, so buffering is unnecessary; offsets are
  * absolute file offsets.
  *
  * peek(n) returns UP TO n bytes (callers check `.length < n` exactly where
  * the reference checks bufio.Peek's io.EOF error).
  */
final class ByteCursor(val data: Array[Byte], trailingNewline: Boolean = false) {
  // trailingNewline presents a virtual '\n' after the data without copying
  // the payload (the content-stream parser's "+ \n" contract).
  private val len = data.length + (if (trailingNewline) 1 else 0)
  var pos: Int = 0
  def size: Int = len
  def remaining: Int = len - pos
  def atEof: Boolean = pos >= len

  @inline private def byteAt(i: Int): Int =
    if (i < data.length) data(i) & 0xff else '\n'

  def peek(n: Int): Array[Byte] = {
    val avail = math.max(0, math.min(n, len - pos))
    if (avail == 0) Array.emptyByteArray
    else if (pos + avail <= data.length) java.util.Arrays.copyOfRange(data, pos, pos + avail)
    else {
      val out = new Array[Byte](avail)
      var i = 0
      while (i < avail) { out(i) = byteAt(pos + i).toByte; i += 1 }
      out
    }
  }
  /** First byte without consuming, or -1 at EOF. */
  def peekByte: Int = if (pos < len) byteAt(pos) else -1
  /** Byte at pos+i without consuming, or -1 past EOF. */
  def peekAt(i: Int): Int = if (pos + i < len) byteAt(pos + i) else -1

  def readByte(): Int =
    if (pos < len) { val b = byteAt(pos); pos += 1; b } else -1
  def discard(n: Int): Int = {
    val d = math.max(0, math.min(n, len - pos)); pos += d; d
  }
  /** Read exactly n bytes or fail (mirrors ReadAtLeast). */
  def readExact(n: Int): Array[Byte] = {
    if (remaining < n) throw new PdfError(s"unexpected EOF reading $n bytes")
    val out = peek(n)
    pos += n
    out
  }
  def seek(off: Long): Unit = {
    if (off < 0) throw new PdfError(s"negative seek $off")
    pos = math.min(off, len.toLong).toInt
  }
  def offset: Long = pos.toLong

  /** Skip PDF whitespace; returns the number of bytes skipped. Runs between
    * every token, so it walks the backing array directly, then the virtual
    * trailing '\n' if that is next.
    */
  def skipWhitespace(): Int = {
    val start = pos
    var p = pos
    while (p < data.length && PdfObjs.isWhiteSpace(data(p) & 0xff)) p += 1
    while (p < len && PdfObjs.isWhiteSpace(byteAt(p))) p += 1
    pos = p
    p - start
  }

  /** Skip whitespace and any run of '%' comment lines (pdf/core/parser.go:93-120;
    * iterative, where the reference recurses per line). EOF runs the
    * grammar's EOF action.
    */
  def skipComments(eof: String => Nothing): Unit = {
    while (true) {
      skipWhitespace()
      var b = peekByte
      if (b == -1) eof("EOF")
      if (b != '%') return
      while (b != '\r' && b != '\n') {
        readByte()
        b = peekByte
        if (b == -1) eof("EOF")
      }
    }
  }

  // Nesting depth of the recursive productions reading this cursor (arrays,
  // dicts). JVM stacks are fixed-size (Go's grow), so a pathological
  // [[[[... becomes a clean parse error, not a StackOverflowError.
  private var depth = 0
  def enter(): Unit = {
    depth += 1
    if (depth > ByteCursor.MaxNestingDepth) throw new PdfError("nesting depth exceeded")
  }
  def leave(): Unit = depth -= 1

  // long view of `data` for ByteScan, made on first use
  private var view: java.nio.ByteBuffer = null
  def scanView: java.nio.ByteBuffer = {
    if (view == null) view = ByteScan.viewOf(data)
    view
  }
}

object ByteCursor {
  val MaxNestingDepth = 500
}
