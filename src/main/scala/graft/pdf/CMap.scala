package graft.pdf

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1

import scala.collection.mutable

import PdfObjs._

/** ToUnicode CMap: charcode -> unicode-string mapping with separate tables
  * per code byte-length 1..4 (pdf/internal/cmap/cmap.go:18-37).
  *
  * The mapped values are stored as UTF-8 BYTES (what Go's string conversions
  * produce), so extraction byte-identity holds even for surrogate-half or
  * out-of-range code points (which Go encodes as U+FFFD).
  */
final class CMap {
  // one map per code byte-length (1-4)
  val codeMap: Array[mutable.HashMap[Long, Array[Byte]]] =
    Array.fill(4)(mutable.HashMap.empty[Long, Array[Byte]])
  var name: String = ""
  var ctype: Int = 0
  val codespaces = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (numBytes, low, high)

  /** Greedy scan (cmap.go:50-78): accumulate up to 4 bytes big-endian; first
    * hit wins; a miss after 4 bytes (or at data end) emits NOTHING for those
    * bytes; advance past them either way.
    */
  def charcodeBytesToUnicode(src: Array[Byte]): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    val maxLen = 4
    var i = 0
    while (i < src.length) {
      var code = 0L
      var j = 0
      var break = false
      while (j < maxLen && i + j < src.length && !break) {
        val b = src(i + j) & 0xff
        code = (code << 8) | b
        codeMap(j).get(code) match {
          case Some(tgt) => buf.write(tgt); break = true
          case None =>
            if (j == maxLen - 1 || i + j == src.length - 1) break = true
            else j += 1
        }
        if (break) () // fallthrough with current j
      }
      i += j + 1
    }
    buf.toByteArray
  }

  /** Single-code lookup across buckets; miss -> "?" (cmap.go:82-92). */
  def charcodeToUnicode(code: Long): Array[Byte] = {
    var n = 0
    while (n < 4) {
      codeMap(n).get(code) match {
        case Some(v) => return v
        case None    => n += 1
      }
    }
    "?".getBytes(ISO_8859_1)
  }
}

/** CMap file parser (pdf/internal/cmap/parser.go + cmap.go:122-405):
  * PostScript-ish tokens; begincodespacerange / beginbfchar / beginbfrange
  * sections; /CMapName and /CMapType captured.
  */
object CMapParser {
  import PdfTokens.eofExit

  private sealed trait Tok
  private final case class TName(name: String) extends Tok
  private final case class TOperand(op: String) extends Tok
  private final case class THex(numBytes: Int, bytes: Array[Byte]) extends Tok
  private final case class TString(s: Array[Byte]) extends Tok
  private final case class TInt(v: Long) extends Tok
  private final case class TFloat(v: Double) extends Tok
  private final case class TArray(items: Seq[Tok]) extends Tok
  private final case class TDict(d: Map[String, Tok]) extends Tok

  def load(data: Array[Byte]): CMap = {
    val cmap = new CMap
    val cur = new ByteCursor(data)
    try {
      var done = false
      while (!done) {
        val o =
          try parseObject(cur)
          catch { case _: EofExit => done = true; null }
        if (!done) o match {
          case TOperand("begincodespacerange") => parseCodespaceRange(cur, cmap)
          case TOperand("beginbfchar")         => parseBfchar(cur, cmap)
          case TOperand("beginbfrange")        => parseBfrange(cur, cmap)
          case TName("CMapName") =>
            parseObject(cur) match {
              case TName(n) => cmap.name = n
              case _        => throw new PdfError("CMap name not a name")
            }
          case TName("CMapType") =>
            parseObject(cur) match {
              case TInt(v) => cmap.ctype = v.toInt
              case _       => throw new PdfError("CMap type not an integer")
            }
          case _ => () // unhandled object
        }
      }
    } catch {
      case _: EofExit => // EOF while reading a /CMapName value etc: clean break
    }
    cmap
  }

  /** begincodespacerange (cmap.go:190-237). */
  private def parseCodespaceRange(cur: ByteCursor, cmap: CMap): Unit = {
    var done = false
    try {
      while (!done) {
        val o = parseObject(cur)
        o match {
          case TOperand("endcodespacerange") => done = true
          case TOperand(_)                   => throw new PdfError("Unexpected operand")
          case other =>
            // Non-hex low falls through as a zero-value in the reference
            // (cmap.go:200-208) — the high read still happens.
            val (loBytes, loNum) = other match {
              case h: THex => (hexToLong(h.bytes), h.numBytes)
              case _       => (0L, 0)
            }
            val hi = parseObject(cur) match {
              case h: THex => h
              case _       => throw new PdfError("Non-hex high")
            }
            if (loNum != hi.numBytes)
              throw new PdfError("Unequal number of bytes in range")
            cmap.codespaces += ((loNum, loBytes, hexToLong(hi.bytes)))
        }
      }
    } catch { case _: EofExit => }
  }

  /** beginbfchar (cmap.go:240-303): dst hex -> UTF-16BE pairs -> runes; dst
    * name -> "?" in the extraction path (no encoder).
    */
  private def parseBfchar(cur: ByteCursor, cmap: CMap): Unit = {
    try {
      while (true) {
        val (srcCode, numBytes) = parseObject(cur) match {
          case TOperand("endbfchar") => return
          case TOperand(_)           => throw new PdfError("Unexpected operand")
          case h: THex               => (hexToLong(h.bytes), h.numBytes)
          case _                     => throw new PdfError("Unexpected type")
        }
        val toCode: Array[Byte] = parseObject(cur) match {
          case TOperand("endbfchar") => return
          case TOperand(_)           => throw new PdfError("Unexpected operand")
          case h: THex               => hexToUtf8(h.bytes)
          case TName(_)              => "?".getBytes(ISO_8859_1)
          case _                     => throw new PdfError("Unexpected type")
        }
        if (numBytes <= 0 || numBytes > 4) throw new PdfError("Invalid code length")
        cmap.codeMap(numBytes - 1)(srcCode) = toCode
      }
    } catch { case _: EofExit => }
  }

  /** beginbfrange (cmap.go:306-402): hex dst -> SINGLE rune dstVal+i per code
    * (even for multi-byte dst hex); array dst -> element strings, count must
    * equal hi-lo+1.
    */
  private def parseBfrange(cur: ByteCursor, cmap: CMap): Unit = {
    try {
      while (true) {
        val (srcFrom, numBytes) = parseObject(cur) match {
          case TOperand("endbfrange") => return
          case TOperand(_)            => throw new PdfError("Unexpected operand")
          case h: THex                => (hexToLong(h.bytes), h.numBytes)
          case _                      => throw new PdfError("Unexpected type")
        }
        val srcTo = parseObject(cur) match {
          case TOperand("endbfrange") => return
          case TOperand(_)            => throw new PdfError("Unexpected operand")
          case h: THex                => hexToLong(h.bytes)
          case _                      => throw new PdfError("Unexpected type")
        }
        if (numBytes <= 0 || numBytes > 4) throw new PdfError("Invalid code length")
        parseObject(cur) match {
          case TArray(items) =>
            var sc = srcFrom
            for (o <- items) {
              o match {
                case h: THex => cmap.codeMap(numBytes - 1)(sc) = hexToUtf8(h.bytes)
                case _       => throw new PdfError("Non-hex string in array")
              }
              sc += 1
            }
            if (sc != srcTo + 1) throw new PdfError("Invalid number of items in array")
          case h: THex =>
            val target = hexToLong(h.bytes)
            var sc = srcFrom
            var i = 0L
            while (sc <= srcTo) {
              // Robustness caps (same doctrine as the depth caps): a hostile
              // <00000000> <ffffffff> range is 2^32 entries (~300 GB of
              // boxed map) — the deadline poll turns a long-but-sane range
              // into a timeout row, and the absolute entry cap stops the
              // heap exploding inside one poll interval. (The reference
              // would OOM on such a range; a clean error row is the
              // never-throw contract's answer.)
              if ((i & 0xfff) == 0L) {
                Deadline.check()
                if (cmap.codeMap(numBytes - 1).size > 4000000)
                  throw new PdfError("bfrange too large")
              }
              cmap.codeMap(numBytes - 1)(sc) = PdfObjs.utf8EncodeRune(target + i)
              sc += 1; i += 1
            }
          case _ => throw new PdfError("Unexpected type")
        }
      }
    } catch { case _: EofExit => }
  }

  private def hexToLong(b: Array[Byte]): Long = {
    var v = 0L
    for (x <- b) v = (v << 8) | (x & 0xff)
    v
  }

  /** hexToString (cmap/utils.go:21-34): 2-byte UTF-16BE units -> runes; an
    * odd trailing byte is dropped; surrogate halves become U+FFFD via the Go
    * rune conversion.
    */
  private def hexToUtf8(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var i = 0
    while (i < b.length - 1) {
      val r = ((b(i) & 0xff).toLong << 8) | (b(i + 1) & 0xff)
      PdfObjs.utf8EncodeRune(r, out)
      i += 2
    }
    out.toByteArray
  }

  // ------------------------------------------------------------------ lexer
  // Strings, names and hex strings are the shared PdfTokens productions;
  // EOF ends the section (PdfTokens.eofExit) as in the content grammar.

  private def parseObject(cur: ByteCursor): Tok = {
    cur.skipWhitespace()
    while (true) {
      if (cur.remaining < 2) throw new EofExit
      val b0 = cur.peekByte; val b1 = cur.peekAt(1)
      if (b0 == '%') cur.skipComments(eofExit)
      else if (b0 == '/') return TName(PdfTokens.name(cur, eofExit))
      else if (b0 == '(') return TString(PdfTokens.literalString(cur, eofExit))
      else if (b0 == '[') return parseArray(cur)
      else if (b0 == '<' && b1 == '<') return parseDict(cur)
      else if (b0 == '<') {
        val bytes = PdfTokens.hexDigits(cur, eofExit)
        return THex(bytes.length, bytes)
      } else if (isDecimalDigit(b0) || (b0 == '-' && isDecimalDigit(b1))) return parseNumber(cur)
      else return parseOperand(cur)
    }
    throw new IllegalStateException("unreachable")
  }

  private def parseArray(cur: ByteCursor): TArray = {
    cur.enter()
    try {
      cur.readByte()
      val items = mutable.ArrayBuffer.empty[Tok]
      var done = false
      while (!done) {
        cur.skipWhitespace()
        val b = cur.peekByte
        if (b == -1) throw new EofExit
        if (b == ']') { cur.readByte(); done = true }
        else items += parseObject(cur)
      }
      TArray(items.toSeq)
    } finally cur.leave()
  }

  private def parseDict(cur: ByteCursor): TDict = {
    val d = mutable.LinkedHashMap.empty[String, Tok]
    if (cur.readByte() != '<') throw new PdfError("Invalid dict")
    if (cur.readByte() != '<') throw new PdfError("Invalid dict")
    var done = false
    while (!done) {
      cur.skipWhitespace()
      if (cur.remaining < 2) throw new EofExit
      if (cur.peekByte == '>' && cur.peekAt(1) == '>') {
        cur.readByte(); cur.readByte(); done = true
      } else {
        val key = PdfTokens.name(cur, eofExit)
        cur.skipWhitespace()
        d(key) = parseObject(cur)
        // optional "def" keyword after entries
        cur.skipWhitespace()
        val p3 = cur.peek(3)
        if (p3.length == 3 && PdfPatterns.str(p3) == "def") cur.discard(3)
        else if (p3.length < 3) throw new EofExit
      }
    }
    TDict(d.toMap)
  }

  private def parseNumber(cur: ByteCursor): Tok = {
    ObjLexer.parseNumberFrom(cur) match {
      case PdfInt(v)  => TInt(v)
      case PdfReal(v) => TFloat(v)
      case _          => throw new PdfError("unexpected number type")
    }
  }

  /** Operand: EOF ACCEPTS the accumulated operand here (unlike the content
    * parser) — cmap/parser.go:442-472.
    */
  private def parseOperand(cur: ByteCursor): TOperand = {
    val buf = new ByteArrayOutputStream()
    var done = false
    while (!done) {
      val b = cur.peekByte
      if (b == -1) done = true
      else if (isDelimiter(b) || isWhiteSpace(b)) done = true
      else buf.write(cur.readByte())
    }
    if (buf.size() == 0) throw new PdfError("Invalid operand (empty)")
    TOperand(new String(buf.toByteArray, ISO_8859_1))
  }
}
