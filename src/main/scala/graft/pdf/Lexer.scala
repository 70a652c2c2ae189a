package graft.pdf

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.regex.Pattern

import PdfObjs._

/** Regexes of the file-layer parser's cold paths (version, EOF, startxref
  * and xref markers). These mirror the reference's object-signature regexes
  * (pdf/core/parser.go:23-33); `\s` is written as an explicit class to match
  * Go's definition ([\t\n\f\r ]) rather than Java's. The shapes read once
  * per token or line (references, numbers, object headers, xref-table
  * lines) are hand-written matchers of the same patterns:
  * `ObjLexer.parseObject`, `ObjHeader` and `XrefLine`.
  */
object PdfPatterns {
  private final val S = "[\\t\\n\\f\\r ]"
  val pdfVersion: Pattern = Pattern.compile("%PDF-(\\d)\\.(\\d)")
  val eof: Pattern = Pattern.compile("%%EOF")
  val xrefTable: Pattern = Pattern.compile(s"$S*xref$S*")
  val startXref: Pattern = Pattern.compile(s"startx?ref$S*(\\d+)")
  val repairXrefTable: Pattern = Pattern.compile(s"[\\r\\n]$S*(xref)$S*[\\r\\n]")
  val repairXrefStart: Pattern = Pattern.compile(s"${S}xref$S*")

  /** The class S above: NUL is PDF whitespace but not in it. */
  def isSpace(c: Int): Boolean = c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  /** Bytes→String for regex matching: latin-1 keeps a 1:1 byte↔char mapping. */
  def str(b: Array[Byte]): String = new String(b, ISO_8859_1)
}

/** Token productions shared by the three grammars the reference lexes
  * separately: file-layer objects (pdf/core/parser.go), content streams
  * (pdf/contentstream/parser.go) and ToUnicode CMaps
  * (pdf/internal/cmap/parser.go). Their string, name and hex-string rules
  * agree except for what EOF means, so each production takes the grammar's
  * EOF action: the file layer throws PdfError with the given message
  * (`ObjLexer.eofError`), the content and CMap layers end the stream
  * (`eofExit`).
  */
object PdfTokens {
  /** EOF action of the content-stream and CMap grammars: a clean end. */
  val eofExit: String => Nothing = _ => throw new EofExit

  /** Literal string after its '(' (pdf/core/parser.go:300-380): balanced
    * parens, octal escapes (1-3 digits), named escapes; UNKNOWN escape chars
    * are dropped entirely (including the line-continuation
    * backslash-newline case).
    *
    * Fast path for the dominant case, a string with no escape and no nested
    * '(' closed before EOF: ByteScan finds the first delimiter 8 bytes per
    * step and the span is copied once. Anything else falls back to the
    * byte-at-a-time loop from the unmoved cursor.
    */
  def literalString(cur: ByteCursor, eof: String => Nothing): Array[Byte] = {
    cur.readByte() // consume '('
    val data = cur.data
    val start = cur.pos
    val idx = ByteScan.firstStringDelim(cur.scanView, data, start, data.length)
    if (idx >= 0 && data(idx) == ')') {
      cur.pos = idx + 1
      return java.util.Arrays.copyOfRange(data, start, idx)
    }
    val r = new ByteArrayOutputStream()
    var count = 1
    while (true) {
      val pb = cur.peekByte
      if (pb == -1) eof("EOF in string")
      if (pb == '\\') {
        cur.readByte()
        val b = cur.readByte()
        if (b == -1) eof("EOF in string escape")
        if (isOctalDigit(b)) {
          if (cur.remaining < 2) eof("EOF in string octal")
          var code = (b - '0').toLong
          var extra = 0
          while (extra < 2 && isOctalDigit(cur.peekAt(extra))) {
            code = code * 8 + (cur.peekAt(extra) - '0')
            extra += 1
          }
          cur.discard(extra)
          r.write((code & 0xff).toInt)
        } else {
          b match {
            case 'n' => r.write('\n')
            case 'r' => r.write('\r')
            case 't' => r.write('\t')
            case 'b' => r.write('\b')
            case 'f' => r.write('\f')
            case '(' => r.write('(')
            case ')' => r.write(')')
            case '\\' => r.write('\\')
            case _ => // dropped entirely (reference switch falls through)
          }
        }
      } else {
        if (pb == '(') count += 1
        else if (pb == ')') {
          count -= 1
          if (count == 0) { cur.readByte(); return r.toByteArray }
        }
        r.write(cur.readByte())
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** '/'-led name (pdf/core/parser.go:173-221) with #xx escapes, ended by
    * whitespace, a delimiter or EOF. EOF before the name starts gives the
    * empty name; any other first byte is an error. Bytes map 1:1 to chars
    * (latin-1).
    */
  def name(cur: ByteCursor, eof: String => Nothing): String = {
    val b0 = cur.peekByte
    if (b0 == -1) return ""
    if (b0 != '/') throw new PdfError(s"Invalid name: (${b0.toChar})")
    cur.readByte()
    val r = new java.lang.StringBuilder
    while (true) {
      val b = cur.peekByte
      if (b == -1 || isWhiteSpace(b) ||
          b == '/' || b == '[' || b == '(' || b == ']' || b == '<' || b == '>') return r.toString
      if (b == '#') {
        val hexcode = cur.peek(3)
        if (hexcode.length < 3) eof("EOF in name hex escape")
        cur.discard(3)
        val hi = Character.digit(hexcode(1), 16); val lo = Character.digit(hexcode(2), 16)
        if (hi < 0 || lo < 0) throw new PdfError("invalid hex escape in name")
        r.append(((hi << 4) | lo).toChar)
      } else r.append(cur.readByte().toChar)
    }
    throw new IllegalStateException("unreachable")
  }

  /** Hex string after its '<' keeping ONLY hex digits
    * (pdf/contentstream/parser.go:338-369, cmap/parser.go:269-303); an odd
    * digit count pads a trailing '0'.
    */
  def hexDigits(cur: ByteCursor, eof: String => Nothing): Array[Byte] = {
    cur.readByte() // consume '<'
    val out = new ByteArrayOutputStream()
    var hi = -1
    while (true) {
      cur.skipWhitespace()
      val b = cur.readByte()
      if (b == -1) eof("EOF in hex string")
      if (b == '>') {
        if (hi >= 0) out.write(hi << 4)
        return out.toByteArray
      }
      val d = Character.digit(b, 16)
      if (d >= 0) {
        if (hi < 0) hi = d
        else { out.write((hi << 4) | d); hi = -1 }
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** File-layer object lexer over a byte cursor. Faithful to the reference's
  * PdfParser lexing productions (pdf/core/parser.go:74-645), including its
  * quirks: unknown string escapes dropped, unparseable floats -> 0.0,
  * hex strings keeping all non-whitespace bytes, glued "/Keynull" dict bug
  * workaround, and the 15-byte peek dispatch order for numbers/references.
  *
  * Errors are thrown as PdfError; Go sites returning io.EOF that callers
  * treat as fatal throw PdfError("EOF") here (document layer aborts anyway).
  */
final class ObjLexer(val cur: ByteCursor) {
  import ObjLexer.eofError
  import PdfPatterns._

  /** pdf/core/parser.go:74-90 (EOF here surfaces at the next peek). */
  def skipSpaces(): Int = cur.skipWhitespace()

  /** pdf/core/parser.go:93-120. */
  def skipComments(): Unit = cur.skipComments(eofError)

  /** pdf/core/parser.go:123-151. */
  def readComment(): String = {
    val r = new StringBuilder
    skipSpaces()
    var isFirst = true
    var done = false
    while (!done) {
      val b = cur.peekByte
      if (b == -1) throw new PdfError("EOF")
      if (isFirst && b != '%') throw new PdfError("Comment should start with %")
      isFirst = false
      if (b != '\r' && b != '\n') r.append(cur.readByte().toChar)
      else done = true
    }
    r.toString
  }

  /** pdf/core/parser.go:154-170. */
  def readTextLine(): String = {
    val r = new StringBuilder
    var done = false
    while (!done) {
      val b = cur.peekByte
      if (b == -1) throw new PdfError("EOF")
      if (b != '\r' && b != '\n') r.append(cur.readByte().toChar)
      else done = true
    }
    r.toString
  }

  /** pdf/core/parser.go:173-221; comments before the name are skipped. */
  def parseName(): PdfName = {
    while (cur.peekByte == '%') { readComment(); skipSpaces() }
    PdfName(PdfTokens.name(cur, eofError))
  }

  /** pdf/core/parser.go:243-297: sign allowed at start and after 'e';
    * '.'/'e' force float; unparseable float -> 0.0 silently; unparseable
    * int -> error.
    */
  def parseNumber(): PdfObj = ObjLexer.parseNumberFrom(cur)

  /** pdf/core/parser.go:300-380. */
  def parseString(): PdfStr = new PdfStr(PdfTokens.literalString(cur, eofError))

  /** pdf/core/parser.go:384-411: keeps ALL non-whitespace bytes; non-hex
    * bytes make the final hex decode fail silently -> empty result tail
    * (the reference ignores hex.DecodeString's error).
    */
  def parseHexString(): PdfStr = {
    cur.readByte() // consume '<'
    val r = new StringBuilder
    var done = false
    while (!done) {
      val b = cur.peekByte
      if (b == -1) throw new PdfError("EOF in hex string")
      if (b == '>') { cur.readByte(); done = true }
      else {
        cur.readByte()
        if (!isWhiteSpace(b)) r.append(b.toChar)
      }
    }
    if (r.length % 2 == 1) r.append('0')
    new PdfStr(ObjLexer.hexDecodeLenient(r.toString))
  }

  /** pdf/core/parser.go:414-440. */
  def parseArray(): PdfArr = {
    cur.enter()
    try parseArray0()
    finally cur.leave()
  }

  private def parseArray0(): PdfArr = {
    val arr = PdfArr.empty
    cur.readByte() // consume '['
    var done = false
    while (!done) {
      skipSpaces()
      val b = cur.peekByte
      if (b == -1) throw new PdfError("EOF in array")
      if (b == ']') { cur.readByte(); done = true }
      else arr.items += parseObject()
    }
    arr
  }

  /** pdf/core/parser.go:443-463. */
  def parseBool(): PdfBool = {
    var bb = cur.peek(4)
    if (bb.length >= 4 && PdfPatterns.str(bb) == "true") { cur.discard(4); return PdfBool(true) }
    bb = cur.peek(5)
    if (bb.length >= 5 && PdfPatterns.str(bb) == "false") { cur.discard(5); return PdfBool(false) }
    throw new PdfError("Unexpected boolean string")
  }

  /** pdf/core/parser.go:484-487: null = discard 4 bytes. */
  def parseNull(): PdfObj = { cur.discard(4); PdfNull }

  /** pdf/core/parser.go:491-574. The reference peeks 15 bytes and tries,
    * in order, the null/false/true prefixes, the reference pattern
    * `^S*(\d+)S+(\d+)S+R`, the numeric pattern `^[\+-.]*([0-9.]+)` and an
    * exponential pattern that only matches where the numeric one does.
    * `skipSpaces` has just run, so the window never starts with S, and the
    * checks below decide exactly what those patterns decide on it.
    */
  def parseObject(): PdfObj = {
    skipSpaces()
    while (true) {
      if (cur.remaining < 2) throw new PdfError("EOF parsing object")
      val b0 = cur.peekByte; val b1 = cur.peekAt(1)
      if (b0 == '/') return parseName()
      else if (b0 == '(') return parseString()
      else if (b0 == '[') return parseArray()
      else if (b0 == '<' && b1 == '<') return parseDict()
      else if (b0 == '<') return parseHexString()
      else if (b0 == '%') { readComment(); skipSpaces() }
      else if (isDecimalDigit(b0)) return refOrNumber()
      else if (startsWith("null")) return parseNull()
      else if (startsWith("false") || startsWith("true")) return parseBool()
      else if (numericLead()) return parseNumber()
      else throw new PdfError("Object parsing error - unexpected pattern")
    }
    throw new IllegalStateException("unreachable")
  }

  private def startsWith(word: String): Boolean = {
    var i = 0
    while (i < word.length && cur.peekAt(i) == word.charAt(i)) i += 1
    i == word.length
  }

  /** A digit-led token: `D+ S+ D+ S+ R` inside the window is a reference,
    * consumed through the 'R' (digit and S runs are maximal, so the regex
    * has no other way to match); anything else matches the numeric pattern.
    */
  private def refOrNumber(): PdfObj = {
    // end of the digit (S) run that starts at i0, within the window
    def digits(i0: Int): Int = { var i = i0; while (i < 15 && isDecimalDigit(cur.peekAt(i))) i += 1; i }
    def spaces(i0: Int): Int = { var i = i0; while (i < 15 && isSpace(cur.peekAt(i))) i += 1; i }
    def value(from: Int, until: Int): Long = {
      var v = 0L; var i = from
      while (i < until) { v = v * 10 + (cur.peekAt(i) - '0'); i += 1 }
      v
    }
    val p = digits(1); val q = spaces(p); val r = digits(q); val s = spaces(r)
    if (q > p && r > q && s > r && s < 15 && cur.peekAt(s) == 'R') {
      val ref = PdfRef(value(0, p), value(q, r))
      cur.discard(s + 1)
      ref
    } else parseNumber()
  }

  /** `^[\+-.]*[0-9.]+` on the window. `[\+-.]` is the range '+'..'.', so
    * it holds ',' too; a '.' in the leading run can also serve as the
    * `[0-9.]`, so the pattern matches when the run holds a '.' or a digit
    * follows it inside the window.
    */
  private def numericLead(): Boolean = {
    var t = 0
    var dot = false
    while (t < 15 && { val c = cur.peekAt(t); c >= '+' && c <= '.' }) {
      if (cur.peekAt(t) == '.') dot = true
      t += 1
    }
    dot || (t < 15 && isDecimalDigit(cur.peekAt(t)))
  }

  /** pdf/core/parser.go:578-645 including the glued "/Keynull" workaround. */
  def parseDict(): PdfDict = {
    cur.enter()
    try parseDict0()
    finally cur.leave()
  }

  private def parseDict0(): PdfDict = {
    val dict = new PdfDict
    if (cur.readByte() != '<') throw new PdfError("Invalid dict")
    if (cur.readByte() != '<') throw new PdfError("Invalid dict")
    var done = false
    while (!done) {
      skipSpaces()
      skipComments()
      if (cur.remaining < 2) throw new PdfError("EOF in dict")
      if (cur.peekByte == '>' && cur.peekAt(1) == '>') {
        cur.readByte(); cur.readByte(); done = true
      } else {
        val keyName = parseName().name
        var handled = false
        if (keyName.length > 4 && keyName.endsWith("null")) {
          val newKey = keyName.substring(0, keyName.length - 4)
          skipSpaces()
          if (cur.peekByte == '/') {
            dict.set(newKey, PdfNull)
            handled = true
          }
        }
        if (!handled) {
          skipSpaces()
          dict.set(keyName, parseObject())
        }
      }
    }
    dict
  }
}

object ObjLexer {
  /** EOF action of the file-layer grammar: a PdfError with the message. */
  private val eofError: String => Nothing = msg => throw new PdfError(msg)

  /** Shared numeric production (file layer and content layer are identical
    * here; reference: pdf/core/parser.go:243-297 / contentstream/parser.go:193-252).
    */
  def parseNumberFrom(cur: ByteCursor): PdfObj = {
    // Fast path: token boundaries are found WITHOUT allocation; pure-digit
    // integer tokens (the overwhelming majority in content streams) are
    // accumulated directly. Floats and signed/exponential forms fall back to
    // the exact string-parse (same semantics as the reference's strconv).
    val start = cur.pos
    var isFloat = false
    var allowSigns = true
    var done = false
    while (!done) {
      val b = cur.peekByte
      if (b == -1) done = true // EOF handled like end of token
      else if (allowSigns && (b == '-' || b == '+')) { cur.readByte(); allowSigns = false }
      else if (isDecimalDigit(b)) cur.readByte()
      else if (b == '.') { cur.readByte(); isFloat = true }
      else if (b == 'e') { cur.readByte(); isFloat = true; allowSigns = true }
      else done = true
    }
    val end = cur.pos
    val len = end - start
    if (!isFloat) {
      // digits with an optional single leading sign; overflow falls back
      var i = start
      var neg = false
      var ok = len > 0 && len <= 18
      if (ok && !isDecimalDigit(cur.data(start) & 0xff)) {
        neg = (cur.data(start) & 0xff) == '-'
        i += 1
        ok = len > 1 // a bare sign is not a number
      }
      if (ok) {
        var v = 0L
        var j = i
        while (j < end) {
          val d = (cur.data(j) & 0xff) - '0'
          if (d < 0 || d > 9) { ok = false; j = end }
          else { v = v * 10 + d; j += 1 }
        }
        if (ok) return PdfInt(if (neg) -v else v)
      }
    }
    val str = new String(cur.data, start, len, java.nio.charset.StandardCharsets.ISO_8859_1)
    if (isFloat) {
      val v = try str.toDouble
      catch { case _: NumberFormatException => 0.0 } // silently 0.0 (reference quirk)
      PdfReal(v)
    } else {
      val v = try str.toLong
      catch { case _: NumberFormatException => throw new PdfError(s"invalid integer '$str'") }
      PdfInt(v)
    }
  }

  /** Lenient hex decode mirroring Go hex.DecodeString's behavior as used by
    * the reference (error ignored -> decoded prefix kept... Go's DecodeString
    * on error returns the bytes decoded so far; the reference keeps the
    * result variable which in Go is the full-size buffer truncated at error).
    * Go hex.DecodeString returns (decodedPrefix, err); unidoc ignores err and
    * uses the prefix.
    */
  def hexDecodeLenient(s: String): Array[Byte] = {
    val out = new ByteArrayOutputStream(s.length / 2)
    var i = 0
    while (i + 1 < s.length) {
      val hi = Character.digit(s.charAt(i), 16)
      val lo = Character.digit(s.charAt(i + 1), 16)
      if (hi < 0 || lo < 0) return out.toByteArray // stop at first invalid pair
      out.write((hi << 4) | lo)
      i += 2
    }
    out.toByteArray
  }
}
