package graft.pdf

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1

import scala.collection.mutable

import PdfObjs._

/** One content-stream operation: accumulated params + the operand keyword. */
final case class ContentOp(operand: String, params: mutable.ArrayBuffer[PdfObj])

/** Content-stream lexer (pdf/contentstream/parser.go). Strings, names and
  * hex strings are the shared `PdfTokens` productions; what differs from
  * the file layer is replicated here:
  *  - input gets a trailing "\n" so the last operand terminates;
  *  - EOF anywhere mid-token is a CLEAN end of stream (operand dropped);
  *  - '+' does NOT start a number (it starts an operand);
  *  - references "N G R" are not recognized;
  *  - hex strings keep only hex chars (the file layer keeps all non-ws);
  *  - "BI" triggers inline-image parsing with the <ws>EI<ws> state machine.
  *
  * It streams: `next()` lexes one operation into `operand` and a reused
  * param buffer, so a caller holds one operation at a time. `parse()`
  * collects every operation, as the reference's `Parse` does.
  */
final class ContentParser(content0: Array[Byte]) {
  import PdfTokens.eofExit
  // virtual trailing '\n' (parser.go:32) without copying the payload
  private val cur = new ByteCursor(content0, trailingNewline = true)

  private var opCount = 0
  private var op: String = null
  private var params = new Array[PdfObj](8)
  private var nParams = 0
  // byte range of the operand token that parseObject last returned null for
  private var tokStart = 0
  private var tokEnd = 0

  /** The current operation's operand keyword (null before the first
    * `next()` and after the end of stream).
    */
  def operand: String = op
  def paramCount: Int = nParams
  /** Param `i` of the current operation; valid until the next `next()`. */
  def param(i: Int): PdfObj = {
    if (i < 0 || i >= nParams) throw new IndexOutOfBoundsException(s"param $i of $nParams")
    params(i)
  }

  private def push(obj: PdfObj): Unit = {
    if (nParams == params.length) params = java.util.Arrays.copyOf(params, nParams * 2)
    params(nParams) = obj
    nParams += 1
  }

  /** Lex the next operation (one turn of pdf/contentstream/parser.go:39-73's
    * loop). False at the clean end of stream, which drops a dangling
    * operation's params.
    */
  def next(): Boolean = {
    opCount += 1
    if ((opCount & 0x3ff) == 0) Deadline.check()
    nParams = 0
    // the clean end after the last operation, without parseObject's EofExit
    cur.skipWhitespace()
    if (cur.remaining < 2) { op = null; return false }
    try {
      var obj = parseObject()
      while (obj != null) { push(obj); obj = parseObject() }
    } catch {
      case _: EofExit => op = null; nParams = 0; return false
    }
    op = ContentParser.operator(cur.data, tokStart, tokEnd - tokStart)
    // EOF INSIDE an inline image is an error, not a clean stream end:
    // the reference's ParseInlineImage returns io.EOF as an error and
    // Parse() propagates it (only a bare EOF at the top of the token
    // loop ends parsing successfully) — a truncated BI..ID payload must
    // abort with partial text, not extract as ok.
    if (op eq "BI") // a known keyword is always its one shared literal
      push(try parseInlineImage()
        catch { case _: EofExit => throw new PdfError("EOF in inline image") })
    true
  }

  /** Parse all operations (pdf/contentstream/parser.go:39-73), each with a
    * copy of its params.
    */
  def parse(): mutable.ArrayBuffer[ContentOp] = {
    val operations = mutable.ArrayBuffer.empty[ContentOp]
    while (next()) {
      val ps = new mutable.ArrayBuffer[PdfObj](nParams)
      var i = 0
      while (i < nParams) { ps += params(i); i += 1 }
      operations += ContentOp(op, ps)
    }
    operations
  }

  /** An operand token inside an array or dict is kept as its bytes. */
  private def valueOf(obj: PdfObj): PdfObj =
    if (obj != null) obj else new PdfStr(java.util.Arrays.copyOfRange(cur.data, tokStart, tokEnd))

  private def parseNumber(): PdfObj = ObjLexer.parseNumberFrom(cur)

  private def parseArray(): PdfArr = {
    cur.enter()
    try parseArray0()
    finally cur.leave()
  }

  private def parseArray0(): PdfArr = {
    val arr = PdfArr.empty
    cur.readByte()
    var done = false
    while (!done) {
      cur.skipWhitespace()
      val b = cur.peekByte
      if (b == -1) throw new EofExit
      if (b == ']') { cur.readByte(); done = true }
      else {
        arr.items += valueOf(parseObject())
      }
    }
    arr
  }

  private def parseBool(): PdfBool = {
    var bb = cur.peek(4)
    if (bb.length < 4) throw new EofExit
    if (PdfPatterns.str(bb) == "true") { cur.discard(4); return PdfBool(true) }
    bb = cur.peek(5)
    if (bb.length < 5) throw new EofExit
    if (PdfPatterns.str(bb) == "false") { cur.discard(5); return PdfBool(false) }
    throw new PdfError("Unexpected boolean string")
  }

  private def parseNull(): PdfObj = { cur.discard(4); PdfNull }

  /** parser.go:429-494 with the glued-null workaround. */
  private def parseDict(): PdfDict = {
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
      cur.skipWhitespace()
      if (cur.remaining < 2) throw new EofExit
      if (cur.peekByte == '>' && cur.peekAt(1) == '>') {
        cur.readByte(); cur.readByte(); done = true
      } else {
        val keyName = PdfTokens.name(cur, eofExit)
        var handled = false
        if (keyName.length > 4 && keyName.endsWith("null")) {
          val newKey = keyName.substring(0, keyName.length - 4)
          cur.skipWhitespace()
          if (cur.peekByte == '/') { dict.set(newKey, PdfNull); handled = true }
        }
        if (!handled) {
          cur.skipWhitespace()
          dict.set(keyName, valueOf(parseObject()))
        }
      }
    }
    dict
  }

  /** parser.go:497-516: operand = run of non-ws non-delimiter bytes; EOF
    * mid-operand drops the operand (clean stream end). Sets the token range
    * and returns null, parseObject's mark of an operand.
    */
  private def parseOperand(): PdfObj = {
    // Direct span scan over the backing array; the virtual trailing '\n' at
    // pos == data.length is whitespace and terminates the operand exactly
    // like the original loop. A true EOF (pos == size, only possible
    // without the virtual byte) still EOF-exits.
    val data = cur.data
    val dlen = data.length
    val start = cur.pos
    var p = start
    var done = false
    while (!done) {
      // peekAt is relative to cur.pos (== start here): covers the virtual
      // trailing '\n' (whitespace -> terminates) and true EOF (-1).
      val c = if (p < dlen) data(p) & 0xff else cur.peekAt(p - start)
      if (c == -1) throw new EofExit
      if (isDelimiter(c) || isWhiteSpace(c)) done = true
      else p += 1
    }
    if (p == start) throw new PdfError("Invalid operand")
    tokStart = start
    tokEnd = math.min(p, dlen)
    cur.pos = p
    null
  }

  /** parser.go:521-591. Returns the object, or null for an operand token,
    * whose bytes are `cur.data` over [tokStart, tokEnd).
    */
  private def parseObject(): PdfObj = {
    cur.skipWhitespace()
    while (true) {
      if (cur.remaining < 2) throw new EofExit
      val b0 = cur.peekByte; val b1 = cur.peekAt(1)
      if (b0 == '%') cur.skipComments(eofExit)
      else if (b0 == '/') return PdfName(PdfTokens.name(cur, eofExit))
      else if (b0 == '(') return new PdfStr(PdfTokens.literalString(cur, eofExit))
      else if (b0 == '<' && b1 != '<') return new PdfStr(PdfTokens.hexDigits(cur, eofExit))
      else if (b0 == '[') return parseArray()
      else if (isFloatDigit(b0) || (b0 == '-' && isFloatDigit(b1))) return parseNumber()
      else if (b0 == '<' && b1 == '<') return parseDict()
      else {
        val rem = cur.remaining
        @inline def at(i: Int): Int = cur.peekAt(i)
        if (rem > 3 && at(0) == 'n' && at(1) == 'u' && at(2) == 'l' && at(3) == 'l')
          return parseNull()
        if (rem > 4 && at(0) == 'f' && at(1) == 'a' && at(2) == 'l' && at(3) == 's' && at(4) == 'e')
          return parseBool()
        if (rem > 3 && at(0) == 't' && at(1) == 'r' && at(2) == 'u' && at(3) == 'e')
          return parseBool()
        return parseOperand()
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Inline image skip (pdf/contentstream/inline-image.go:303-458): property
    * pairs with Table-93/94 abbreviations (unknown -> error), then the data
    * scan for <ws>EI<ws> via the 4-state machine.
    */
  def parseInlineImage(): InlineImage = {
    val props = new PdfDict
    while (true) {
      cur.skipWhitespace()
      val obj = parseObject()
      if (obj != null) {
        val param = obj match {
          case n: PdfName => n.name
          case _ => throw new PdfError("Invalid inline image property (expecting name)")
        }
        val valueObj = parseObject()
        if (valueObj == null) throw new PdfError("Not expecting an operand")
        param match {
          case "BPC" | "BitsPerComponent" => props.set("BitsPerComponent", valueObj)
          case "CS" | "ColorSpace"        => props.set("ColorSpace", valueObj)
          case "D" | "Decode"             => props.set("Decode", valueObj)
          case "DP" | "DecodeParms"       => props.set("DecodeParms", valueObj)
          case "F" | "Filter"             => props.set("Filter", valueObj)
          case "H" | "Height"             => props.set("Height", valueObj)
          case "IM" | "ImageMask"         => props.set("ImageMask", valueObj)
          case "Intent"                   => props.set("Intent", valueObj)
          case "I" | "Interpolate"        => props.set("Interpolate", valueObj)
          case "W" | "Width"              => props.set("Width", valueObj)
          case other => throw new PdfError(s"Unknown inline image parameter $other")
        }
      } else {
        val operand = ContentParser.operator(cur.data, tokStart, tokEnd - tokStart)
        if (operand == "EI") return new InlineImage(props, Array.emptyByteArray)
        else if (operand == "ID") {
          // Skip one whitespace byte if present.
          val b = cur.peekByte
          if (b == -1) throw new EofExit
          if (isWhiteSpace(b)) cur.discard(1)
          val stream = new ByteArrayOutputStream()
          var state = 0
          val skipBytes = new ByteArrayOutputStream()
          while (true) {
            val c = cur.readByte()
            if (c == -1) throw new EofExit // "Unable to find end of image EI"
            state match {
              case 0 =>
                if (isWhiteSpace(c)) { skipBytes.reset(); skipBytes.write(c); state = 1 }
                else stream.write(c)
              case 1 =>
                skipBytes.write(c)
                if (c == 'E') state = 2
                else {
                  skipBytes.writeTo(stream); skipBytes.reset()
                  state = if (isWhiteSpace(c)) 1 else 0
                }
              case 2 =>
                skipBytes.write(c)
                if (c == 'I') state = 3
                else { skipBytes.writeTo(stream); skipBytes.reset(); state = 0 }
              case 3 =>
                skipBytes.write(c)
                if (isWhiteSpace(c)) return new InlineImage(props, stream.toByteArray)
                else { skipBytes.writeTo(stream); skipBytes.reset(); state = 0 }
            }
          }
          throw new IllegalStateException("unreachable")
        }
        // Other operands between BI and ID: loop continues (reference behavior).
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

object ContentParser {
  /** Operand keywords of Table A.1's operator summary. All are 1-3 bytes,
    * so each is keyed by its bytes packed into an Int with the length in the
    * top byte, in an open-addressing table.
    */
  private val known = Seq("b", "B", "b*", "B*", "BDC", "BI", "BMC", "BT", "BX", "c", "cm",
    "CS", "cs", "d", "d0", "d1", "Do", "DP", "EI", "EMC", "ET", "EX", "f",
    "F", "f*", "G", "g", "gs", "h", "i", "ID", "j", "J", "K", "k", "l",
    "m", "M", "MP", "n", "q", "Q", "re", "RG", "rg", "ri", "s", "S", "SC",
    "sc", "SCN", "scn", "sh", "T*", "Tc", "Td", "TD", "Tf", "Tj", "TJ",
    "TL", "Tm", "Tr", "Ts", "Tw", "Tz", "v", "w", "W", "W*", "y", "'",
    "\"")
  private final val Slots = 256
  private val keys = new Array[Int](Slots) // 0 = empty: a key's length byte is >= 1
  private val names = new Array[String](Slots)

  private def key(data: Array[Byte], from: Int, len: Int): Int = {
    var k = len << 24
    var i = 0
    while (i < len) { k |= (data(from + i) & 0xff) << (8 * i); i += 1 }
    k
  }
  private def slot(k: Int): Int = (k * 0x9e3779b1) >>> 24

  for (name <- known) {
    val k = key(name.getBytes(ISO_8859_1), 0, name.length)
    var s = slot(k)
    while (keys(s) != 0) s = (s + 1) & (Slots - 1)
    keys(s) = k
    names(s) = name
  }

  /** The operand keyword over data[from, from + len): a known keyword is
    * its shared String, read from the bytes without a copy; any other is a
    * new String.
    */
  private def operator(data: Array[Byte], from: Int, len: Int): String = {
    if (len <= 3) {
      val k = key(data, from, len)
      var s = slot(k)
      while (keys(s) != 0) {
        if (keys(s) == k) return names(s)
        s = (s + 1) & (Slots - 1)
      }
    }
    new String(data, from, len, ISO_8859_1)
  }
}
