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
  */
final class ContentParser(content0: Array[Byte]) {
  import PdfTokens.eofExit
  // virtual trailing '\n' (parser.go:32) without copying the payload
  private val cur = new ByteCursor(content0, trailingNewline = true)

  // Two-entry MRU over operand byte patterns: real streams alternate a tiny
  // operand set (Td/Tj runs), so most ops skip the per-op String allocation
  // + intern lookup entirely. Misses delegate to the original path.
  private var mruA: Array[Byte] = null
  private var mruAs: String = null
  private var mruB: Array[Byte] = null
  private var mruBs: String = null

  private def internOperand(bytes: Array[Byte]): String = {
    if (mruA != null && java.util.Arrays.equals(mruA, bytes)) return mruAs
    if (mruB != null && java.util.Arrays.equals(mruB, bytes)) {
      // promote to front
      val tb = mruB; val ts = mruBs
      mruB = mruA; mruBs = mruAs
      mruA = tb; mruAs = ts
      return mruAs
    }
    val s = ContentParser.operandString(bytes)
    mruB = mruA; mruBs = mruAs
    mruA = bytes; mruAs = s
    s
  }

  /** Parse all operations (pdf/contentstream/parser.go:39-73). */
  def parse(): mutable.ArrayBuffer[ContentOp] = {
    val operations = mutable.ArrayBuffer.empty[ContentOp]
    try {
      var opCount = 0
      while (true) {
        opCount += 1
        if ((opCount & 0x3ff) == 0) Deadline.check()
        val params = mutable.ArrayBuffer.empty[PdfObj]
        var operand: String = null
        while (operand == null) {
          val (obj, isOperand) = parseObject()
          if (isOperand) operand = internOperand(obj.asInstanceOf[PdfStr].bytes)
          else params += obj
        }
        val op = ContentOp(operand, params)
        operations += op
        // EOF INSIDE an inline image is an error, not a clean stream end:
        // the reference's ParseInlineImage returns io.EOF as an error and
        // Parse() propagates it (only a bare EOF at the top of the token
        // loop ends parsing successfully) — a truncated BI..ID payload must
        // abort with partial text, not extract as ok.
        if (operand == "BI") {
          op.params +=
            (try parseInlineImage()
            catch { case _: EofExit => throw new PdfError("EOF in inline image") })
        }
      }
    } catch {
      case _: EofExit => // successful exit point
    }
    operations
  }

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
        val (obj, _) = parseObject()
        arr.items += obj
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
          val (v, _) = parseObject()
          dict.set(keyName, v)
        }
      }
    }
    dict
  }

  /** parser.go:497-516: operand = run of non-ws non-delimiter bytes; EOF
    * mid-operand drops the operand (clean stream end).
    */
  private def parseOperand(): PdfStr = {
    // Direct span scan over the backing array (one copy, no BAOS); the
    // virtual trailing '\n' at pos == data.length is whitespace and
    // terminates the operand exactly like the original loop. A true EOF
    // (pos == size, only possible without the virtual byte) still EOF-exits.
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
    val out = java.util.Arrays.copyOfRange(data, start, math.min(p, dlen))
    cur.pos = p
    new PdfStr(out)
  }

  /** parser.go:521-591. Returns (object, isOperand). */
  def parseObject(): (PdfObj, Boolean) = {
    cur.skipWhitespace()
    while (true) {
      if (cur.remaining < 2) throw new EofExit
      val b0 = cur.peekByte; val b1 = cur.peekAt(1)
      if (b0 == '%') cur.skipComments(eofExit)
      else if (b0 == '/') return (PdfName(PdfTokens.name(cur, eofExit)), false)
      else if (b0 == '(') return (new PdfStr(PdfTokens.literalString(cur, eofExit)), false)
      else if (b0 == '<' && b1 != '<') return (new PdfStr(PdfTokens.hexDigits(cur, eofExit)), false)
      else if (b0 == '[') return (parseArray(), false)
      else if (isFloatDigit(b0) || (b0 == '-' && isFloatDigit(b1))) return (parseNumber(), false)
      else if (b0 == '<' && b1 == '<') return (parseDict(), false)
      else {
        val rem = cur.remaining
        @inline def at(i: Int): Int = cur.peekAt(i)
        if (rem > 3 && at(0) == 'n' && at(1) == 'u' && at(2) == 'l' && at(3) == 'l')
          return (parseNull(), false)
        if (rem > 4 && at(0) == 'f' && at(1) == 'a' && at(2) == 'l' && at(3) == 's' && at(4) == 'e')
          return (parseBool(), false)
        if (rem > 3 && at(0) == 't' && at(1) == 'r' && at(2) == 'u' && at(3) == 'e')
          return (parseBool(), false)
        val operand = parseOperand()
        if (operand.bytes.length < 1) throw new PdfError("Invalid operand")
        return (operand, true)
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
      val (obj, isOperand) = parseObject()
      if (!isOperand) {
        val param = obj match {
          case n: PdfName => n.name
          case _ => throw new PdfError("Invalid inline image property (expecting name)")
        }
        val (valueObj, valIsOp) = parseObject()
        if (valIsOp) throw new PdfError("Not expecting an operand")
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
        val operand = new String(obj.asInstanceOf[PdfStr].bytes, ISO_8859_1)
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
  /** Known operand keywords interned to avoid a String allocation per op
    * (Table A.1 operator summary; unknown operands still allocate).
    */
  private val knownOperands: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    Seq("b", "B", "b*", "B*", "BDC", "BI", "BMC", "BT", "BX", "c", "cm",
      "CS", "cs", "d", "d0", "d1", "Do", "DP", "EI", "EMC", "ET", "EX", "f",
      "F", "f*", "G", "g", "gs", "h", "i", "ID", "j", "J", "K", "k", "l",
      "m", "M", "MP", "n", "q", "Q", "re", "RG", "rg", "ri", "s", "S", "SC",
      "sc", "SCN", "scn", "sh", "T*", "Tc", "Td", "TD", "Tf", "Tj", "TJ",
      "TL", "Tm", "Tr", "Ts", "Tw", "Tz", "v", "w", "W", "W*", "y", "'",
      "\"").foreach(op => m.put(op, op))
    m
  }

  private[pdf] def operandString(bytes: Array[Byte]): String = {
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val interned = knownOperands.get(s)
    if (interned != null) interned else s
  }
}
