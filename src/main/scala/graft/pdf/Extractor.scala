package graft.pdf

import java.io.ByteArrayOutputStream

import scala.util.control.NonFatal

import PdfObjs._

/** Result of extracting one page: raw output bytes + optional error message.
  * On error the buffer holds the PARTIAL text accumulated before the abort
  * (matching extractor.ExtractText's contract, pdf/extractor/text.go:224-228).
  */
final case class PageExtract(bytes: Array[Byte], error: Option[String])

/** The golden text-extraction operator handler (pdf/extractor/text.go:24-233).
  * Every branch below is a 1:1 port of the reference semantics:
  *
  *  - BT/ET gate all text ops (silently) except in the deprecated variant;
  *  - Tf reloads the ToUnicode CMap (codemap reset unconditionally; missing
  *    font in resources is an ABORT);
  *  - T* emits "\n"; Td/TD emit " " when tx>0 and "\n" when ty<0;
  *  - Tm reads only e,f and emits "\n" on descending y, "\t" on ascending x;
  *  - TJ emits mapped/raw string bytes, and a space for kern values < -100;
  *  - quote ops (' and ") and Do (XObjects) are NOT handled: their text is
  *    silently dropped;
  *  - any handler/processor error aborts and returns partial text.
  */
object TextExtractor {

  /** Modern extractor over one page's joined content streams, in one
    * streaming pass: each operation is lexed, then processed, with no
    * operation list. The reference parses the whole stream before it
    * processes any of it, so its error precedence is kept: a lex error
    * anywhere gives empty text and the lex error, also after a processing
    * error. After a processing error the rest of the stream is therefore
    * still lexed, unprocessed; only a clean end gives the partial text and
    * the processing error. A processing failure that is not a PdfError is
    * rethrown at that point, as the reference's caller saw it.
    */
  def extractText(content: Array[Byte], resources: PdfResources): PageExtract = {
    val parser = new ContentParser(content)
    val processor = new ContentProcessor(resources)
    // Presized to the content length (output text is bounded by ~the string
    // bytes of the stream): avoids the default-32-byte buffer's ~9 growth
    // doublings (~2x the text in copy traffic) per page. Capped so a huge
    // image-bearing stream doesn't over-allocate for a few text bytes.
    val text = new TextOps(resources, math.max(64, math.min(content.length, 1 << 20)))
    var failure: Throwable = null
    try {
      while (parser.next()) {
        if (failure == null) {
          try { processor.step(parser); text.step(parser) }
          catch {
            case t: PdfTimeout => throw t
            case NonFatal(t)   => failure = t
          }
        }
      }
    } catch {
      case t: PdfTimeout => throw t
      case e: PdfError   => return PageExtract(Array.emptyByteArray, Some(e.getMessage))
    }
    failure match {
      case null        => PageExtract(text.bytes, None)
      case e: PdfError => PageExtract(text.bytes, Some(e.getMessage))
      case t           => throw t
    }
  }

  /** The text operators' handler (text.go:44-221), run after the
    * processor's step on each operation, and the page's text, in a buffer
    * of `capacity` bytes to start with.
    */
  private final class TextOps(res: PdfResources, capacity: Int) {
    private val buf = new ByteArrayOutputStream(capacity)
    private var codemap: CMap = null
    private var inText = false
    private var xPos = -1.0
    private var yPos = -1.0

    private def isNum(o: PdfObj): Boolean = o.isInstanceOf[PdfInt] || o.isInstanceOf[PdfReal]
    private def num(o: PdfObj): Double = o match {
      case PdfInt(v) => v.toDouble
      case r: PdfReal => r.value
      case _ => throw new IllegalArgumentException("not a number")
    }

    def step(op: ContentParser): Unit = op.operand match {
      case "BT" => inText = true
      case "ET" => inText = false
      case "Tf" =>
        if (inText) {
          if (op.paramCount != 2) throw new PdfError("Incorrect parameter count")
          codemap = null
          val fontName = op.param(0) match {
            case PdfName(n) => n
            case _          => throw new PdfError("Tf range error")
          }
          // resources == null: keep going (text.go:66-68). An EMPTY (but
          // present) resources dict still errors on font lookup below.
          if (res != null) {
            res.getFontByName(fontName) match {
              case None => throw new PdfError("Font not in resources")
              case Some(fontObj0) =>
                PdfObjs.traceToDirect(fontObj0) match {
                  case fontDict: PdfDict =>
                    val toUnicode = fontDict.get("ToUnicode")
                    if (toUnicode != null) {
                      PdfObjs.traceToDirect(toUnicode) match {
                        case st: PdfStream =>
                          val decoded = Filters.decodeStream(st, identity)
                          codemap = CMapParser.load(decoded)
                        case _ => throw new PdfError("Invalid ToUnicode entry - not a stream")
                      }
                    }
                  case _ => ()
                }
            }
          }
        }
      case "T*" =>
        if (inText) buf.write('\n')
      case "Td" | "TD" =>
        if (inText && op.paramCount == 2) {
          val tx = op.param(0); val ty = op.param(1)
          if (isNum(tx) && isNum(ty)) { // else a parse failure: silent
            if (num(tx) > 0) buf.write(' ')
            if (num(ty) < 0) buf.write('\n')
          }
        }
      case "Tm" =>
        if (inText) {
          if (op.paramCount != 6) throw new PdfError("Tm: Invalid number of inputs")
          val eo = op.param(4); val fo = op.param(5)
          if (isNum(eo) && isNum(fo)) { // non-numeric e/f: silent
            val e = num(eo); val f = num(fo)
            var skip = false
            if (yPos == -1) yPos = f
            else if (yPos > f) {
              buf.write('\n')
              xPos = e; yPos = f
              skip = true
            }
            if (!skip) {
              if (xPos == -1) xPos = e
              else if (xPos < e) { buf.write('\t'); xPos = e }
            }
          }
        }
      case "TJ" =>
        if (inText && op.paramCount > 0) {
          val arr = op.param(0) match {
            case a: PdfArr => a
            case other => throw new PdfError(s"Invalid parameter type, no array (${other.getClass.getSimpleName})")
          }
          for (obj <- arr.items) obj match {
            case s: PdfStr => writeStr(s)
            case PdfReal(v) => if (v < -100) buf.write(' ')
            case PdfInt(v)  => if (v < -100) buf.write(' ')
            case _          => ()
          }
        }
      case "Tj" =>
        if (inText && op.paramCount > 0) {
          op.param(0) match {
            case s: PdfStr => writeStr(s)
            case other => throw new PdfError(s"Invalid parameter type, not string (${other.getClass.getSimpleName})")
          }
        }
      case _ => ()
    }

    private def writeStr(s: PdfStr): Unit =
      buf.write(if (codemap != null) codemap.charcodeBytesToUnicode(s.bytes) else s.bytes)

    /** The page's text so far. */
    def bytes: Array[Byte] = buf.toByteArray
  }

  /** Deprecated second extractor (pdf/contentstream/contentstream.go:110-198):
    * no CMap, Td/TD/T* emit "\n" UNCONDITIONALLY, Tm handled outside the
    * inText gate too, and type errors return EMPTY text + error.
    */
  def extractTextDeprecated(content: Array[Byte]): PageExtract = {
    val operations =
      try new ContentParser(content).parse()
      catch {
        case t: PdfTimeout => throw t
        case e: PdfError   => return PageExtract(Array.emptyByteArray, Some(e.getMessage))
      }
    val buf = new ByteArrayOutputStream()
    var inText = false
    var xPos = -1.0
    var yPos = -1.0
    def numAsFloat(o: PdfObj): Option[Double] = o match {
      case PdfInt(v)  => Some(v.toDouble)
      case PdfReal(v) => Some(v)
      case _          => None
    }
    for (op <- operations) {
      op.operand match {
        case "BT" => inText = true
        case "ET" => inText = false
        case _    => ()
      }
      if (op.operand == "Td" || op.operand == "TD" || op.operand == "T*") buf.write('\n')
      if (op.operand == "Tm" && op.params.length == 6) {
        (numAsFloat(op.params(4)), numAsFloat(op.params(5))) match {
          case (Some(e), Some(f)) =>
            var skip = false
            if (yPos == -1) yPos = f
            else if (yPos > f) { buf.write('\n'); xPos = e; yPos = f; skip = true }
            if (!skip) {
              if (xPos == -1) xPos = e
              else if (xPos < e) { buf.write('\t'); xPos = e }
            }
          case _ => ()
        }
      }
      if (inText && op.operand == "TJ") {
        if (op.params.nonEmpty) {
          op.params(0) match {
            case arr: PdfArr =>
              for (obj <- arr.items) obj match {
                case s: PdfStr  => buf.write(s.bytes)
                case PdfReal(v) => if (v < -100) buf.write(' ')
                case PdfInt(v)  => if (v < -100) buf.write(' ')
                case _          => ()
              }
            case _ => return PageExtract(Array.emptyByteArray, Some("Invalid parameter type, no array"))
          }
        }
      } else if (inText && op.operand == "Tj") {
        if (op.params.nonEmpty) {
          op.params(0) match {
            case s: PdfStr => buf.write(s.bytes)
            case _ => return PageExtract(Array.emptyByteArray, Some("Invalid parameter type, not string"))
          }
        }
      }
    }
    PageExtract(buf.toByteArray, None)
  }
}
