package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1

import scala.collection.mutable

import PdfObjs._
import PdfPatterns._

/** Cross-reference entry: either a direct file offset or a location inside an
  * object stream (reference: pdf/core/crossrefs.go:20-46).
  */
final case class XrefEntry(
    xtype: Int, // 0 = table entry (offset), 1 = object stream
    objectNumber: Int,
    generation: Int,
    offset: Long,
    osObjNumber: Int,
    osObjIndex: Int)

object XrefEntry {
  val TableEntry = 0
  val ObjectStream = 1
  def table(num: Int, gen: Int, offset: Long): XrefEntry =
    XrefEntry(TableEntry, num, gen, offset, 0, 0)
  def objStream(num: Int, osNum: Int, osIdx: Int): XrefEntry =
    XrefEntry(ObjectStream, num, 0, 0, osNum, osIdx)
}

/** The parser's xref map, plus the sorted offsets that stream-length
  * validation searches. Every write reaches `addOne`, `subtractOne` or
  * `clear` (the inherited `update`, `++=` and friends call them), and each
  * drops the sorted copy, so it is rebuilt after xref-stream loads and
  * repairs, on the next query.
  */
final class XrefTable extends mutable.AbstractMap[Int, XrefEntry] {
  private val entries = mutable.HashMap.empty[Int, XrefEntry]
  private var sortedOffsets: Array[Long] = null

  def get(num: Int): Option[XrefEntry] = entries.get(num)
  def iterator: Iterator[(Int, XrefEntry)] = entries.iterator
  override def size: Int = entries.size
  def addOne(kv: (Int, XrefEntry)): this.type = { entries.addOne(kv); sortedOffsets = null; this }
  def subtractOne(num: Int): this.type = { entries.subtractOne(num); sortedOffsets = null; this }
  override def clear(): Unit = { entries.clear(); sortedOffsets = null }

  /** The least entry offset above `offset`, or 0 when there is none
    * (pdf/core/parser.go:1277-1285, a scan of every xref per stream): one
    * binary search, so validating all n streams costs O(n log n), not O(n²).
    */
  def nextOffsetAfter(offset: Long): Long = {
    if (sortedOffsets == null) {
      sortedOffsets = entries.valuesIterator.map(_.offset).toArray
      java.util.Arrays.sort(sortedOffsets)
    }
    var lo = 0
    var hi = sortedOffsets.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (sortedOffsets(mid) > offset) hi = mid else lo = mid + 1
    }
    if (lo < sortedOffsets.length) sortedOffsets(lo) else 0L
  }
}

private final case class ObjStm(n: Int, ds: Array[Byte], offsets: Map[Int, Long])

/** One xref-table line (pdf/core/parser.go:684-789): a subsection header
  * `(\d+)S+(\d+)S*$` or an entry `(\d+)S+(\d+)S+([nf])S*$`, tried in that
  * order with find() and Go's `$`, the end of the text. (Java's `$` would
  * also match before a final U+0085, which a latin-1 line may end in.) The
  * line is read backward: after the trailing S run, a digit ends a
  * subsection and an 'n' or 'f' an entry. Digit and S runs are maximal, so
  * group 1 is the whole digit run the leftmost match starts with. Returns
  * null for any other line. The groups are parsed with the reference's
  * calls, so a number too large for them throws NumberFormatException.
  */
private[pdf] object XrefLine {
  /** kind: 1 = subsection(first), 2 = entry(first, gen, isN). */
  final class Parsed(val kind: Int, val first: Long, val gen: Int, val isN: Boolean)

  def classify(txt: String): Parsed = {
    // start of the S (digit) run that ends at `end`
    def spacesTo(end: Int): Int = { var p = end; while (p > 0 && isSpace(txt.charAt(p - 1))) p -= 1; p }
    def digitsTo(end: Int): Int = { var p = end; while (p > 0 && isDigit(txt.charAt(p - 1))) p -= 1; p }
    val e = spacesTo(txt.length)
    val entry = e > 0 && { val c = txt.charAt(e - 1); c == 'n' || c == 'f' }
    val genEnd = if (entry) spacesTo(e - 1) else e
    val genStart = digitsTo(genEnd)
    val firstEnd = spacesTo(genStart)
    val firstStart = digitsTo(firstEnd)
    if ((entry && genEnd == e - 1) || genStart == genEnd || firstEnd == genStart ||
      firstStart == firstEnd) return null
    val first = txt.substring(firstStart, firstEnd)
    if (!entry) new Parsed(1, first.toInt.toLong, 0, false)
    else new Parsed(2, first.toLong, txt.substring(genStart, genEnd).toInt, txt.charAt(e - 1) == 'n')
  }

  @inline private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'
}

/** The object header `(\d+)S+(\d+)S+obj` (pdf/core/parser.go:23-33) with
  * find() semantics over data[from, until): the leftmost match, or null. A
  * match can only start at the first digit of a run (digit and S runs are
  * maximal), so each run is tried once.
  */
private[pdf] final class ObjHeader(val start: Int, numEnd: Int, genStart: Int, genEnd: Int,
                                   val end: Int) {
  /** Groups 1 and 2: the object and generation numbers. */
  def num(data: Array[Byte]): String = new String(data, start, numEnd - start, ISO_8859_1)
  def gen(data: Array[Byte]): String = new String(data, genStart, genEnd - genStart, ISO_8859_1)
}

private[pdf] object ObjHeader {
  def find(data: Array[Byte], from: Int, until: Int): ObjHeader = {
    def digits(i0: Int): Int = { var i = i0; while (i < until && isDecimalDigit(data(i) & 0xff)) i += 1; i }
    def spaces(i0: Int): Int = { var i = i0; while (i < until && isSpace(data(i) & 0xff)) i += 1; i }
    var i = from
    while (i < until) {
      if (!isDecimalDigit(data(i) & 0xff)) i += 1
      else {
        val numEnd = digits(i)
        val genStart = spaces(numEnd)
        if (genStart > numEnd) {
          val genEnd = digits(genStart)
          val o = spaces(genEnd)
          if (genEnd > genStart && o > genEnd && o + 3 <= until &&
            data(o) == 'o' && data(o + 1) == 'b' && data(o + 2) == 'j')
            return new ObjHeader(i, numEnd, genStart, genEnd, o + 3)
        }
        i = numEnd
      }
    }
    null
  }
}

/** File-layer parser for one in-memory PDF document. Mirrors the reference's
  * PdfParser lifecycle (pdf/core/parser.go:1509-1542): load xrefs bottom-up
  * (classic tables, xref streams, hybrid /XRefStm, /Prev chains with a
  * circular guard), then expose object lookup with memoization, object-stream
  * expansion, and the four repair paths of pdf/core/repairs.go.
  */
final class PdfFileParser(val data: Array[Byte]) {
  val cur = new ByteCursor(data)
  val lex = new ObjLexer(cur)

  val xrefs = new XrefTable
  private val objstms = mutable.HashMap.empty[Int, ObjStm]
  val objCache = mutable.HashMap.empty[Int, PdfObj]
  var trailer: PdfDict = _
  var majorVersion = 0
  var minorVersion = 0
  /** Standard-security-handler crypter, set by the document layer after a
    * successful authenticate; lookups decrypt through it (crossrefs.go:205-221).
    */
  var crypter: PdfCrypt = _
  private var repairsAttempted = false
  private val streamLengthLookupInProgress = mutable.HashSet.empty[Long]

  def fileSize: Long = data.length.toLong

  // ------------------------------------------------------------------ setup

  /** NewParser equivalent. Throws PdfError on unrecoverable failure. */
  def load(): Unit = {
    trailer = loadXrefs()
    if (xrefs.isEmpty) throw new PdfError("Empty XREF table - Invalid")
    val (ma, mi) = parsePdfVersion()
    majorVersion = ma; minorVersion = mi
  }

  def isEncrypted: Boolean = trailer != null && trailer.get("Encrypt") != null

  /** pdf/core/parser.go:650-681 with the repairs.go:253-286 top-down fallback. */
  def parsePdfVersion(): (Int, Int) = {
    val head = new String(data, 0, math.min(20, data.length), ISO_8859_1)
    val m = pdfVersion.matcher(head)
    if (m.find()) (m.group(1).toInt, m.group(2).toInt)
    else {
      // Top-down scan for the "PDF-x.y" signature.
      var k = 0
      while (k < data.length) {
        if (k >= 6 && isDecimalDigit(data(k) & 0xff) &&
          (data(k - 1) & 0xff) == '.' && isDecimalDigit(data(k - 2) & 0xff) &&
          (data(k - 3) & 0xff) == '-' && (data(k - 4) & 0xff) == 'F' &&
          (data(k - 5) & 0xff) == 'D' && (data(k - 6) & 0xff) == 'P')
          return ((data(k - 2) & 0xff) - '0', (data(k) & 0xff) - '0')
        k += 1
      }
      throw new PdfError("Version not found")
    }
  }

  // ------------------------------------------------------------------ xrefs

  /** pdf/core/parser.go:1138-1274. */
  private[pdf] def loadXrefs(): PdfDict = {
    val fSize = fileSize
    val eofPos = seekToEOFMarker(fSize)
    // 64-byte back-window ending at the %%EOF marker start (parser.go:1163-1179).
    val winStart = math.max(0L, eofPos - 64).toInt
    val winLen = math.min(64, data.length - winStart)
    val window = new String(data, winStart, winLen, ISO_8859_1)
    val m = startXref.matcher(window)
    if (!m.find()) throw new PdfError("Startxref not found")
    var offsetXref = m.group(1).toLong
    if (offsetXref > fSize) {
      offsetXref = repairLocateXref(eofPos)
    }
    cur.seek(offsetXref)
    var trailerDict = parseXref()

    // Hybrid-reference file: XRefStm in trailer.
    val xx = trailerDict.get("XRefStm")
    if (xx != null) {
      xx match {
        case PdfInt(off) => parseXrefStream(Some(off))
        case _           => throw new PdfError("XRefStm != int")
      }
    }

    // Follow Prev chain (older revisions), circular-guarded.
    val prevList = mutable.HashSet.empty[Long]
    var prev = trailerDict.get("Prev")
    var break = false
    while (prev != null && !break) {
      prev match {
        case PdfInt(off) =>
          cur.seek(off)
          val pt =
            try parseXref()
            catch { case _: PdfError => break = true; null }
          if (!break) {
            val nxt = pt.get("Prev")
            if (nxt != null) {
              nxt match {
                case PdfInt(po) =>
                  if (prevList.contains(po)) break = true
                  else prevList += po
                case _ =>
              }
            }
            prev = nxt
          }
        case _ =>
          // Invalid Prev: keep whatever xrefs are loaded (compat path).
          return trailerDict
      }
    }
    trailerDict
  }

  /** Backward windowed scan (1000 bytes) for the LAST %%EOF; returns its
    * start offset (pdf/core/parser.go:1079-1117). Windows are walked from
    * the end, and each is scanned backward for the last marker wholly
    * inside it, so a marker that straddles two windows is found in neither,
    * as in the reference.
    */
  private[pdf] def seekToEOFMarker(fSize: Long): Long = {
    var offset = 0L
    var buflen = 1000L
    while (offset < fSize) {
      if (fSize <= buflen + offset) buflen = fSize - offset
      val start = (fSize - offset - buflen).toInt
      var i = start + buflen.toInt - 5
      while (i >= start) {
        if (data(i) == '%' && data(i + 1) == '%' && data(i + 2) == 'E' &&
            data(i + 3) == 'O' && data(i + 4) == 'F') return i
        i -= 1
      }
      offset += buflen
    }
    throw new PdfError("EOF not found")
  }

  /** pdf/core/parser.go:1040-1075 dispatch. */
  private def parseXref(): PdfDict = {
    if (headerAtCursor() != null) parseXrefStream(None)
    else if (xrefTable.matcher(str(cur.peek(20))).find()) parseXrefTable()
    else {
      repairSeekXrefMarker()
      parseXrefTable()
    }
  }

  /** Classic xref table (pdf/core/parser.go:684-789). */
  private[pdf] def parseXrefTable(): PdfDict = {
    var trailerDict: PdfDict = null
    lex.readTextLine() // "xref" line
    var curObjNum = -1
    var insideSubsection = false
    var done = false
    while (!done) {
      lex.skipSpaces()
      if (cur.atEof) throw new PdfError("EOF in xref table")
      val txt = lex.readTextLine()
      val line = XrefLine.classify(txt)
      if (line != null && line.kind == 1) {
        curObjNum = line.first.toInt
        insideSubsection = true
      } else if (line != null) {
        if (!insideSubsection) throw new PdfError("Xref invalid format")
        if (line.isN && line.first > 1) {
          val existing = xrefs.get(curObjNum)
          if (existing.isEmpty || line.gen > existing.get.generation)
            xrefs(curObjNum) = XrefEntry.table(curObjNum, line.gen, line.first)
        }
        curObjNum += 1
      } else if (txt.length > 6 && txt.startsWith("trailer")) {
        // Rewind when "trailer <<" is glued on one line (parser.go:757-777).
        if (txt.length > 9) cur.seek(cur.offset - txt.length + 7)
        lex.skipSpaces()
        lex.skipComments()
        trailerDict = lex.parseDict()
        done = true
      } else if (txt == "%%EOF") {
        throw new PdfError("End of file - trailer not found")
      }
      // otherwise: tolerated noise line, keep scanning
    }
    trailerDict
  }

  /** Xref stream object (pdf/core/parser.go:793-1036). */
  private[pdf] def parseXrefStream(atOffset: Option[Long]): PdfDict = {
    atOffset.foreach(cur.seek)
    val xrefObj = parseIndirectObject()
    val xs = xrefObj match {
      case s: PdfStream => s
      case _            => throw new PdfError("XRefStm pointing to a non-stream object")
    }
    val trailerDict = xs.dict
    val size = xs.dict.get("Size") match {
      case PdfInt(v) => v
      case _         => throw new PdfError("Missing Size from xref stm")
    }
    if (size > 8388607) throw new PdfError("Range check error") // DoS guard
    val wArr = xs.dict.get("W") match {
      case a: PdfArr => a
      case _         => throw new PdfError("Invalid W in xref stream")
    }
    if (wArr.length != 3) throw new PdfError("Unsupported xref stm len(W) != 3")
    val b = wArr.items.map {
      case PdfInt(v) => v
      case _         => throw new PdfError("Invalid w object type")
    }.toArray
    val ds = Filters.decodeStream(xs, identity)
    val s0 = b(0).toInt
    val s1 = (b(0) + b(1)).toInt
    val s2 = (b(0) + b(1) + b(2)).toInt
    val deltab = s2
    if (s0 < 0 || s1 < 0 || s2 < 0) throw new PdfError("Range check error")
    if (deltab == 0) return trailerDict
    val entries = ds.length / deltab

    var objCount = 0
    val indexList = mutable.ArrayBuffer.empty[Int]
    val indexObj = xs.dict.get("Index")
    if (indexObj != null) {
      val indicesArray = indexObj match {
        case a: PdfArr => a
        case _         => throw new PdfError("Invalid Index object")
      }
      if (indicesArray.length % 2 != 0) throw new PdfError("Range check error")
      val indices = indicesArray.items.map {
        case PdfInt(v) => v.toInt
        case _         => throw new PdfError("Index array element not an integer")
      }
      var i = 0
      while (i < indices.length) {
        val startIdx = indices(i); val numObjs = indices(i + 1)
        var j = 0
        while (j < numObjs) { indexList += startIdx + j; j += 1 }
        objCount += numObjs
        i += 2
      }
    } else {
      var i = 0
      while (i < size.toInt) { indexList += i; i += 1 }
      objCount = size.toInt
    }
    if (entries == objCount + 1) { // off-by-one tolerance (parser.go:929-934)
      indexList += objCount
      objCount += 1
    }
    if (entries != indexList.length)
      throw new PdfError("Xref stm num entries != len(indices)")

    def convertBytes(v: Array[Byte], from: Int, to: Int): Long = {
      var tmp = 0L
      var i = from
      while (i < to) { tmp = (tmp << 8) + (v(i) & 0xff); i += 1 }
      tmp
    }

    var objIndex = 0
    var i = 0
    var break = false
    // A PARTIAL trailing row is an error, not a tolerated remainder: the
    // reference iterates `i < len(ds)` and its checkBounds on the short
    // slice fails the whole xref-stream load (parser.go row loop) — the
    // error is what routes such documents into repair.
    if (ds.length % deltab != 0)
      throw new PdfError("Invalid slice range in xref stream rows")
    while (i + deltab <= ds.length && !break) {
      var ftype = convertBytes(ds, i, i + s0)
      val n2 = convertBytes(ds, i + s0, i + s1)
      val n3 = convertBytes(ds, i + s1, i + s2)
      if (b(0) == 0) ftype = 1 // W[0]==0 defaults to type 1
      if (objIndex >= indexList.length) break = true
      else {
        val objNum = indexList(objIndex)
        objIndex += 1
        if (ftype == 1) {
          val existing = xrefs.get(objNum)
          if (existing.isEmpty || n3.toInt > existing.get.generation)
            xrefs(objNum) = XrefEntry.table(objNum, n3.toInt, n2)
        } else if (ftype == 2) {
          if (!xrefs.contains(objNum))
            xrefs(objNum) = XrefEntry.objStream(objNum, n2.toInt, n3.toInt)
        } // type 0 (free) and unknown types: skipped -> null object
      }
      i += deltab
    }
    trailerDict
  }

  // ---------------------------------------------------------------- repairs

  /** startxref beyond EOF: search 1000 bytes back for a standard xref table
    * marker (pdf/core/repairs.go:27-47). `curAbs` is the position after the
    * startxref read window.
    */
  private def repairLocateXref(posAfterStartxrefWindow: Long): Long = {
    val readBuf = 1000L
    val curOffset = math.max(0L, posAfterStartxrefWindow - readBuf)
    val n = math.min(readBuf, data.length - curOffset).toInt
    val s = new String(data, curOffset.toInt, n, ISO_8859_1)
    val m = repairXrefTable.matcher(s)
    var lastIdx = -1
    while (m.find()) lastIdx = m.start()
    if (lastIdx < 0) throw new PdfError("Repair: xref not found")
    curOffset + lastIdx
  }

  /** No xref found at the startxref offset: scan backwards from file end for
    * the first xref marker (pdf/core/repairs.go:188-249).
    */
  private def repairSeekXrefMarker(): Unit = {
    val fSize = fileSize
    var offset = 0L
    var buflen = 1000L
    while (offset < fSize) {
      if (fSize <= buflen + offset) buflen = fSize - offset
      val start = (fSize - offset - buflen).toInt
      val s = new String(data, start, buflen.toInt, ISO_8859_1)
      val m = repairXrefStart.matcher(s)
      var lastIdx = -1
      while (m.find()) lastIdx = m.start()
      if (lastIdx >= 0) {
        cur.seek(start + lastIdx)
        while (!cur.atEof && isWhiteSpace(cur.peekByte)) cur.discard(1)
        return
      }
      offset += buflen
    }
    throw new PdfError("xref not found ")
  }

  /** Full top-down scan for "N G obj" signatures; once per file
    * (pdf/core/repairs.go:100-185).
    */
  def repairRebuildXrefsTopDown(): mutable.HashMap[Int, XrefEntry] = {
    if (repairsAttempted) throw new PdfError("Repair failed")
    repairsAttempted = true
    val table = mutable.HashMap.empty[Int, XrefEntry]
    val bufLen = 20
    def lastAt(k: Int, j: Int): Int = { // byte at window index j when current byte index is k
      val off = k - (bufLen - j)
      if (off >= 0 && off < data.length) data(off) & 0xff else 0
    }
    var k = 0
    while (k < data.length) {
      val bb = data(k) & 0xff
      if (bb == 'j' && lastAt(k, bufLen - 1) == 'b' && lastAt(k, bufLen - 2) == 'o' &&
        isWhiteSpace(lastAt(k, bufLen - 3))) {
        var i = bufLen - 4
        var ok = true
        while (isWhiteSpace(lastAt(k, i)) && i > 0) i -= 1
        if (i == 0 || !isDecimalDigit(lastAt(k, i))) ok = false
        if (ok) {
          while (isDecimalDigit(lastAt(k, i)) && i > 0) i -= 1
          if (i == 0 || !isWhiteSpace(lastAt(k, i))) ok = false
        }
        if (ok) {
          while (isWhiteSpace(lastAt(k, i)) && i > 0) i -= 1
          if (i == 0 || !isDecimalDigit(lastAt(k, i))) ok = false
        }
        if (ok) {
          while (isDecimalDigit(lastAt(k, i)) && i > 0) i -= 1
          if (i == 0) ok = false
        }
        if (ok) {
          // the scanned signature is data[objOffset, k]
          val objOffset = (k + 1).toLong - (bufLen - i)
          val h = ObjHeader.find(data, objOffset.toInt, k + 1)
          if (h == null) throw new PdfError("Unable to detect indirect object signature")
          val objNum = h.num(data).toInt
          val genNum = h.gen(data).toInt
          val existing = table.get(objNum)
          if (existing.isEmpty || existing.get.generation < genNum)
            table(objNum) = XrefEntry.table(objNum, genNum, objOffset)
        }
      }
      k += 1
    }
    table
  }

  /** Renumber xrefs by the object numbers actually found at their offsets
    * (pdf/core/repairs.go:52-82).
    */
  private def rebuildXrefTable(): Unit = {
    val newXrefs = mutable.HashMap.empty[Int, XrefEntry]
    val items = xrefs.toSeq
    for ((objNum, xref) <- items) {
      val obj =
        try lookupByNumber(objNum, attemptRepairs = false)
        catch {
          case _: PdfError =>
            val rebuilt = repairRebuildXrefsTopDown()
            xrefs.clear(); xrefs ++= rebuilt
            return
        }
      val (actNum, actGen) = obj match {
        case io: PdfIndirect => (io.num, io.gen)
        case so: PdfStream   => (so.num, so.gen)
        case _               => throw new PdfError("Not an indirect/stream object")
      }
      newXrefs(actNum.toInt) = xref.copy(objectNumber = actNum.toInt, generation = actGen.toInt)
    }
    xrefs.clear(); xrefs ++= newXrefs
  }

  // ---------------------------------------------------------------- lookups

  def lookup(objNumber: Int): PdfObj = lookupByNumber(objNumber, attemptRepairs = true)

  /** pdf/core/crossrefs.go:235-329. Missing xref entry -> PdfNull (NOT an
    * error); parse failure -> top-down repair then retry once; object-number
    * mismatch -> xref rebuild, cache flush, retry.
    */
  private def lookupByNumber(objNumber: Int, attemptRepairs: Boolean): PdfObj = {
    Deadline.check()
    objCache.get(objNumber) match {
      case Some(o) => return o
      case None    =>
    }
    xrefs.get(objNumber) match {
      case None => PdfNull
      case Some(xref) if xref.xtype == XrefEntry.TableEntry =>
        cur.seek(xref.offset)
        val obj =
          try parseIndirectObject()
          catch {
            case e: PdfError =>
              if (attemptRepairs) {
                val rebuilt = repairRebuildXrefsTopDown()
                xrefs.clear(); xrefs ++= rebuilt
                return lookupByNumber(objNumber, attemptRepairs = false)
              } else throw e
          }
        if (attemptRepairs) {
          val realNum = obj match {
            case io: PdfIndirect => io.num
            case so: PdfStream   => so.num
            case _               => -1L
          }
          if (realNum.toInt != objNumber) {
            rebuildXrefTable()
            objCache.clear()
            return lookupByNumber(objNumber, attemptRepairs = false)
          }
        }
        objCache(objNumber) = obj
        if (crypter != null && !crypter.isDecrypted(obj)) crypter.decrypt(obj, 0, 0)
        obj
      case Some(xref) =>
        // Compressed object inside an object stream.
        if (xref.osObjNumber == objNumber) throw new PdfError("Xref circular reference")
        if (!xrefs.contains(xref.osObjNumber))
          throw new PdfError("OS belongs to a non cross referenced object")
        val optr = lookupObjectViaOS(xref.osObjNumber, objNumber)
        objCache(objNumber) = optr
        // Objects inside object streams are never encrypted themselves
        // (the container stream was): mark as decrypted (crossrefs.go:317-321).
        if (crypter != null) crypter.markDecrypted(optr)
        optr
    }
  }

  /** pdf/core/crossrefs.go:67-194: decode the /Type /ObjStm container, parse
    * its "objnum offset" header pairs, then parse the member at its offset.
    *
    * Depth-capped: MUTUAL objstm cycles (object A compressed in container B
    * whose entry says it is compressed in A) recurse through lookup() and
    * the self-reference check cannot see them — capped like every other
    * recursive parser (fixed JVM stacks; a clean error beats a
    * StackOverflowError from an arbitrary frame).
    */
  private var osLookupDepth = 0
  private def lookupObjectViaOS(sobjNumber: Int, objNum: Int): PdfObj = {
    osLookupDepth += 1
    try {
      if (osLookupDepth > 32) throw new PdfError("Object stream reference cycle")
      lookupObjectViaOSImpl(sobjNumber, objNum)
    } finally osLookupDepth -= 1
  }

  private def lookupObjectViaOSImpl(sobjNumber: Int, objNum: Int): PdfObj = {
    val objstm = objstms.getOrElse(sobjNumber, {
      val soi = lookup(sobjNumber)
      val so = soi match {
        case s: PdfStream => s
        case _            => throw new PdfError("Invalid object stream")
      }
      val typeName = so.dict.get("Type") match {
        case PdfName(n) => n
        case _          => throw new PdfError("Object stream missing Type")
      }
      if (typeName.toLowerCase != "objstm")
        throw new PdfError("Object stream type != ObjStm")
      val n = so.dict.get("N") match {
        case PdfInt(v) => v.toInt
        case _         => throw new PdfError("Invalid N in stream dictionary")
      }
      val first = so.dict.get("First") match {
        case PdfInt(v) => v
        case _         => throw new PdfError("Invalid First in stream dictionary")
      }
      val ds = Filters.decodeStream(so, identity)
      val sub = new ObjLexer(new ByteCursor(ds))
      val offsets = mutable.HashMap.empty[Int, Long]
      var i = 0
      while (i < n) {
        sub.skipSpaces()
        val onum = sub.parseNumber() match {
          case PdfInt(v) => v.toInt
          case _         => throw new PdfError("Invalid object stream offset table")
        }
        sub.skipSpaces()
        val off = sub.parseNumber() match {
          case PdfInt(v) => v
          case _         => throw new PdfError("Invalid object stream offset table")
        }
        offsets(onum) = first + off
        i += 1
      }
      val st = ObjStm(n, ds, offsets.toMap)
      objstms(sobjNumber) = st
      st
    })
    val offset = objstm.offsets.getOrElse(objNum, 0L)
    val subCur = new ByteCursor(objstm.ds)
    subCur.seek(offset)
    val sub = new ObjLexer(subCur)
    val v = sub.parseObject()
    if (v == null) throw new PdfError("Object cannot be null")
    new PdfIndirect(objNum.toLong, 0L, v)
  }

  /** Trace a reference to a direct object (pdf/core/crossrefs.go:339-366).
    * Double indirection is an error; stream/null objects pass through.
    */
  def trace(obj: PdfObj): PdfObj = obj match {
    case ref: PdfRef =>
      val saved = cur.offset
      try {
        val o = lookup(ref.num.toInt)
        o match {
          case io: PdfIndirect =>
            io.obj match {
              case _: PdfRef => throw new PdfError("Multi depth trace pointer to pointer")
              case inner     => inner
            }
          case other => other
        }
      } finally cur.seek(saved)
    case _ => obj
  }

  // --------------------------------------------------- indirect object parse

  /** Stream /Length tracing with the recursion guard
    * (pdf/core/parser.go:1289-1313).
    */
  private def traceStreamLength(lengthObj: PdfObj): PdfObj = {
    lengthObj match {
      case ref: PdfRef =>
        if (streamLengthLookupInProgress.contains(ref.num))
          throw new PdfError("Illegal recursive loop")
        streamLengthLookupInProgress += ref.num
        try trace(lengthObj)
        finally streamLengthLookupInProgress -= ref.num
      case _ => trace(lengthObj)
    }
  }

  /** The object header in the 20 bytes at the cursor, as the reference peeks. */
  private def headerAtCursor(): ObjHeader =
    ObjHeader.find(data, cur.pos, math.min(cur.pos + 20, data.length))

  /** pdf/core/parser.go:1318-1490, including the non-conformant stream-EOL
    * handling and the next-xref-offset length correction.
    */
  def parseIndirectObject(): PdfObj = {
    // the header may sit anywhere in the window; the cursor moves past it
    val h = headerAtCursor()
    if (h == null) throw new PdfError("Unable to detect indirect object signature")
    val objNum = h.num(data).toLong
    val genNum = h.gen(data).toLong
    cur.pos = h.end
    var inner: PdfObj = null

    while (true) {
      val pk = cur.peek(2)
      if (pk.length < 2) throw new PdfError("EOF in indirect object")
      val b0 = pk(0) & 0xff; val b1 = pk(1) & 0xff
      if (isWhiteSpace(b0)) lex.skipSpaces()
      else if (b0 == '%') lex.skipComments()
      else if (b0 == '<' && b1 == '<') inner = lex.parseDict()
      else if (b0 == '/' || b0 == '(' || b0 == '[' || b0 == '<') inner = lex.parseObject()
      else if (b0 == 'e') {
        val lineStr = lex.readTextLine()
        if (lineStr.length >= 6 && lineStr.startsWith("endobj"))
          return new PdfIndirect(objNum, genNum, if (inner == null) PdfNull else inner)
        // Non-endobj 'e' line: the reference consumes the line, parses ONE
        // object from whatever follows and RETURNS immediately
        // (parser.go:1384-1391 falls through to the trailing parseObject) —
        // the resulting parse error is what drives xref repair. Looping
        // instead would silently self-heal the malformed object.
        inner = lex.parseObject()
        return new PdfIndirect(objNum, genNum, if (inner == null) PdfNull else inner)
      } else if (b0 == 's' && str(cur.peek(6)) == "stream") {
        var discardBytes = 6
        // Reference EOL handling: tolerate a stray non-CRLF whitespace byte.
        if (cur.peekAt(discardBytes) != -1) {
          val w = cur.peekAt(discardBytes)
          if (isWhiteSpace(w) && w != '\r' && w != '\n') discardBytes += 1
          if (cur.peekAt(discardBytes) == '\r') {
            discardBytes += 1
            if (cur.peekAt(discardBytes) == '\n') discardBytes += 1
          } else if (cur.peekAt(discardBytes) == '\n') discardBytes += 1
        }
        cur.discard(discardBytes)
        val dict = inner match {
          case d: PdfDict => d
          case _          => throw new PdfError("Stream object missing dictionary")
        }
        val slo = traceStreamLength(dict.get("Length"))
        var streamLength = slo match {
          case PdfInt(v) => v
          case _         => throw new PdfError("Stream length needs to be an integer")
        }
        if (streamLength < 0) throw new PdfError("Stream needs to be longer than 0")
        // Validate/correct against the next xref offset (parser.go:1441-1455).
        val streamStartOffset = cur.offset
        val nextObjectOffset = xrefs.nextOffsetAfter(streamStartOffset)
        if (streamStartOffset + streamLength > nextObjectOffset && nextObjectOffset > streamStartOffset) {
          val newLength = nextObjectOffset - streamStartOffset - 17
          if (newLength < 0) throw new PdfError("Invalid stream length, going past boundaries")
          streamLength = newLength
          dict.set("Length", PdfInt(newLength))
        }
        if (streamLength > fileSize)
          throw new PdfError("Invalid stream length, larger than file size")
        val streamData = cur.readExact(streamLength.toInt)
        lex.skipSpaces()
        cur.discard(9) // "endstream"
        lex.skipSpaces()
        return new PdfStream(objNum, genNum, dict, streamData)
      } else {
        inner = lex.parseObject()
        return new PdfIndirect(objNum, genNum, if (inner == null) PdfNull else inner)
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
