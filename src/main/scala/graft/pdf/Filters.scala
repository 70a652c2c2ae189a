package graft.pdf

import java.io.ByteArrayOutputStream
import java.util.zip.{Deflater, Inflater}

import PdfObjs._

/** Stream filters. Decode semantics follow the reference encoders
  * (pdf/core/encoding.go) byte for byte, including its quirks:
  *
  *  - flate: zlib header validated, but mid-stream corruption yields the
  *    partial output WITHOUT error (reference ignores ReadFrom's error,
  *    encoding.go:240-241);
  *  - PNG predictors: Sub and Paeth skip the first data byte (loops start at
  *    j=2, encoding.go:337,358), Avg computes (left+up) in 8-bit arithmetic
  *    before halving (encoding.go:351), Paeth computes a+b-c in 8-bit
  *    arithmetic (encoding.go:363);
  *  - LZW DecodeStream PNG path only supports filter bytes 0/1/2
  *    (encoding.go:739-755) while the flate path supports 0-4;
  *  - multi-filter chains decode via DecodeBytes, which SKIPS predictors
  *    entirely (encoding.go:1823-1841);
  *  - CCITTFax/JBIG2/JPX are unimplemented -> decode error (the document
  *    becomes a status=error row, never a task failure).
  */
sealed trait PdfFilter {
  def name: String
  /** Raw filter pass (no predictor). */
  def decodeBytes(data: Array[Byte]): Array[Byte]
  /** Full stream decode (with predictor where applicable). */
  def decodeStream(raw: Array[Byte]): Array[Byte] = decodeBytes(raw)
}

object Filters {

  // ---------------------------------------------------------------- helpers

  private def int(obj: PdfObj, what: String): Int = obj match {
    case PdfInt(v) => v.toInt
    case _         => throw new PdfError(s"Invalid $what")
  }

  final case class PredictorParams(predictor: Int, bpc: Int, columns: Int, colors: Int)

  /** DecodeParms extraction for flate (pdf/core/encoding.go:141-226):
    * traced; 1-element arrays unwrapped; longer arrays are an error.
    */
  def flateParams(dict: PdfDict, resolve: PdfObj => PdfObj, provided: PdfDict): PredictorParams = {
    var dp: PdfDict = provided
    if (dp == null && dict != null) {
      var obj = PdfObjs.traceToDirect(resolve(dict.get("DecodeParms")))
      if (obj != null && obj != PdfNull) {
        obj match {
          case a: PdfArr =>
            if (a.length != 1) throw new PdfError("Range check error")
            obj = PdfObjs.traceToDirect(resolve(a(0)))
          case _ =>
        }
        obj match {
          case d: PdfDict => dp = d
          case _          => throw new PdfError("Invalid DecodeParms")
        }
      }
    }
    readPredictorParams(dp)
  }

  /** DecodeParms extraction for LZW (pdf/core/encoding.go:519-624): NOT
    * traced; dict or 1-element array-of-dict; anything else is an error.
    */
  def lzwParams(dict: PdfDict, provided: PdfDict): (PredictorParams, Int) = {
    var dp: PdfDict = provided
    if (dp == null && dict != null) {
      val obj = dict.get("DecodeParms")
      if (obj != null) {
        obj match {
          case d: PdfDict => dp = d
          case a: PdfArr if a.length == 1 =>
            a(0) match { case d: PdfDict => dp = d; case _ => }
          case _ =>
        }
        if (dp == null) throw new PdfError("Invalid DecodeParms")
      }
    }
    var earlyChange = 1
    if (dict != null) {
      val ec = dict.get("EarlyChange")
      if (ec != null) {
        val v = int(ec, "EarlyChange")
        if (v != 0 && v != 1) throw new PdfError("Invalid EarlyChange value (not 0 or 1)")
        earlyChange = v
      }
    }
    (readPredictorParams(dp), earlyChange)
  }

  private def readPredictorParams(dp: PdfDict): PredictorParams = {
    var predictor = 1; var bpc = 8; var columns = 1; var colors = 1
    if (dp != null) {
      val p = dp.get("Predictor")
      if (p != null) predictor = int(p, "Predictor")
      val b = dp.get("BitsPerComponent")
      if (b != null) bpc = int(b, "BitsPerComponent")
      if (predictor > 1) {
        columns = 1
        val c = dp.get("Columns")
        if (c != null) columns = int(c, "Predictor column")
        colors = 1
        val cl = dp.get("Colors")
        if (cl != null) colors = int(cl, "Predictor colors")
      }
    }
    PredictorParams(predictor, bpc, columns, colors)
  }

  // ------------------------------------------------------------------ flate

  final class Flate(params: PredictorParams) extends PdfFilter {
    def name = "FlateDecode"

    def decodeBytes(data: Array[Byte]): Array[Byte] = {
      // zlib header validation mirrors Go zlib.NewReader's upfront checks.
      if (data.length < 2) throw new PdfError("flate: invalid zlib header")
      val cmf = data(0) & 0xff; val flg = data(1) & 0xff
      if ((cmf & 0x0f) != 8) throw new PdfError("flate: invalid compression method")
      if (((cmf << 8) | flg) % 31 != 0) throw new PdfError("flate: invalid header checksum")
      if ((flg & 0x20) != 0) throw new PdfError("flate: preset dictionary unsupported")
      // Per-task REUSED inflater (ThreadLocal + reset): constructing an
      // Inflater per stream pays a native zlib inflateInit/End round trip
      // per document in the extraction hot path; reset() restores the
      // identical initial state, so decoded bytes are unchanged.
      val inf = Filters.sharedInflater.get()
      inf.reset()
      inf.setInput(data, 2, data.length - 2)
      val out = new ByteArrayOutputStream(math.max(64, data.length * 3))
      val buf = new Array[Byte](8192)
      try {
        var n = inf.inflate(buf)
        while (n > 0 || (!inf.finished() && !inf.needsInput() && !inf.needsDictionary())) {
          out.write(buf, 0, n)
          if (inf.finished() || inf.needsDictionary()) return out.toByteArray
          if (inf.needsInput()) return out.toByteArray // truncated: partial, no error
          n = inf.inflate(buf)
        }
        out.write(buf, 0, math.max(n, 0))
      } catch {
        case _: java.util.zip.DataFormatException => // corrupt mid-stream: partial, no error
      } finally inf.reset() // release the (possibly large) retained input ref
      out.toByteArray
    }

    override def decodeStream(raw: Array[Byte]): Array[Byte] = {
      if (params.bpc != 8)
        throw new PdfError(s"Invalid BitsPerComponent=${params.bpc} (only 8 supported)")
      val outData = decodeBytes(raw)
      applyPredictor(outData, params, pngFiltersFull = true)
    }
  }

  // -------------------------------------------------------------------- lzw

  final class Lzw(params: PredictorParams, earlyChange: Int) extends PdfFilter {
    def name = "LZWDecode"
    def decodeBytes(data: Array[Byte]): Array[Byte] = lzwDecode(data, earlyChange)
    override def decodeStream(raw: Array[Byte]): Array[Byte] = {
      val outData = decodeBytes(raw)
      applyPredictor(outData, params, pngFiltersFull = false) // only 0/1/2 here
    }
  }

  /** PDF/TIFF LZW decode, MSB-first, 8-bit literals, clear=256, EOD=257.
    * earlyChange=1 raises the code width one code early (TIFF behavior,
    * matching Go x/image/tiff/lzw); earlyChange=0 matches Go compress/lzw.
    * Truncated input (no EOD) is an error (the reference propagates
    * ReadFrom's error here, encoding.go:640-643).
    */
  def lzwDecode(data: Array[Byte], earlyChange: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(math.max(64, data.length * 3))
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val firstByte = new Array[Byte](4096) // first byte of each code's expansion
    val expandBuf = new Array[Byte](4096)

    var width = 9
    var overflow = 1 << width
    var hi = 257
    var last = -1 // decoderInvalidCode

    var bitBuf = 0L
    var nBits = 0
    var ip = 0

    def readCode(): Int = {
      while (nBits < width) {
        if (ip >= data.length) return -1
        bitBuf = (bitBuf << 8) | (data(ip) & 0xff); ip += 1; nBits += 8
      }
      val code = ((bitBuf >> (nBits - width)) & ((1 << width) - 1)).toInt
      nBits -= width
      code
    }

    var done = false
    while (!done) {
      val code = readCode()
      if (code == -1) throw new PdfError("lzw: unexpected EOF")
      if (code < 256) {
        out.write(code)
        if (last != -1 && hi < 4096) {
          suffix(hi) = code.toByte; prefix(hi) = last
          firstByte(hi) = firstByte(last)
        }
        if (code < 256) firstByte(code) = code.toByte
      } else if (code == 256) {
        width = 9; overflow = 1 << width; hi = 257; last = -1
      } else if (code == 257) {
        done = true
      } else if (code <= hi) {
        // Expand the chain; code == hi is the KwKwK case.
        var i = expandBuf.length
        var c = code
        if (code == hi && last != -1) {
          i -= 1; expandBuf(i) = firstByte(last)
          c = last
        }
        while (c >= 256) {
          i -= 1; expandBuf(i) = suffix(c); c = prefix(c)
        }
        i -= 1; expandBuf(i) = c.toByte
        out.write(expandBuf, i, expandBuf.length - i)
        if (last != -1 && hi < 4096) {
          suffix(hi) = expandBuf(i); prefix(hi) = last
          firstByte(hi) = expandBuf(i)
        }
        if (code < 4096) firstByte(code) = expandBuf(i)
      } else {
        throw new PdfError("lzw: invalid code")
      }

      if (!done && code != 256) {
        last = code; hi += 1
        if (hi + earlyChange >= overflow) {
          if (width == 12) last = -1
          else { width += 1; overflow <<= 1 }
        }
      }
    }
    out.toByteArray
  }

  /** LZW encode with earlyChange=0 (mirrors Go compress/lzw MSB 8-bit; used
    * only by fixture builders and round-trip tests).
    */
  def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var bitBuf = 0L; var nBits = 0
    var width = 9
    var hi = 257 // mirrors decoder's code counter
    var overflow = 1 << width
    def emit(code: Int): Unit = {
      bitBuf = (bitBuf << width) | code; nBits += width
      while (nBits >= 8) { out.write(((bitBuf >> (nBits - 8)) & 0xff).toInt); nBits -= 8 }
      hi += 1
      if (hi >= overflow) {
        if (width < 12) { width += 1; overflow <<= 1 }
      }
    }
    val table = new java.util.HashMap[Long, Integer]()
    var nextCode = 258
    if (data.nonEmpty) {
      var cur = data(0) & 0xff
      var i = 1
      while (i < data.length) {
        val b = data(i) & 0xff
        val key = (cur.toLong << 8) | b
        val ext = table.get(key)
        if (ext != null) cur = ext.intValue()
        else {
          emit(cur)
          if (nextCode <= 4095) { table.put(key, nextCode); nextCode += 1 }
          cur = b
        }
        i += 1
      }
      emit(cur)
    }
    emit(257) // EOD
    if (nBits > 0) out.write(((bitBuf << (8 - nBits)) & 0xff).toInt)
    out.toByteArray
  }

  // ------------------------------------------------------------- predictors

  /** Shared TIFF(2)/PNG(10-15) predictor post-pass (encoding.go:266-395 and
    * 665-767). pngFiltersFull=false limits PNG filter bytes to {0,1,2} (LZW
    * path); true allows {0,1,2,3,4} (flate path).
    */
  def applyPredictor(outData0: Array[Byte], p: PredictorParams, pngFiltersFull: Boolean): Array[Byte] = {
    val outData = outData0
    if (p.predictor <= 1) return outData
    if (p.predictor == 2) {
      val rowLength = p.columns * p.colors
      if (rowLength < 1) return Array.emptyByteArray
      if (outData.length % rowLength != 0)
        throw new PdfError(s"Invalid row length (${outData.length}/$rowLength)")
      if (rowLength % p.colors != 0)
        throw new PdfError(s"Invalid row length ($rowLength) for colors ${p.colors}")
      if (rowLength > outData.length) throw new PdfError("Range check error")
      val rows = outData.length / rowLength
      var i = 0
      while (i < rows) {
        val base = rowLength * i
        var j = p.colors
        while (j < rowLength) {
          outData(base + j) = ((outData(base + j) + outData(base + j - p.colors)) & 0xff).toByte
          j += 1
        }
        i += 1
      }
      outData
    } else if (p.predictor >= 10 && p.predictor <= 15) {
      val rowLength = p.columns * p.colors + 1
      if (!pngFiltersFull && rowLength < 1) return Array.emptyByteArray
      if (outData.length % rowLength != 0)
        throw new PdfError(s"Invalid row length (${outData.length}/$rowLength)")
      if (rowLength > outData.length) throw new PdfError("Range check error")
      val rows = outData.length / rowLength
      val result = new ByteArrayOutputStream(rows * (rowLength - 1))
      val prevRow = new Array[Byte](rowLength)
      var i = 0
      while (i < rows) {
        val row = java.util.Arrays.copyOfRange(outData, rowLength * i, rowLength * (i + 1))
        val fb = row(0) & 0xff
        fb match {
          case 0 => // none
          case 1 => // Sub — NB: starts at j=2, replicating the reference's skip
            var j = 2
            while (j < rowLength) { row(j) = ((row(j) + row(j - 1)) & 0xff).toByte; j += 1 }
          case 2 => // Up
            var j = 1
            while (j < rowLength) { row(j) = ((row(j) + prevRow(j)) & 0xff).toByte; j += 1 }
          case 3 if pngFiltersFull => // Avg — 8-bit (left+up) before halving
            var j = 1
            while (j < rowLength) {
              if (j == 1) row(j) = ((row(j) + prevRow(j)) & 0xff).toByte
              else {
                val avg = ((row(j - 1) + prevRow(j)) & 0xff) / 2
                row(j) = ((row(j) + avg) & 0xff).toByte
              }
              j += 1
            }
          case 4 if pngFiltersFull => // Paeth — p computed in 8-bit arithmetic
            var j = 2
            while (j < rowLength) {
              val a = row(j - 1) & 0xff
              val b = prevRow(j) & 0xff
              val c = prevRow(j - 1) & 0xff
              val pp = (a + b - c) & 0xff
              val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
              val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
              row(j) = ((row(j) + pred) & 0xff).toByte
              j += 1
            }
          case _ => throw new PdfError(s"Invalid filter byte ($fb)")
        }
        System.arraycopy(row, 0, prevRow, 0, rowLength)
        result.write(row, 1, rowLength - 1)
        i += 1
      }
      result.toByteArray
    } else {
      throw new PdfError(s"Unsupported predictor (${p.predictor})")
    }
  }

  // -------------------------------------------------------------- runlength

  object RunLength extends PdfFilter {
    def name = "RunLengthDecode"
    def decodeBytes(data: Array[Byte]): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      var i = 0
      var done = false
      while (!done) {
        if (i >= data.length) throw new PdfError("runlength: unexpected EOF")
        val b = data(i) & 0xff; i += 1
        if (b > 128) {
          if (i >= data.length) throw new PdfError("runlength: unexpected EOF")
          val v = data(i); i += 1
          var k = 0
          while (k < 257 - b) { out.write(v); k += 1 }
        } else if (b < 128) {
          var k = 0
          while (k < b + 1) {
            if (i >= data.length) throw new PdfError("runlength: unexpected EOF")
            out.write(data(i)); i += 1; k += 1
          }
        } else done = true // 128 = EOD
      }
      out.toByteArray
    }
  }

  def rleEncode(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    var i = 0
    while (i < data.length) {
      var run = 1
      while (i + run < data.length && data(i + run) == data(i) && run < 127) run += 1
      if (run >= 2) { out.write(257 - run); out.write(data(i)); i += run }
      else {
        var lit = 1
        while (i + lit < data.length && lit < 127 &&
          !(i + lit + 1 < data.length && data(i + lit) == data(i + lit + 1))) lit += 1
        out.write(lit - 1)
        out.write(data, i, lit)
        i += lit
      }
    }
    out.write(128)
    out.toByteArray
  }

  // --------------------------------------------------------------- asciihex

  object AsciiHex extends PdfFilter {
    def name = "ASCIIHexDecode"
    def decodeBytes(data: Array[Byte]): Array[Byte] = {
      val hexChars = new StringBuilder
      var i = 0
      var done = false
      while (!done) {
        if (i >= data.length) throw new PdfError("asciihex: unexpected EOF")
        val b = data(i) & 0xff; i += 1
        if (b == '>') done = true
        else if (PdfObjs.isWhiteSpace(b)) ()
        else if ((b >= 'a' && b <= 'f') || (b >= 'A' && b <= 'F') || (b >= '0' && b <= '9'))
          hexChars.append(b.toChar)
        else throw new PdfError(s"Invalid ascii hex character (${b.toChar})")
      }
      if (hexChars.length % 2 == 1) hexChars.append('0')
      val out = new Array[Byte](hexChars.length / 2)
      var j = 0
      while (j < out.length) {
        out(j) = ((Character.digit(hexChars.charAt(2 * j), 16) << 4) |
          Character.digit(hexChars.charAt(2 * j + 1), 16)).toByte
        j += 1
      }
      out
    }
  }

  def asciiHexEncode(data: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder
    data.foreach(b => sb.append(f"${b & 0xff}%02X "))
    sb.append('>')
    sb.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  // ---------------------------------------------------------------- ascii85

  object Ascii85 extends PdfFilter {
    def name = "ASCII85Decode"
    /** Faithful port of the reference's group loop (encoding.go:1349-1424):
      * 'z' only at group start, '~>' EOD with pad-with-u(84) partial groups,
      * embedded whitespace skipped. A group that input runs out in keeps its
      * missing codes at 0 and writes 4 bytes. Each group accumulates its
      * base-85 value in place and writes into one output array, sized for
      * 5 codes per 4 bytes and grown only when 'z' groups outrun that.
      */
    def decodeBytes(encoded: Array[Byte]): Array[Byte] = {
      val len = encoded.length
      var out = new Array[Byte](4 * ((len + 4) / 5))
      var n = 0
      var i = 0
      var eod = false
      while (i < len && !eod) {
        if (n + 4 > out.length) out = java.util.Arrays.copyOf(out, math.max(2 * out.length, n + 4))
        var value = 0L
        var count = 0 // codes read in this group
        var spaces = 0
        var j = 0
        var toWrite = 4
        var break = false
        while (j < 5 + spaces && !break) {
          if (i + j == len) break = true
          else {
            val code = encoded(i + j) & 0xff
            if (PdfObjs.isWhiteSpace(code)) { spaces += 1; j += 1 }
            else if (code == '~' && i + j + 1 < len && (encoded(i + j + 1) & 0xff) == '>') {
              toWrite = math.max(count - 1, 0)
              eod = true; break = true
            } else if (code >= '!' && code <= 'u') {
              value = value * 85 + (code - '!')
              count += 1
              j += 1
            } else if (code == 'z' && count == 0) {
              j += 1; break = true
            } else throw new PdfError("Invalid code encountered")
          }
        }
        i += j
        // missing codes: 84 past toWrite (the EOD pad), 0 up to it
        var k = count
        while (k < 5) { value = value * 85 + (if (k > toWrite) 84 else 0); k += 1 }
        val v = value.toInt
        var b = 0
        while (b < toWrite) { out(n) = (v >>> (24 - 8 * b)).toByte; n += 1; b += 1 }
      }
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    }
  }

  def ascii85Encode(data: Array[Byte]): Array[Byte] = {
    val out = new StringBuilder
    var i = 0
    while (i < data.length) {
      var n = 1
      val b1 = data(i) & 0xff
      val b2 = if (i + 1 < data.length) { n += 1; data(i + 1) & 0xff } else 0
      val b3 = if (i + 2 < data.length) { n += 1; data(i + 2) & 0xff } else 0
      val b4 = if (i + 3 < data.length) { n += 1; data(i + 3) & 0xff } else 0
      val base256 = (b1.toLong << 24) | (b2.toLong << 16) | (b3.toLong << 8) | b4.toLong
      // 'z' shorthand only for FULL zero groups: the reference encoder also
      // emits it for partial final groups, which does not round-trip (its
      // decoder expands 'z' to 4 bytes); our encoder is fixture tooling, so
      // it avoids that corruption.
      if (base256 == 0 && n == 4) out.append('z')
      else {
        var rem = base256
        val vals = new Array[Int](5)
        var k = 0
        while (k < 5) {
          var div = 1L
          var m = 0
          while (m < 4 - k) { div *= 85; m += 1 }
          vals(k) = (rem / div).toInt
          rem = rem % div
          k += 1
        }
        var t = 0
        while (t < n + 1) { out.append((vals(t) + '!').toChar); t += 1 }
      }
      i += 4
    }
    out.append("~>")
    out.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  // ------------------------------------------------------------ raw + stubs

  object Raw extends PdfFilter {
    def name = "Raw"
    def decodeBytes(data: Array[Byte]): Array[Byte] = data
  }

  final class Unsupported(val name: String) extends PdfFilter {
    def decodeBytes(data: Array[Byte]): Array[Byte] =
      throw new PdfError(s"$name encoding is not currently supported")
  }

  // -------------------------------------------------------------------- dct

  /** DCTDecode: JPEG -> raw interleaved samples (encoding.go:796-1012, which
    * wraps Go's image/jpeg the way this wraps the JDK's ImageIO reader).
    * Output layout matches the reference: row-major, 8-bit, gray 1 byte or
    * RGB 3 bytes per pixel. IMAGE-ONLY machinery — decoded samples never
    * feed the text path — so the cross-library IDCT/chroma-upsampling
    * rounding differences vs Go's decoder are immaterial and documented
    * (COVERAGE.md). Divergences kept narrow: CMYK JPEGs (unsupported by the
    * JDK reader) and malformed JPEGs error, as under the reference's error
    * path; the reference parses the header at encoder construction while
    * this parses lazily at decode — both surface as the same document error.
    */
  object Dct extends PdfFilter {
    def name = "DCTDecode"

    /** Clamp-shift from Go image/color.YCbCrToRGB (ycbcr.go): the fixed-point
      * value is >>16 when in range, else saturates to 0x00/0xff via the sign
      * trick — the exact conversion the reference inherits for YCCK.
      */
    private def clampShift(v: Int): Int =
      if ((v & 0xff000000) == 0) (v >> 16) & 0xff else (~(v >> 31)) & 0xff

    /** (SOF component count, Adobe APP14 transform or -1 when absent). */
    private[pdf] def jpegMeta(data: Array[Byte]): (Int, Int) = {
      var nComp = -1
      var transform = -1
      if (data.length < 4 || (data(0) & 0xff) != 0xff || (data(1) & 0xff) != 0xd8)
        return (nComp, transform)
      var i = 2
      var done = false
      while (!done && i + 4 <= data.length) {
        if ((data(i) & 0xff) != 0xff) done = true
        // JPEG permits any number of 0xFF fill bytes before a marker
        // (Go's image/jpeg skips them too) — 0xFF 0xFF is padding, not a
        // marker, and must not be parsed as one.
        else if ((data(i + 1) & 0xff) == 0xff) i += 1
        else {
          val m = data(i + 1) & 0xff
          if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) i += 2 // bare markers
          else {
            val len = ((data(i + 2) & 0xff) << 8) | (data(i + 3) & 0xff)
            if (m == 0xee && len >= 14 && i + 15 < data.length &&
              data(i + 4) == 'A' && data(i + 5) == 'd' && data(i + 6) == 'o' &&
              data(i + 7) == 'b' && data(i + 8) == 'e')
              transform = data(i + 15) & 0xff
            if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc &&
              len >= 8 && i + 9 < data.length)
              nComp = data(i + 9) & 0xff
            if (m == 0xda) done = true
            i += 2 + len
          }
        }
      }
      (nComp, transform)
    }

    /** 4-component (CMYK/YCCK) JPEG decode via raw raster access — ImageIO's
      * color-managed read() path has no CMYK target, so samples are read
      * undecoded and the reference's color chain is applied by hand:
      *  - Go scan.go applyBlack: 4-component JPEG WITHOUT Adobe APP14 is an
      *    error; transform != 0 is YCCK (YCbCr -> RGB patched with K; the
      *    RGB->CMY inversion cancels Adobe's stored inversion); transform 0
      *    copies the decoded CMYK planes;
      *  - unidoc then inverts EVERY output channel (encoding.go:992-1007
      *    "255 - val", its APP14 TODO quirk) — mirrored here.
      */
    private def decodeCmyk(data: Array[Byte], transform: Int): Array[Byte] = {
      if (transform < 0)
        throw new PdfError("DCT decode failed: unknown color model: 4-component " +
          "JPEG doesn't have Adobe APP14 metadata")
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("jpeg").next()
      // MEMORY-cached stream, explicitly closed: the payload is already a
      // byte array, so the default file-backed createImageInputStream would
      // only add a temp-file create/delete (and fd) per image — pure I/O
      // overhead that also contends across a 32-wide extraction stage.
      var iis: javax.imageio.stream.ImageInputStream = null
      val raster =
        try {
          iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(data))
          reader.setInput(iis)
          reader.readRaster(0, null)
        } catch { case e: Exception => throw new PdfError(s"DCT decode failed: ${e.getMessage}") }
        finally {
          reader.dispose()
          if (iis != null) try iis.close() catch { case _: Exception => () }
        }
      if (raster.getNumBands != 4) throw new PdfError("DCT decode failed: CMYK band count")
      val w = raster.getWidth
      val h = raster.getHeight
      val out = new Array[Byte]((w.toLong * h * 4).toInt)
      var idx = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val s0 = raster.getSample(x, y, 0) & 0xff
          val s1 = raster.getSample(x, y, 1) & 0xff
          val s2 = raster.getSample(x, y, 2) & 0xff
          val s3 = raster.getSample(x, y, 3) & 0xff
          if (transform != 0) {
            val yy1 = s0 * 0x10101
            val cb1 = s1 - 128
            val cr1 = s2 - 128
            out(idx) = (255 - clampShift(yy1 + 91881 * cr1)).toByte
            out(idx + 1) = (255 - clampShift(yy1 - 22554 * cb1 - 46802 * cr1)).toByte
            out(idx + 2) = (255 - clampShift(yy1 + 116130 * cb1)).toByte
            out(idx + 3) = (255 - s3).toByte
          } else {
            out(idx) = (255 - s0).toByte
            out(idx + 1) = (255 - s1).toByte
            out(idx + 2) = (255 - s2).toByte
            out(idx + 3) = (255 - s3).toByte
          }
          idx += 4
          x += 1
        }
        y += 1
      }
      out
    }

    def decodeBytes(data: Array[Byte]): Array[Byte] = {
      val (nComp, transform) = jpegMeta(data)
      if (nComp == 4) return decodeCmyk(data, transform)
      // ImageIO.read(InputStream) internally builds a FILE-cached image
      // stream (useCache default) — a temp file per decoded JPEG; hand it a
      // memory-cached stream instead (the bytes are already in memory) and
      // close it explicitly (the ImageIO.read(ImageInputStream) overload
      // closes it too, but only on the non-throwing path).
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(data))
      val img =
        try javax.imageio.ImageIO.read(iis)
        catch { case e: Exception => throw new PdfError(s"DCT decode failed: ${e.getMessage}") }
        finally { try iis.close() catch { case _: Exception => () } }
      if (img == null) throw new PdfError("DCT decode failed: no image")
      val w = img.getWidth
      val h = img.getHeight
      val raster = img.getRaster
      val comps = math.min(3, raster.getNumBands) // alpha not included in pdf
      val out = new Array[Byte]((w.toLong * h * comps).toInt)
      var idx = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var b = 0
          while (b < comps) {
            out(idx) = (raster.getSample(x, y, b) & 0xff).toByte
            idx += 1
            b += 1
          }
          x += 1
        }
        y += 1
      }
      out
    }
  }

  // ------------------------------------------------------------------ multi

  /** Filter-array chain. DecodeStream == DecodeBytes here: predictors are
    * skipped in the multi path, replicating encoding.go:1823-1841.
    */
  final class Multi(val filters: List[PdfFilter]) extends PdfFilter {
    def name: String = filters.map(_.name).mkString(" ")
    def decodeBytes(data: Array[Byte]): Array[Byte] =
      filters.foldLeft(data)((d, f) => f.decodeBytes(d))
    override def decodeStream(raw: Array[Byte]): Array[Byte] = decodeBytes(raw)
  }

  // --------------------------------------------------------------- dispatch

  /** Build the filter for a stream dict (pdf/core/stream.go:15-80). `resolve`
    * resolves references for the traced Filter/DecodeParms lookups (identity
    * when no document context is available).
    */
  def forStream(stream: PdfStream, resolve: PdfObj => PdfObj): PdfFilter = {
    val dict = stream.dict
    val filterObj = PdfObjs.traceToDirect(resolve(dict.get("Filter")))
    if (filterObj == null || filterObj == PdfNull) return Raw
    var method: String = null
    filterObj match {
      case PdfName(n) => method = n
      case arr: PdfArr =>
        if (arr.length == 0) return Raw
        if (arr.length != 1) return multiFromStream(stream, arr, resolve)
        arr(0) match {
          case PdfName(n) => method = n
          case _          => throw new PdfError("Filter array member not a Name object")
        }
      case _ => throw new PdfError("Filter not a Name or Array object")
    }
    singleByName(method, stream, resolve, null)
  }

  private def singleByName(method: String, stream: PdfStream, resolve: PdfObj => PdfObj,
                           dParams: PdfDict): PdfFilter = method match {
    case "FlateDecode" => new Flate(flateParams(stream.dict, resolve, dParams))
    case "LZWDecode" =>
      val (p, ec) = lzwParams(stream.dict, dParams); new Lzw(p, ec)
    case "DCTDecode" => Dct // image-only; never feeds text (samples decode, see Dct doc)
    case "RunLengthDecode" => RunLength
    case "ASCIIHexDecode" => AsciiHex
    case "ASCII85Decode" | "A85" => Ascii85
    case "CCITTFaxDecode" => new Unsupported("CCITTFaxDecode")
    case "JBIG2Decode" => new Unsupported("JBIG2Decode")
    case "JPXDecode" => new Unsupported("JPXDecode")
    case other => throw new PdfError(s"Unsupported encoding method ($other)")
  }

  /** pdf/core/encoding.go:1653-1760. Only Flate/LZW/AHx/A85/DCT allowed in
    * filter arrays; DecodeParms dict applies to all, array indexes per-filter.
    */
  private def multiFromStream(stream: PdfStream, array: PdfArr, resolve: PdfObj => PdfObj): Multi = {
    val dict = stream.dict
    var decodeParamsDict: PdfDict = null
    val decodeParamsArray = scala.collection.mutable.ArrayBuffer.empty[PdfDict]
    val dpObj = dict.get("DecodeParms")
    if (dpObj != null) {
      dpObj match {
        case d: PdfDict => decodeParamsDict = d
        case a: PdfArr =>
          a.items.foreach { el =>
            PdfObjs.traceToDirect(resolve(el)) match {
              case d: PdfDict => decodeParamsArray += d
              case _          => decodeParamsArray += new PdfDict
            }
          }
        case _ =>
      }
    }
    val fs = array.items.zipWithIndex.map {
      case (PdfName(n), idx) =>
        val dp: PdfDict =
          if (decodeParamsDict != null) decodeParamsDict
          else if (decodeParamsArray.nonEmpty) {
            if (idx >= decodeParamsArray.length)
              throw new PdfError("Missing elements in decode params array")
            decodeParamsArray(idx)
          } else null
        n match {
          case "FlateDecode" => new Flate(flateParams(stream.dict, resolve, dp))
          case "LZWDecode" => val (p, ec) = lzwParams(stream.dict, dp); new Lzw(p, ec)
          case "ASCIIHexDecode" => AsciiHex
          case "ASCII85Decode" => Ascii85
          case "DCTDecode" => Dct
          case _ => throw new PdfError("Invalid filter in multi filter array")
        }
      case _ => throw new PdfError("Multi filter array element not a name")
    }
    new Multi(fs.toList)
  }

  /** DecodeStream equivalent (pdf/core/stream.go:84-101). */
  def decodeStream(stream: PdfStream, resolve: PdfObj => PdfObj): Array[Byte] =
    forStream(stream, resolve).decodeStream(stream.raw)

  /** Standalone flate (zlib) encode for fixture builders. Deflater reused
    * per thread (native deflateInit per call is the expensive part of
    * encoding small payloads); reset() restores identical initial state, so
    * the emitted zlib bytes are unchanged.
    */
  def flateEncode(data: Array[Byte]): Array[Byte] = {
    val d = sharedDeflater.get()
    d.reset()
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream(math.max(64, data.length / 3))
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.reset() // drop the retained input reference
    out.toByteArray
  }

  /** Thread-pinned codec instances (Spark executor threads are a bounded
    * pool; each holds one native zlib stream each way). Never end()'d —
    * reclaimed by the JDK cleaner with the thread.
    */
  private[pdf] val sharedInflater: ThreadLocal[Inflater] =
    ThreadLocal.withInitial(() => new Inflater(true))
  private val sharedDeflater: ThreadLocal[Deflater] =
    ThreadLocal.withInitial(() => new Deflater())
}
