package graft.fixtures

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import graft.pdf.Filters

/** Deterministic synthetic PDF/HTML corpus builders (FIXTURES.md §3/§4).
  * Every PDF is assembled as raw byte templates so the expected extracted
  * text is known BY CONSTRUCTION under the reference algorithm. Used by the
  * ScalaTest goldens, the Spark end-to-end fixtures, and the bench corpus.
  */
object PdfFixtures {

  private def b(s: String): Array[Byte] = s.getBytes(ISO_8859_1)

  /** Escape raw bytes into a PDF literal string body. */
  def escapeString(data: Array[Byte]): Array[Byte] = {
    // Count-then-fill (no per-byte synchronized BAOS write — this runs per
    // document line in the bench corpus builder): raw CR escapes as \r
    // because a raw CR would be EOL-normalized to \n by the string parser
    // (byte identity breaks). Output bytes identical to the old loop.
    var esc = 0
    var i = 0
    while (i < data.length) {
      val c = data(i) & 0xff
      if (c == '(' || c == ')' || c == '\\' || c == '\r') esc += 1
      i += 1
    }
    if (esc == 0) return data.clone()
    val out = new Array[Byte](data.length + esc)
    var o = 0
    i = 0
    while (i < data.length) {
      val c = data(i) & 0xff
      if (c == '(' || c == ')' || c == '\\') {
        out(o) = '\\'; out(o + 1) = c.toByte; o += 2
      } else if (c == '\r') {
        out(o) = '\\'; out(o + 1) = 'r'; o += 2
      } else { out(o) = c.toByte; o += 1 }
      i += 1
    }
    out
  }

  def escapeStringText(text: String): Array[Byte] = escapeString(text.getBytes(UTF_8))

  /** Assemble a classic-xref PDF from (objNum -> body) pairs, in order.
    * A body is either a direct object source (dict/array/...) or a
    * (dictSource, rawStreamBytes) pair for stream objects.
    */
  final class Builder(version: String = "1.4") {
    private sealed trait Body
    private final case class Direct(src: Array[Byte]) extends Body
    private final case class Stream(dictSrc: Array[Byte], raw: Array[Byte]) extends Body

    private val objs = scala.collection.mutable.ArrayBuffer.empty[(Int, Body)]
    var rootRef = "1 0 R"
    /** Extra trailer entries, e.g. "/Encrypt 5 0 R /ID [<aa> <aa>]". */
    var trailerExtra = ""

    def obj(num: Int, src: String): Builder = { objs += ((num, Direct(b(src)))); this }
    def stream(num: Int, dictSrc: String, raw: Array[Byte]): Builder = {
      objs += ((num, Stream(b(dictSrc), raw))); this
    }
    /** Stream with /Length auto-filled (appended to the dict source, which
      * must end just before the closing ">>").
      */
    def streamAuto(num: Int, dictOpenSrc: String, raw: Array[Byte]): Builder =
      stream(num, s"$dictOpenSrc /Length ${raw.length} >>", raw)

    def build(startxrefOverride: Option[Long] = None,
              gluedTrailer: Boolean = false): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      out.write(b(s"%PDF-$version\n%âãÏÓ\n"))
      val offsets = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
      for ((num, body) <- objs) {
        offsets(num) = out.size().toLong
        body match {
          case Direct(src) =>
            out.write(b(s"$num 0 obj\n")); out.write(src); out.write(b("\nendobj\n"))
          case Stream(dictSrc, raw) =>
            out.write(b(s"$num 0 obj\n")); out.write(dictSrc)
            out.write(b("\nstream\n")); out.write(raw); out.write(b("\nendstream\nendobj\n"))
        }
      }
      val xrefOffset = out.size().toLong
      val maxNum = offsets.keys.max
      out.write(b(s"xref\n0 ${maxNum + 1}\n"))
      out.write(b(f"${0}%010d ${65535}%05d f \n"))
      var n = 1
      while (n <= maxNum) {
        offsets.get(n) match {
          case Some(off) => out.write(b(f"$off%010d ${0}%05d n \n"))
          case None      => out.write(b(f"${0}%010d ${65535}%05d f \n"))
        }
        n += 1
      }
      val extra = if (trailerExtra.isEmpty) "" else s" $trailerExtra"
      if (gluedTrailer)
        out.write(b(s"trailer<< /Root $rootRef /Size ${maxNum + 1}$extra >>\n"))
      else
        out.write(b(s"trailer\n<< /Root $rootRef /Size ${maxNum + 1}$extra >>\n"))
      out.write(b(s"startxref\n${startxrefOverride.getOrElse(xrefOffset)}\n%%EOF\n"))
      out.toByteArray
    }
  }

  /** Standard 1-page scaffold: catalog(1) -> pages(2) -> page(3) -> content(4). */
  private def onePage(contentDict: String, contentRaw: Array[Byte],
                      pageExtra: String = "", resources: String = defaultResources,
                      extra: Builder => Unit = _ => ()): Array[Byte] = {
    val bld = new Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources $resources /Contents 4 0 R $pageExtra>>")
    bld.stream(4, contentDict, contentRaw)
    extra(bld)
    bld.build()
  }

  val defaultResources: String =
    "<< /Font << /F1 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> >> >>"

  private def contentFor(text: String): Array[Byte] = {
    val esc = new String(escapeStringText(text), ISO_8859_1)
    b(s"BT /F1 12 Tf ($esc) Tj ET")
  }

  /** s01: classic xref, single Tj -> text extracted verbatim. */
  def s01(text: String = "Hello World"): Array[Byte] = {
    val c = contentFor(text)
    onePage(s"<< /Length ${c.length} >>", c)
  }

  /** s02: two Tj with `0 -10 Td` between -> "line1\nline2". */
  def s02(line1: String = "line1", line2: String = "line2"): Array[Byte] = {
    val c = b(s"BT /F1 12 Tf (${new String(escapeStringText(line1), ISO_8859_1)}) Tj " +
      s"0 -10 Td (${new String(escapeStringText(line2), ISO_8859_1)}) Tj ET")
    onePage(s"<< /Length ${c.length} >>", c)
  }

  /** s03: `10 0 Td` between Tj -> "a b". */
  def s03(): Array[Byte] = {
    val c = b("BT /F1 12 Tf (a) Tj 10 0 Td (b) Tj ET")
    onePage(s"<< /Length ${c.length} >>", c)
  }

  /** s04: Tm with descending y then ascending x -> newline + tab emission. */
  def s04(): Array[Byte] = {
    val c = b("BT /F1 12 Tf 1 0 0 1 50 700 Tm (r1c1) Tj 1 0 0 1 150 700 Tm (r1c2) Tj " +
      "1 0 0 1 50 680 Tm (r2c1) Tj ET")
    onePage(s"<< /Length ${c.length} >>", c)
  }

  /** s05: TJ array with kerns: <-100 emits a space, >=-100 does not. */
  def s05(): Array[Byte] = {
    val c = b("BT /F1 12 Tf [(to) -150 (kern) -50 (joined)] TJ ET")
    onePage(s"<< /Length ${c.length} >>", c)
  }

  /** s06: FlateDecode content stream (same text as s01). */
  def s06(text: String = "Hello World"): Array[Byte] = {
    val raw = contentFor(text)
    val enc = Filters.flateEncode(raw)
    onePage(s"<< /Filter /FlateDecode /Length ${enc.length} >>", enc)
  }

  /** s07: xref STREAM (PNG predictor-12 flate) + object stream holding the
    * catalog/pages/page dicts. Exercises §2.2 xref streams and §2.3 objstms.
    */
  def s07(text: String = "Hello World"): Array[Byte] = s07Content(contentFor(text))

  def s07Content(content: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(b("%PDF-1.5\n%âãÏÓ\n"))
    // obj 4: content stream (uncompressed)
    val off4 = out.size().toLong
    out.write(b(s"4 0 obj\n<< /Length ${content.length} >>\nstream\n"))
    out.write(content)
    out.write(b("\nendstream\nendobj\n"))
    // obj 6: object stream holding objects 1 (catalog), 2 (pages), 3 (page)
    val o1 = "<< /Type /Catalog /Pages 2 0 R >>"
    val o2 = "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>"
    val o3 = s"<< /Type /Page /Parent 2 0 R /Resources $defaultResources /Contents 4 0 R >>"
    val payload = new StringBuilder
    val hdr = new StringBuilder
    var first = 0
    val bodies = Seq((1, o1), (2, o2), (3, o3))
    for ((num, src) <- bodies) {
      hdr.append(s"$num ${payload.length} ")
      payload.append(src).append('\n')
    }
    first = hdr.length
    val objstmData = b(hdr.toString + payload.toString)
    val objstmEnc = Filters.flateEncode(objstmData)
    val off6 = out.size().toLong
    out.write(b(s"6 0 obj\n<< /Type /ObjStm /N 3 /First $first /Filter /FlateDecode " +
      s"/Length ${objstmEnc.length} >>\nstream\n"))
    out.write(objstmEnc)
    out.write(b("\nendstream\nendobj\n"))
    // obj 5: xref stream, W [1 4 1], entries for objects 0..6
    val off5 = out.size().toLong
    def row(t: Int, f2: Long, f3: Int): Array[Byte] =
      // 4-byte offsets: a 2-byte field silently truncates past 64KB and
      // corrupts the xref for larger corpora (sHybrid's W note).
      Array[Byte](t.toByte, ((f2 >> 24) & 0xff).toByte, ((f2 >> 16) & 0xff).toByte,
        ((f2 >> 8) & 0xff).toByte, (f2 & 0xff).toByte, f3.toByte)
    val rows = Array(
      row(0, 0, 0),               // 0: free
      row(2, 6, 0),               // 1: in objstm 6, idx 0
      row(2, 6, 1),               // 2
      row(2, 6, 2),               // 3
      row(1, off4, 0),            // 4: offset
      row(1, off5, 0),            // 5: the xref stream itself
      row(1, off6, 0))            // 6: objstm
    // PNG Up-predictor (filter byte 2) encode, then flate.
    val rowLen = 6
    val pred = new ByteArrayOutputStream()
    val prev = new Array[Byte](rowLen)
    for (r <- rows) {
      pred.write(2)
      var j = 0
      while (j < rowLen) { pred.write((r(j) - prev(j)) & 0xff); j += 1 }
      System.arraycopy(r, 0, prev, 0, rowLen)
    }
    val xrefEnc = Filters.flateEncode(pred.toByteArray)
    out.write(b(s"5 0 obj\n<< /Type /XRef /Size 7 /W [1 4 1] /Root 1 0 R " +
      s"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns 6 >> " +
      s"/Length ${xrefEnc.length} >>\nstream\n"))
    out.write(xrefEnc)
    out.write(b("\nendstream\nendobj\n"))
    out.write(b(s"startxref\n$off5\n%%EOF\n"))
    out.toByteArray
  }

  /** s08: ToUnicode CMap font; hex-string Tj codes map through bfchar/bfrange.
    * Codes: <0001>-><0041..> via bfrange base, <0042> bfchar -> U+263A.
    * Expected text for codes 0001 0002 0042: "AB☺".
    */
  def s08(): Array[Byte] = {
    val cmap =
      """/CIDInit /ProcSet findresource begin
        |12 dict begin
        |begincmap
        |/CMapName /Adobe-Identity-UCS def
        |/CMapType 2 def
        |1 begincodespacerange
        |<0000> <FFFF>
        |endcodespacerange
        |1 beginbfchar
        |<0042> <263A>
        |endbfchar
        |1 beginbfrange
        |<0001> <0003> <0041>
        |endbfrange
        |endcmap
        |CMapName currentdict /CMap defineresource pop
        |end
        |end""".stripMargin
    val cmapBytes = cmap.getBytes(ISO_8859_1)
    val res = "<< /Font << /F1 << /Type /Font /Subtype /Type0 /BaseFont /Ident /ToUnicode 5 0 R >> >> >>"
    val c = b("BT /F1 12 Tf <000100020042> Tj ET")
    onePage(s"<< /Length ${c.length} >>", c, resources = res,
      extra = bld => bld.stream(5, s"<< /Length ${cmapBytes.length} >>", cmapBytes))
  }

  /** s09: Contents as an ARRAY of two streams -> joined with " ". */
  def s09(t1: String = "part1", t2: String = "part2"): Array[Byte] = {
    val bld = new Builder()
    val c1 = contentFor(t1)
    val c2 = contentFor(t2)
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources $defaultResources /Contents [4 0 R 5 0 R] >>")
    bld.stream(4, s"<< /Length ${c1.length} >>", c1)
    bld.stream(5, s"<< /Length ${c2.length} >>", c2)
    bld.build()
  }

  /** s10: quote show-ops and Do XObject -> their text must be ABSENT. */
  def s10(): Array[Byte] = {
    val c = b("BT /F1 12 Tf (kept) Tj (dropped-quote) ' (dropped-dquote) \" ET /X1 Do")
    onePage(s"<< /Length ${c.length} >>", c)
  }

  /** s11: multi-filter content stream [/ASCII85Decode /FlateDecode]: data
    * encoded flate-then-a85; MultiEncoder decodes in array order.
    */
  def s11(text: String = "Hello World"): Array[Byte] = {
    val raw = contentFor(text)
    val enc = Filters.ascii85Encode(Filters.flateEncode(raw))
    onePage(s"<< /Filter [/ASCII85Decode /FlateDecode] /Length ${enc.length} >>", enc)
  }

  /** s12: broken startxref offset -> repairLocateXref finds the table. */
  def s12(text: String = "Hello World"): Array[Byte] = {
    val bld = new Builder()
    val c = contentFor(text)
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources $defaultResources /Contents 4 0 R >>")
    bld.stream(4, s"<< /Length ${c.length} >>", c)
    bld.build(startxrefOverride = Some(99999999L))
  }

  /** s13: "trailer<<" glued on one line. */
  def s13(text: String = "Hello World"): Array[Byte] = {
    val bld = new Builder()
    val c = contentFor(text)
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources $defaultResources /Contents 4 0 R >>")
    bld.stream(4, s"<< /Length ${c.length} >>", c)
    bld.build(gluedTrailer = true)
  }

  /** s15: inline image with a fake "EI" inside the binary data, before text. */
  def s15(text: String = "after image"): Array[Byte] = {
    val img = new ByteArrayOutputStream()
    img.write(b("BI /W 4 /H 2 /CS /DeviceGray /BPC 8 ID "))
    img.write(Array[Byte](0x01, 0x20, 'E', 'I', 0x02, 0x7f, 0x00, 0x41)) // fake " EI" mid-data
    img.write(b(" EI "))
    val c = new ByteArrayOutputStream()
    c.write(img.toByteArray)
    c.write(b(s"BT /F1 12 Tf (${new String(escapeStringText(text), ISO_8859_1)}) Tj ET"))
    val cb = c.toByteArray
    onePage(s"<< /Length ${cb.length} >>", cb)
  }

  /** sImages: one page with text + THREE XObject images + one inline image,
    * every raster a deterministic pixel formula of docId (the x43 gate
    * mirrors the arithmetic in SQL):
    *  - /Im0 gray 8-bpc FlateDecode, w=8+id%24, h=8+(id/7)%16,
    *    pix(x,y) = (x+y+id)%256  (the x40 formula family);
    *  - /Im1 gray 4-bpc RAW, w=4+id%8, h=4+(id/5)%8, pix=(x+y+id)%16,
    *    nibbles packed MSB-first as one CONTINUOUS bit stream (no row
    *    padding — exactly the reference GetSamples/ResampleBytes
    *    semantics, model/sampling/resample.go:10-98);
    *  - /Im2 RGB 8-bpc FlateDecode, w=4+id%6, h=3+(id/3)%5,
    *    comp c of (x,y) = (x+2y+3c+id)%256;
    *  - inline 8x6 gray 8-bpc /AHx (hex data cannot collide with the
    *    <ws>EI<ws> terminator: 'I' is not a hex char), pix=(2x+y+id)%256.
    * The text must still extract byte-identically (Do/BI are dropped by the
    * extractor switch).
    */
  def sImages(text: String, docId: Long): Array[Byte] = {
    val id = docId
    def gray8(w: Int, h: Int, f: (Int, Int) => Long): Array[Byte] = {
      val d = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { d(y * w + x) = (f(x, y) & 0xff).toByte; x += 1 }
        y += 1
      }
      d
    }
    val w0 = 8 + (id % 24).toInt; val h0 = 8 + ((id / 7) % 16).toInt
    val im0 = Filters.flateEncode(gray8(w0, h0, (x, y) => (x + y + id) % 256))
    val w1 = 4 + (id % 8).toInt; val h1 = 4 + ((id / 5) % 8).toInt
    val n1 = w1 * h1
    val im1 = new Array[Byte]((n1 + 1) / 2)
    var i = 0
    while (i < n1) {
      val v = (((i % w1) + (i / w1) + id) % 16).toInt
      if (i % 2 == 0) im1(i / 2) = (v << 4).toByte
      else im1(i / 2) = (im1(i / 2) | v).toByte
      i += 1
    }
    val w2 = 4 + (id % 6).toInt; val h2 = 3 + ((id / 3) % 5).toInt
    val rgb = new Array[Byte](w2 * h2 * 3)
    for (y <- 0 until h2; x <- 0 until w2; c <- 0 until 3)
      rgb((y * w2 + x) * 3 + c) = (((x + 2 * y + 3 * c + id) % 256) & 0xff).toByte
    val im2 = Filters.flateEncode(rgb)
    val inlHex = gray8(8, 6, (x, y) => (2 * x + y + id) % 256)
      .map(v => f"${v & 0xff}%02X").mkString
    val esc = new String(escapeStringText(text), ISO_8859_1)
    val c = new ByteArrayOutputStream()
    c.write(b(s"BT /F1 12 Tf ($esc) Tj ET q /Im0 Do /Im1 Do /Im2 Do Q "))
    c.write(b(s"BI /W 8 /H 6 /CS /G /BPC 8 /F /AHx ID $inlHex> EI "))
    val cb = c.toByteArray
    val res = "<< /Font << /F1 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> >> " +
      "/XObject << /Im0 5 0 R /Im1 6 0 R /Im2 7 0 R >> >>"
    val bld = new Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources $res /Contents 4 0 R >>")
    bld.stream(4, s"<< /Length ${cb.length} >>", cb)
    bld.streamAuto(5, s"<< /Type /XObject /Subtype /Image /Width $w0 /Height $h0 " +
      "/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /FlateDecode", im0)
    bld.streamAuto(6, s"<< /Type /XObject /Subtype /Image /Width $w1 /Height $h1 " +
      "/ColorSpace /DeviceGray /BitsPerComponent 4", im1)
    bld.streamAuto(7, s"<< /Type /XObject /Subtype /Image /Width $w2 /Height $h2 " +
      "/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /FlateDecode", im2)
    bld.build()
  }

  /** sShading: page carrying shading and pattern objects —
    * an axial (Type-2) shading with an exponential tint function behind a
    * `sh` op, a SHADING pattern (/PatternType 2 -> the same shading) and a
    * TILING pattern stream (/PatternType 1, cell draws a rect), both
    * installed via `/Pattern cs /PatX scn`. The extractor drops sh/scn
    * (pattern names are exempt from the component-count check), so the
    * text must still extract byte-identically (ShadingSpec).
    */
  def sShading(text: String): Array[Byte] = {
    val esc = new String(escapeStringText(text), ISO_8859_1)
    val res = "<< /Font << /F1 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> >> " +
      "/Shading << /Sh0 5 0 R >> " +
      "/Pattern << /Pat0 7 0 R /Pat1 8 0 R >> >>"
    val c = b(s"/Pattern cs /Pat0 scn /Pattern cs /Pat1 scn " +
      s"BT /F1 12 Tf ($esc) Tj ET /Sh0 sh")
    val cell = b("0 0 5 5 re f")
    val bld = new Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources $res /Contents 4 0 R >>")
    bld.stream(4, s"<< /Length ${c.length} >>", c)
    bld.obj(5, "<< /ShadingType 2 /ColorSpace /DeviceRGB /Coords [0 0 612 792] " +
      "/Function 6 0 R /Extend [true false] >>")
    bld.obj(6, "<< /FunctionType 2 /Domain [0 1] /C0 [1 0 0] /C1 [0 0 1] /N 1 >>")
    bld.obj(7, "<< /Type /Pattern /PatternType 2 /Shading 5 0 R /Matrix [1 0 0 1 0 0] >>")
    bld.streamAuto(8, "<< /Type /Pattern /PatternType 1 /PaintType 1 /TilingType 1 " +
      "/BBox [0 0 10 10] /XStep 10 /YStep 10 /Resources << >>", cell)
    bld.build()
  }

  /** s16: unknown colorspace AFTER partial text -> partial text + error. */
  def s16(): Array[Byte] = {
    val c = b("BT /F1 12 Tf (partial) Tj ET /NoSuchCS CS BT (never) Tj ET")
    onePage(s"<< /Length ${c.length} >>", c)
  }

  /** s14: wrong (too long) /Length corrected by the next-xref heuristic.
    * The stream object comes FIRST so a later xref offset exists to correct
    * against (parser.go:1441-1455 needs a next object in the xref).
    */
  def s14(text: String = "Hello World"): Array[Byte] = {
    val bld = new Builder()
    val c = contentFor(text)
    bld.stream(4, s"<< /Length ${c.length + 500} >>", c) // over-long /Length
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources $defaultResources /Contents 4 0 R >>")
    bld.build()
  }

  /** sLzw: LZWDecode content stream (EarlyChange 0, matching the encoder).
    * NB the reference reads /EarlyChange from the STREAM dict, not from
    * /DecodeParms (encoding.go:553 reads encDict) — a quirk the kernel
    * mirrors, so the fixture must author it there too.
    */
  def sLzw(text: String = "Hello World"): Array[Byte] = {
    val enc = Filters.lzwEncode(contentFor(text))
    onePage(s"<< /Filter /LZWDecode /EarlyChange 0 /Length ${enc.length} >>", enc)
  }

  /** sRle: RunLengthDecode content stream. */
  def sRle(text: String = "Hello World"): Array[Byte] = {
    val enc = Filters.rleEncode(contentFor(text))
    onePage(s"<< /Filter /RunLengthDecode /Length ${enc.length} >>", enc)
  }

  /** sAhx: ASCIIHexDecode content stream. Whitespace inside the hex body is
    * skipped by the decoder, '>' is EOD; any NON-hex byte is an error
    * (encoding.go:1272-1308), so the fixture emits only [0-9A-F\n>].
    */
  def sAhx(text: String = "Hello World"): Array[Byte] = {
    val raw = contentFor(text)
    val hex = raw.map(x => f"${x & 0xff}%02X").grouped(16).map(_.mkString).mkString("\n")
    val enc = b(hex + ">")
    onePage(s"<< /Filter /ASCIIHexDecode /Length ${enc.length} >>", enc)
  }

  /** sTiffPred: FlateDecode + TIFF Predictor 2 on the CONTENT stream — the
    * single-filter DecodeStream path where predictors APPLY (vs the
    * multi-filter path that skips them, encoding.go:1823-1841). The
    * reference predictor requires the data be a whole number of
    * Columns*Colors rows (encoding.go:267-304), so the content is padded
    * with trailing spaces (harmless between content-stream operators).
    */
  def sTiffPred(text: String = "Hello World"): Array[Byte] = {
    val cols = 16
    val raw0 = contentFor(text)
    val pad = (cols - (raw0.length % cols)) % cols
    val raw = raw0 ++ Array.fill(pad)(' '.toByte)
    // forward TIFF horizontal difference (inverse of decode's row[j] += row[j-1])
    val fwd = raw.clone()
    var base = 0
    while (base < fwd.length) {
      var j = cols - 1
      while (j >= 1) {
        fwd(base + j) = ((fwd(base + j) - fwd(base + j - 1)) & 0xff).toByte
        j -= 1
      }
      base += cols
    }
    val enc = Filters.flateEncode(fwd)
    onePage("<< /Filter /FlateDecode /DecodeParms << /Predictor 2 /Colors 1 " +
      s"/BitsPerComponent 8 /Columns $cols >> /Length ${enc.length} >>", enc)
  }

  /** sShuffledXref: classic container whose xref OFFSETS are rotated to
    * point at the WRONG objects. The first lookup parses an object with a
    * mismatched number, which must trigger the rebuildXrefTable repair
    * (renumber by the object numbers actually found at the offsets,
    * repairs.go:52-82) before extraction can proceed.
    */
  def sShuffledXref(text: String = "Hello World"): Array[Byte] = {
    val base = s01(text)
    val src = new String(base, ISO_8859_1)
    // NB "\nxref\n": a bare lastIndexOf("xref") would land inside the
    // trailing "startxref" line.
    val xrefAt = src.lastIndexOf("\nxref\n") + 1
    require(xrefAt >= 1, "fixture: no classic xref")
    val head = src.substring(0, xrefAt)
    val tail = src.substring(xrefAt)
    val lines = tail.split("\n", -1).toBuffer
    // lines: xref / "0 N" / free entry / in-use entries for 1..maxNum / trailer...
    val entryIdx = lines.indices.filter(i => lines(i).matches("\\d{10} 00000 n \r?"))
    require(entryIdx.length >= 2, "fixture: not enough in-use entries")
    val rotated = entryIdx.map(lines).toVector
    val shifted = rotated.tail :+ rotated.head
    entryIdx.zip(shifted).foreach { case (i, l) => lines(i) = l }
    b(head + lines.mkString("\n"))
  }

  /** sCmapDoc: ARBITRARY text routed through a ToUnicode CMap — every
    * distinct codepoint gets a 2-byte charcode, the content shows the hex
    * code string, and extraction must map codes back to the exact text
    * (exercises the cmap.go:50-78 greedy byte decode end-to-end).
    */
  def sCmapDoc(text: String): Array[Byte] = {
    // BMP-only: the reference decodes bfchar dst pairs as SINGLE runes (no
    // UTF-16BE surrogate recombination, cmap/utils.go:21-33), so a
    // supplementary-plane codepoint cannot round-trip through a CMap.
    // Fall back to the classic-xref container for such docs — extraction
    // stays byte-identical either way.
    if (text.codePoints().anyMatch(cp => cp > 0xFFFF)) return s01(text)
    val cps = text.codePoints().toArray.distinct.sorted
    val code = cps.zipWithIndex.map { case (cp, i) => cp -> (i + 1) }.toMap
    val hexStr = {
      val sb = new StringBuilder
      var i = 0
      while (i < text.length) {
        val cp = text.codePointAt(i)
        sb.append(f"${code(cp)}%04X")
        i += Character.charCount(cp)
      }
      sb.toString
    }
    val bf = cps.map { cp =>
      val dst = new String(Character.toChars(cp))
        .getBytes(java.nio.charset.StandardCharsets.UTF_16BE)
        .map(x => f"${x & 0xff}%02X").mkString
      f"<${code(cp)}%04X> <$dst>"
    }
    // bfchar blocks are capped at 100 entries each (PDF spec convention).
    val bfBlocks = bf.grouped(100).map { chunk =>
      s"${chunk.length} beginbfchar\n${chunk.mkString("\n")}\nendbfchar"
    }.mkString("\n")
    val cmap =
      s"""/CIDInit /ProcSet findresource begin
         |12 dict begin
         |begincmap
         |/CMapName /Graft-Identity-UCS def
         |/CMapType 2 def
         |1 begincodespacerange
         |<0000> <FFFF>
         |endcodespacerange
         |$bfBlocks
         |endcmap
         |CMapName currentdict /CMap defineresource pop
         |end
         |end""".stripMargin
    val cmapBytes = cmap.getBytes(ISO_8859_1)
    val res = "<< /Font << /F1 << /Type /Font /Subtype /Type0 /BaseFont /Ident /ToUnicode 5 0 R >> >> >>"
    val c = b(s"BT /F1 12 Tf <$hexStr> Tj ET")
    onePage(s"<< /Length ${c.length} >>", c, resources = res,
      extra = bld => bld.stream(5, s"<< /Length ${cmapBytes.length} >>", cmapBytes))
  }

  /** Encrypted one-page doc (empty USER password — decrypts transparently):
    * RC4 V2/R3 128-bit, or AESV2 V4/R4. The content stream is the only
    * encrypted payload (no strings in the fixture's object graph).
    */
  def sEncrypted(text: String, docId: Long, aes: Boolean): Array[Byte] = {
    import graft.pdf.PdfCrypt.{alg2Key, alg5U, objectKey}
    import graft.pdf.PdfEncrypt._
    val content = contentFor(text)
    val p = -1
    val id0 = java.security.MessageDigest.getInstance("MD5")
      .digest(s"graft-id-$docId".getBytes(ISO_8859_1))
    val opass = "graft-owner".getBytes(ISO_8859_1)
    val upass = Array.emptyByteArray
    val r = if (aes) 4 else 3
    val o = alg3O(opass, upass, r, 128)
    val ekey = alg2Key(upass, o, p, id0, r, 128)
    val u = alg5U(ekey, id0)
    val okey = objectKey(ekey, 4, 0, aes)
    val encContent =
      if (aes) {
        val iv = java.util.Arrays.copyOf(java.security.MessageDigest.getInstance("MD5")
          .digest(s"graft-iv-$docId".getBytes(ISO_8859_1)), 16)
        aesEncrypt(okey, iv, content)
      } else graft.pdf.PdfCrypt.rc4(okey, content)
    val encDict =
      if (aes)
        s"<< /Filter /Standard /V 4 /R 4 /Length 128 /P $p /O <${hex(o)}> /U <${hex(u)}> " +
          "/CF << /StdCF << /Type /CryptFilter /CFM /AESV2 /Length 16 >> >> " +
          "/StmF /StdCF /StrF /StdCF >>"
      else
        s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P $p /O <${hex(o)}> /U <${hex(u)}> >>"
    val bld = new Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources $defaultResources /Contents 4 0 R >>")
    bld.stream(4, s"<< /Length ${encContent.length} >>", encContent)
    bld.obj(5, encDict)
    bld.trailerExtra = s"/Encrypt 5 0 R /ID [<${hex(id0)}> <${hex(id0)}>]"
    bld.build()
  }

  /** sSeparation: text shown after a Separation-space scn whose Type-4
    * PostScript tint transform EVALUATES successfully ({dup dup}: tint ->
    * (t,t,t) in DeviceRGB). Exercises ps parse + exec + alternate-space
    * range checks end-to-end; extraction must return the exact text.
    */
  def sSeparation(text: String): Array[Byte] = {
    val prog = b("{ dup dup }")
    val res = s"<< /Font << /F1 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> >> " +
      "/ColorSpace << /Sep0 [/Separation /Spot /DeviceRGB 5 0 R] >> >>"
    val esc = new String(escapeStringText(text), ISO_8859_1)
    val c = b(s"/Sep0 cs 0.35 scn BT /F1 12 Tf ($esc) Tj ET")
    onePage(s"<< /Length ${c.length} >>", c, resources = res,
      extra = bld => bld.stream(5,
        s"<< /FunctionType 4 /Domain [0 1] /Range [0 1 0 1 0 1] /Length ${prog.length} >>", prog))
  }

  /** sHybrid: HYBRID-reference file (parser.go:1212-1222): a classic xref
    * table holds only objects 1-3; the trailer's /XRefStm points at an xref
    * STREAM that holds the entries for the content stream (4) and itself
    * (5). Resolution of object 4 — and hence any text at all — REQUIRES the
    * hybrid branch. W=[1 4 1] keeps 4-byte offsets (no 64KB cap).
    */
  def sHybrid(text: String): Array[Byte] = {
    val content = contentFor(text)
    val out = new ByteArrayOutputStream()
    out.write(b("%PDF-1.5\n%âãÏÓ\n"))
    def direct(num: Int, src: String): Long = {
      val o = out.size().toLong
      out.write(b(s"$num 0 obj\n$src\nendobj\n"))
      o
    }
    val off1 = direct(1, "<< /Type /Catalog /Pages 2 0 R >>")
    val off2 = direct(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
    val off3 = direct(3, s"<< /Type /Page /Parent 2 0 R /Resources $defaultResources /Contents 4 0 R >>")
    val off4 = out.size().toLong
    out.write(b(s"4 0 obj\n<< /Length ${content.length} >>\nstream\n"))
    out.write(content)
    out.write(b("\nendstream\nendobj\n"))
    val off5 = out.size().toLong
    def row(t: Int, f2: Long, f3: Int): Array[Byte] = Array[Byte](t.toByte,
      ((f2 >> 24) & 0xff).toByte, ((f2 >> 16) & 0xff).toByte,
      ((f2 >> 8) & 0xff).toByte, (f2 & 0xff).toByte, f3.toByte)
    val rows = row(1, off4, 0) ++ row(1, off5, 0)
    out.write(b(s"5 0 obj\n<< /Type /XRef /Size 6 /W [1 4 1] /Index [4 2] " +
      s"/Root 1 0 R /Length ${rows.length} >>\nstream\n"))
    out.write(rows)
    out.write(b("\nendstream\nendobj\n"))
    val xrefOff = out.size().toLong
    out.write(b("xref\n0 4\n"))
    out.write(b(f"${0}%010d ${65535}%05d f \n"))
    out.write(b(f"$off1%010d ${0}%05d n \n"))
    out.write(b(f"$off2%010d ${0}%05d n \n"))
    out.write(b(f"$off3%010d ${0}%05d n \n"))
    out.write(b(s"trailer\n<< /Root 1 0 R /Size 6 /XRefStm $off5 >>\n"))
    out.write(b(s"startxref\n$xrefOff\n%%EOF\n"))
    out.toByteArray
  }

  /** sIncremental: INCREMENTAL-UPDATE file (/Prev chain) — revision 1 holds
    * the full document with STALE content; revision 2 appends a replacement
    * content object and an update xref table whose trailer /Prev points at
    * revision 1's xref. Extraction must return the NEW text: the newest
    * table is parsed first and older /Prev entries must not override it
    * (parser.go xref precedence; Document.loadXrefs Prev walk).
    */
  def sIncremental(text: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(b("%PDF-1.4\n%âãÏÓ\n"))
    def direct(num: Int, src: String): Long = {
      val o = out.size().toLong
      out.write(b(s"$num 0 obj\n$src\nendobj\n"))
      o
    }
    def streamObj(num: Int, content: Array[Byte]): Long = {
      val o = out.size().toLong
      out.write(b(s"$num 0 obj\n<< /Length ${content.length} >>\nstream\n"))
      out.write(content)
      out.write(b("\nendstream\nendobj\n"))
      o
    }
    // ---- revision 1 (stale content) ----
    val off1 = direct(1, "<< /Type /Catalog /Pages 2 0 R >>")
    val off2 = direct(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
    val off3 = direct(3, s"<< /Type /Page /Parent 2 0 R /Resources $defaultResources /Contents 4 0 R >>")
    val off4a = streamObj(4, contentFor("stale revision-1 content"))
    val xref1 = out.size().toLong
    out.write(b("xref\n0 5\n"))
    out.write(b(f"${0}%010d ${65535}%05d f \n"))
    for (off <- Seq(off1, off2, off3, off4a)) out.write(b(f"$off%010d ${0}%05d n \n"))
    out.write(b("trailer\n<< /Root 1 0 R /Size 5 >>\n"))
    out.write(b(s"startxref\n$xref1\n%%EOF\n"))
    // ---- revision 2 (appended update: object 4 replaced) ----
    val off4b = streamObj(4, contentFor(text))
    val xref2 = out.size().toLong
    out.write(b("xref\n0 1\n"))
    out.write(b(f"${0}%010d ${65535}%05d f \n"))
    out.write(b("4 1\n"))
    out.write(b(f"$off4b%010d ${0}%05d n \n"))
    out.write(b(s"trailer\n<< /Root 1 0 R /Size 5 /Prev $xref1 >>\n"))
    out.write(b(s"startxref\n$xref2\n%%EOF\n"))
    out.toByteArray
  }

  /** sColorSpaces: Lab (resource, with /Range) `sc` + CalRGB (builtin name)
    * `SC` + in-range Indexed `sc` ahead of the text — the colorspace
    * families that were previously pinned only by unit tests, through the
    * byte-identity gate.
    */
  def sColorSpaces(text: String): Array[Byte] = {
    val res = s"<< /Font << /F1 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> >> " +
      "/ColorSpace << /Lab0 [/Lab << /Range [-100 100 -100 100] >>] " +
      "/Ix0 [/Indexed /DeviceRGB 2 <FF000000FF000000FF>] >> >>"
    val esc = new String(escapeStringText(text), ISO_8859_1)
    val c = b(s"/Lab0 cs 50 20 -30 sc /CalRGB CS 0.2 0.3 0.4 SC /Ix0 cs 1 sc " +
      s"BT /F1 12 Tf ($esc) Tj ET")
    onePage(s"<< /Length ${c.length} >>", c, resources = res)
  }

  /** sTints: Separation scn through a Type-0 SAMPLED tint (2-sample linear
    * table, functions.go:292-352) then a Type-2 EXPONENTIAL tint
    * (functions.go:522-545), text after both — function families 0 and 2
    * through the gate next to the Type-4 one (sSeparation).
    */
  def sTints(text: String): Array[Byte] = {
    val esc = new String(escapeStringText(text), ISO_8859_1)
    val res = s"<< /Font << /F1 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> >> " +
      "/ColorSpace << /SepA [/Separation /SpotA /DeviceGray 5 0 R] " +
      "/SepB [/Separation /SpotB /DeviceRGB 6 0 R] >> >>"
    val c = b(s"/SepA cs 0.5 scn /SepB cs 0.25 scn BT /F1 12 Tf ($esc) Tj ET")
    val samples = Array[Byte](0, 0xff.toByte)
    onePage(s"<< /Length ${c.length} >>", c, resources = res,
      extra = bld => {
        bld.stream(5, "<< /FunctionType 0 /Domain [0 1] /Range [0 1] /Size [2] " +
          s"/BitsPerSample 8 /Length ${samples.length} >>", samples)
        bld.obj(6, "<< /FunctionType 2 /Domain [0 1] /C0 [0 0 0] /C1 [1 1 1] /N 1 >>")
      })
  }

  /** sHostile: Separation scn whose Type-4 program spins (a 2x10^9-iteration
    * `roll` — ps roll loops |j| times in the reference too) — the
    * deterministic per-document-timeout payload: the wall-clock budget turns
    * it into a status=timeout row instead of a straggler.
    */
  def sHostile(before: String = "partial"): Array[Byte] = {
    val esc = new String(escapeStringText(before), ISO_8859_1)
    val res = s"<< /Font << /F1 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> >> " +
      "/ColorSpace << /Sep0 [/Separation /Spot /DeviceGray 5 0 R] >> >>"
    val c = b(s"BT /F1 12 Tf ($esc) Tj ET /Sep0 cs 0.8 scn BT (never) Tj ET")
    val prog = b("{ 1 2 3 3 2000000000 roll }")
    onePage(s"<< /Length ${c.length} >>", c, resources = res,
      extra = bld => bld.stream(5,
        s"<< /FunctionType 4 /Domain [0 1] /Range [0 1] /Length ${prog.length} >>", prog))
  }

  /** sIndexed: text around an Indexed-colorspace `sc`.
    *  - in-range index: the palette entry resolves through the base space's
    *    own range check -> both text runs extract;
    *  - out-of-range / negative index, or an index beyond a SHORT lookup
    *    table: "Outside range" abort with partial text
    *    (colorspace.go:2229-2249);
    *  - hival > 255 fails the colorspace LOAD, which fails the page
    *    resources parse -> document error with NO text (page.go:879-907
    *    eager resource colorspace map).
    */
  def sIndexed(after: String, scIndex: String, hival: Int = 2,
               palette: String = "<FF000000FF000000FF>",
               before: String = "partial"): Array[Byte] = {
    val res = s"<< /Font << /F1 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> >> " +
      s"/ColorSpace << /Ix0 [/Indexed /DeviceRGB $hival $palette] >> >>"
    val escA = new String(escapeStringText(after), ISO_8859_1)
    val escB = new String(escapeStringText(before), ISO_8859_1)
    val c = b(s"BT /F1 12 Tf ($escB) Tj ET /Ix0 cs $scIndex sc BT ($escA) Tj ET")
    onePage(s"<< /Length ${c.length} >>", c, resources = res)
  }

  /** Separation scn whose tint FAILS at evaluation time (kind selects how):
    * partial text before the scn + error status, matching the reference's
    * abort-with-partial-text contract.
    *  - "range":  {2 mul} pushes 1.6 -> DeviceGray range check fails
    *  - "type3":  stitching function -> reference's "Not implemented yet"
    *  - "psop":   unsupported PS operand at exec time
    */
  def sSeparationFailing(kind: String, before: String = "partial"): Array[Byte] = {
    val esc = new String(escapeStringText(before), ISO_8859_1)
    val res = s"<< /Font << /F1 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> >> " +
      "/ColorSpace << /Sep0 [/Separation /Spot /DeviceGray 5 0 R] >> >>"
    val c = b(s"BT /F1 12 Tf ($esc) Tj ET /Sep0 cs 0.8 scn BT (never) Tj ET")
    kind match {
      case "range" =>
        val prog = b("{ 2 mul }")
        onePage(s"<< /Length ${c.length} >>", c, resources = res,
          extra = bld => bld.stream(5,
            s"<< /FunctionType 4 /Domain [0 1] /Range [0 1] /Length ${prog.length} >>", prog))
      case "type3" =>
        onePage(s"<< /Length ${c.length} >>", c, resources = res,
          extra = bld => bld.obj(5,
            "<< /FunctionType 3 /Domain [0 1] /Functions [6 0 R 7 0 R] /Bounds [0.5] " +
              "/Encode [0 1 0 1] >>")
            .obj(6, "<< /FunctionType 2 /Domain [0 1] /C0 [0] /C1 [1] /N 1 >>")
            .obj(7, "<< /FunctionType 2 /Domain [0 1] /C0 [1] /C1 [0] /N 1 >>"))
      case _ =>
        val prog = b("{ frobnicate }")
        onePage(s"<< /Length ${c.length} >>", c, resources = res,
          extra = bld => bld.stream(5,
            s"<< /FunctionType 4 /Domain [0 1] /Range [0 1] /Length ${prog.length} >>", prog))
    }
  }

  /** Encrypted one-page doc, AESV3 V5/R6 (256-bit, the modern handler):
    * exercises algorithms 2.A/2.B/11/13 + AESV3 stream decryption through
    * the driver's byte-identity oracle. Empty user password.
    */
  def sEncryptedR6(text: String, docId: Long): Array[Byte] = {
    import graft.pdf.PdfEncrypt._
    val content = contentFor(text)
    val p = -1
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val fileKey = md.digest(s"graft-key-$docId".getBytes(ISO_8859_1))
    val id0 = java.util.Arrays.copyOf(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"graft-id6-$docId".getBytes(ISO_8859_1)), 16)
    val (u, ue, o, oe, permsEnc) = r6Credentials(
      upass = Array.emptyByteArray, opass = "graft-owner".getBytes(ISO_8859_1),
      fileKey = fileKey, p = p, encryptMetadata = true,
      saltSeed = s"graft-salt-$docId".getBytes(ISO_8859_1))
    val iv = java.util.Arrays.copyOf(java.security.MessageDigest.getInstance("MD5")
      .digest(s"graft-iv6-$docId".getBytes(ISO_8859_1)), 16)
    val encContent = aesEncrypt(fileKey, iv, content) // AESV3: object key == file key
    val encDict =
      s"<< /Filter /Standard /V 5 /R 6 /Length 256 /P $p " +
        s"/O <${hex(o)}> /U <${hex(u)}> /OE <${hex(oe)}> /UE <${hex(ue)}> " +
        s"/Perms <${hex(permsEnc)}> " +
        "/CF << /StdCF << /Type /CryptFilter /CFM /AESV3 /Length 32 >> >> " +
        "/StmF /StdCF /StrF /StdCF >>"
    val bld = new Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources $defaultResources /Contents 4 0 R >>")
    bld.stream(4, s"<< /Length ${encContent.length} >>", encContent)
    bld.obj(5, encDict)
    bld.trailerExtra = s"/Encrypt 5 0 R /ID [<${hex(id0)}> <${hex(id0)}>]"
    bld.build()
  }

  /** Encrypted doc in MODERN container form: xref STREAM + object stream,
    * RC4 V2/R3 crypt. Exercises the decrypt/parse ORDERING interactions:
    * the xref stream is never encrypted, the objstm container IS (key of
    * its own object number), and objstm MEMBERS are not re-decrypted
    * (crossrefs.go:317-321). Empty user password.
    */
  def sEncryptedObjstm(text: String, docId: Long): Array[Byte] = {
    import graft.pdf.PdfCrypt.{alg2Key, alg5U, objectKey}
    import graft.pdf.PdfEncrypt._
    val p = -1
    val id0 = java.security.MessageDigest.getInstance("MD5")
      .digest(s"graft-ido-$docId".getBytes(ISO_8859_1))
    val opass = "graft-owner".getBytes(ISO_8859_1)
    val upass = Array.emptyByteArray
    val o = alg3O(opass, upass, r = 3, lengthBits = 128)
    val ekey = alg2Key(upass, o, p, id0, r = 3, lengthBits = 128)
    val u = alg5U(ekey, id0)
    val out = new ByteArrayOutputStream()
    out.write(b("%PDF-1.5\n%âãÏÓ\n"))
    // obj 4: content stream, RC4 with key(4,0)
    val content = contentFor(text)
    val enc4 = graft.pdf.PdfCrypt.rc4(objectKey(ekey, 4, 0, isAes = false), content)
    val off4 = out.size().toLong
    out.write(b(s"4 0 obj\n<< /Length ${enc4.length} >>\nstream\n"))
    out.write(enc4)
    out.write(b("\nendstream\nendobj\n"))
    // obj 7: the Encrypt dict (plain, of course)
    val off7 = out.size().toLong
    out.write(b(s"7 0 obj\n<< /Filter /Standard /V 2 /R 3 /Length 128 /P $p " +
      s"/O <${hex(o)}> /U <${hex(u)}> >>\nendobj\n"))
    // obj 6: objstm holding 1 (catalog), 2 (pages), 3 (page); the WHOLE
    // container is flate-encoded then RC4'd with key(6,0).
    val o1 = "<< /Type /Catalog /Pages 2 0 R >>"
    val o2 = "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>"
    val o3 = s"<< /Type /Page /Parent 2 0 R /Resources $defaultResources /Contents 4 0 R >>"
    val payload = new StringBuilder
    val hdr = new StringBuilder
    for ((num, src) <- Seq((1, o1), (2, o2), (3, o3))) {
      hdr.append(s"$num ${payload.length} ")
      payload.append(src).append('\n')
    }
    val first = hdr.length
    val objstmPlain = Filters.flateEncode(b(hdr.toString + payload.toString))
    val enc6 = graft.pdf.PdfCrypt.rc4(objectKey(ekey, 6, 0, isAes = false), objstmPlain)
    val off6 = out.size().toLong
    out.write(b(s"6 0 obj\n<< /Type /ObjStm /N 3 /First $first /Filter /FlateDecode " +
      s"/Length ${enc6.length} >>\nstream\n"))
    out.write(enc6)
    out.write(b("\nendstream\nendobj\n"))
    // obj 5: xref stream (NEVER encrypted), trailer entries inline.
    val off5 = out.size().toLong
    def row(t: Int, f2: Long, f3: Int): Array[Byte] =
      // 4-byte offsets: a 2-byte field silently truncates past 64KB and
      // corrupts the xref for larger corpora (sHybrid's W note).
      Array[Byte](t.toByte, ((f2 >> 24) & 0xff).toByte, ((f2 >> 16) & 0xff).toByte,
        ((f2 >> 8) & 0xff).toByte, (f2 & 0xff).toByte, f3.toByte)
    val rows = Array(
      row(0, 0, 0), row(2, 6, 0), row(2, 6, 1), row(2, 6, 2),
      row(1, off4, 0), row(1, off5, 0), row(1, off6, 0), row(1, off7, 0))
    val xrefEnc = Filters.flateEncode(rows.flatten)
    out.write(b(s"5 0 obj\n<< /Type /XRef /Size 8 /W [1 4 1] /Root 1 0 R " +
      s"/Encrypt 7 0 R /ID [<${hex(id0)}> <${hex(id0)}>] " +
      s"/Filter /FlateDecode /Length ${xrefEnc.length} >>\nstream\n"))
    out.write(xrefEnc)
    out.write(b("\nendstream\nendobj\n"))
    out.write(b(s"startxref\n$off5\n%%EOF\n"))
    out.toByteArray
  }

  /** sAnnotated: page carrying a representative /Annots array (Link, Widget,
    * and a markup Text annotation with a valid indirect Popup) — the
    * annotation subtype dispatch + popup validation must PASS and the text
    * extract normally.
    */
  def sAnnotated(text: String): Array[Byte] = {
    val bld = new Builder()
    val c = contentFor(text)
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources $defaultResources /Contents 4 0 R " +
      "/Annots [<< /Subtype /Link /Rect [0 0 10 10] >> 5 0 R << /Subtype /Widget >>] >>")
    bld.stream(4, s"<< /Length ${c.length} >>", c)
    bld.obj(5, "<< /Type /Annot /Subtype /Text /Contents (note) /Popup 6 0 R >>")
    bld.obj(6, "<< /Type /Annot /Subtype /Popup /Parent 5 0 R >>")
    bld.build()
  }

  /** Two-page document: per-page texts joined with "\n" at the doc level. */
  def twoPages(t1: String, t2: String): Array[Byte] = {
    val bld = new Builder()
    val c1 = contentFor(t1)
    // Page 2 has no resources anywhere: its content avoids Tf (raw Tj only).
    val c2 = b(s"BT (${new String(escapeStringText(t2), ISO_8859_1)}) Tj ET")
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 /MediaBox [0 0 612 792] >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources $defaultResources /Contents 4 0 R >>")
    bld.stream(4, s"<< /Length ${c1.length} >>", c1)
    bld.obj(5, s"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>")
    bld.stream(6, s"<< /Length ${c2.length} >>", c2)
    bld.build()
  }

  /** Resources inherited from the Pages node (page has none). */
  def inheritedResources(text: String = "inherited"): Array[Byte] = {
    val bld = new Builder()
    val c = contentFor(text)
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, s"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] /Resources $defaultResources >>")
    bld.obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    bld.stream(4, s"<< /Length ${c.length} >>", c)
    bld.build()
  }

  /** Realistic operator-dense content: one `0 -12 Td (line) Tj` pair per
    * line (expected text = lines joined with newlines, per the Td ty<0 rule).
    */
  def multiLineContent(lines: Seq[String]): Array[Byte] = {
    // Assembled as BYTES end to end (the old byte->String->StringBuilder->
    // String->byte round trip cost 3 full copies + a char conversion each
    // way; this builder is the corpus_build per-task hot spot). ISO-8859-1
    // is byte-preserving, so the output is identical.
    val out = new ByteArrayOutputStream(32 + lines.iterator.map(_.length + 16).sum)
    out.write(b("BT /F1 12 Tf "), 0, 13)
    val td = b("0 -12 Td ")
    val tj = b(") Tj ")
    var first = true
    for (l <- lines) {
      if (!first) out.write(td, 0, td.length)
      out.write('(')
      val e = escapeStringText(l)
      out.write(e, 0, e.length)
      out.write(tj, 0, tj.length)
      first = false
    }
    out.write('E'); out.write('T')
    out.toByteArray
  }

  /** Multi-line PDF in the chosen container variant:
    * 0 raw classic-xref, 1 flate, 2 xref-stream+objstm, 3 multi-filter.
    */
  def multiLinePdf(lines: Seq[String], variant: Int): Array[Byte] = {
    val content = multiLineContent(lines)
    variant match {
      case 0 => onePage(s"<< /Length ${content.length} >>", content)
      case 1 =>
        val e = Filters.flateEncode(content)
        onePage(s"<< /Filter /FlateDecode /Length ${e.length} >>", e)
      case 2 => s07Content(content)
      case _ =>
        val e = Filters.ascii85Encode(Filters.flateEncode(content))
        onePage(s"<< /Filter [/ASCII85Decode /FlateDecode] /Length ${e.length} >>", e)
    }
  }

  /** Multi-paragraph HTML page (one <p> per line inside <article>).
    * Assembled as UTF-8 bytes directly (UTF-8 is concatenation-safe per
    * code point, so piecewise encoding equals encoding the joined string —
    * output bytes identical to the old interpolation, without the
    * intermediate page-sized strings in the corpus-build hot path).
    */
  def htmlMultiPara(lines: Seq[String]): Array[Byte] = {
    val out = new ByteArrayOutputStream(64 + lines.iterator.map(_.length + 8).sum)
    def w(s: String): Unit = { val b = s.getBytes(UTF_8); out.write(b, 0, b.length) }
    w("<html><body><article>")
    var first = true
    for (l <- lines) {
      if (!first) out.write('\n')
      w("<p>"); w(escapeHtml(l)); w("</p>")
      first = false
    }
    w("</article></body></html>")
    out.toByteArray
  }

  // ------------------------------------------------------------------- html

  def escapeHtml(s: String): String = {
    // fast guard: the common fixture text has nothing to escape — skip the
    // three chained replace passes (each a full scan + fresh string)
    var i = 0
    var clean = true
    while (clean && i < s.length) {
      val c = s.charAt(i)
      if (c == '&' || c == '<' || c == '>') clean = false
      i += 1
    }
    if (clean) s
    else s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
  }

  /** h01-style page: title + paragraphs in <article>, nav/footer boilerplate. */
  def htmlPage(title: String, paragraphs: Seq[String]): Array[Byte] = {
    val ps = paragraphs.map(p => s"<p>${escapeHtml(p)}</p>").mkString("\n")
    val html =
      s"""<!DOCTYPE html>
         |<html><head><title>${escapeHtml(title)}</title>
         |<style>body { color: red; }</style>
         |<script>var x = "<p>not text</p>";</script>
         |</head><body>
         |<nav><a href="/">Home</a> <a href="/about">About</a></nav>
         |<header>Site Header Boilerplate</header>
         |<article>
         |$ps
         |</article>
         |<aside><a href="/l1">link</a> <a href="/l2">farm</a> <a href="/l3">here</a></aside>
         |<footer>Copyright 2026 Example Corp</footer>
         |</body></html>""".stripMargin
    html.getBytes(UTF_8)
  }

  /** HTML page where characters are deterministically encoded as entities
    * (every 7th codepoint as decimal &#N;, every 11th as hex &#xH;, plus the
    * XML specials): extraction must DECODE back to the original text
    * (whitespace-normalized) — the entity decoder through the driver gate.
    */
  def htmlEntities(text: String): Array[Byte] = {
    val sb = new StringBuilder
    var i = 0
    var pos = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      val enc = cp match {
        case '&' => "&amp;"
        case '<' => "&lt;"
        case '>' => "&gt;"
        case _ if pos % 7 == 3  => s"&#$cp;"
        case _ if pos % 11 == 5 => f"&#x$cp%X;"
        case _ => new String(Character.toChars(cp))
      }
      sb.append(enc)
      pos += 1
      i += Character.charCount(cp)
    }
    s"<html><body><article><p>$sb</p></article></body></html>".getBytes(UTF_8)
  }

  /** Single-paragraph page used for the DuckDB-oracle HTML round-trip. */
  def htmlSimple(bodyText: String): Array[Byte] = {
    val html = s"<html><body><article><p>${escapeHtml(bodyText)}</p></article></body></html>"
    html.getBytes(UTF_8)
  }
}
