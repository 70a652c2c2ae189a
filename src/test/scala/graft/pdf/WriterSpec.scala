package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1

import org.scalatest.funsuite.AnyFunSuite

import graft.Extract
import graft.spark.PagesGen

/** PDF writer: serialization per the reference's DefaultWriteString
  * semantics, file framing per its default write path, and full
  * read -> write -> read -> extract round-trips over every container
  * variant in the x10 rotation.
  */
class WriterSpec extends AnyFunSuite {

  private def ser(o: PdfObj): String =
    new String(PdfWriter.serializeDirect(o), ISO_8859_1)

  test("primitive serialization matches DefaultWriteString semantics") {
    assert(ser(PdfBool(true)) == "true")
    assert(ser(PdfBool(false)) == "false")
    assert(ser(PdfInt(-42)) == "-42")
    // Go "%f": fixed six decimals
    assert(ser(PdfReal(0.5)) == "0.500000")
    assert(ser(PdfReal(-3.0)) == "-3.000000")
    // exact-tie values round HALF-EVEN like Go (Java's %.6f would round
    // half-up): 1/128 = 0.0078125 exactly -> last kept digit 2 stays even;
    // 3/128 = 0.0234375 -> 7 is odd, rounds up. -0.0 keeps its sign.
    assert(ser(PdfReal(0.0078125)) == "0.007812")
    assert(ser(PdfReal(0.0234375)) == "0.023438")
    assert(ser(PdfReal(-0.0)) == "-0.000000")
    // ANY negative value that rounds to zero keeps its sign (Go %f)
    assert(ser(PdfReal(-1e-9)) == "-0.000000")
    assert(ser(PdfReal(-4e-7)) == "-0.000000")
    assert(ser(PdfReal(1e-9)) == "0.000000")
    assert(ser(PdfNull) == "null")
    assert(ser(PdfRef(7, 3)) == "7 0 R") // gen forced to 0 on write
  }

  test("string escapes exactly {n r t b f ( ) backslash}, raw bytes else") {
    assert(ser(PdfStr.ascii("a(b)c\\d")) == "(a\\(b\\)c\\\\d)")
    assert(ser(PdfStr.ascii("l1\nl2\r\tx\bz\fq")) == "(l1\\nl2\\r\\tx\\bz\\fq)")
    // non-printable bytes are NOT escaped in strings (only the 8 sequences)
    assert(ser(PdfStr(Array(0x00, 0xff, 0x41).map(_.toByte))) == "(\u0000\u00ffA)")
  }

  test("names hex-escape non-printable, '#' and delimiter bytes") {
    assert(ser(PdfName("Name")) == "/Name")
    assert(ser(PdfName("Lime Green")) == "/Lime#20Green")
    assert(ser(PdfName("A#B")) == "/A#23B")
    assert(ser(PdfName("p/q(r)")) == "/p#2fq#28r#29")
  }

  test("writeFile rejects duplicate original object numbers") {
    // duplicates would silently share one output number while the xref
    // counted both entries — corrupting the file
    intercept[IllegalArgumentException] {
      PdfWriter.writeFile(
        Seq(1L -> PdfDict("A" -> PdfInt(1)), 1L -> PdfDict("B" -> PdfInt(2))),
        Seq("Root" -> PdfRef(1, 0)))
    }
  }

  test("arrays join with spaces; dicts have no separator between pairs") {
    assert(ser(PdfArr(PdfInt(1), PdfName("X"), PdfStr.ascii("s"))) == "[1 /X (s)]")
    assert(ser(PdfDict("A" -> PdfInt(1), "B" -> PdfStr.ascii("x"))) == "<</A 1/B (x)>>")
    // insertion order preserved
    assert(ser(PdfDict("Z" -> PdfInt(1), "A" -> PdfInt(2))) == "<</Z 1/A 2>>")
  }

  test("writeFile renumbers 1..n, classic xref with CRLF lines, trailer Size") {
    val content = "BT /F1 12 Tf (hi) Tj ET".getBytes(ISO_8859_1)
    val objs = Seq[(Long, PdfObj)](
      10L -> PdfDict("Type" -> PdfName("Catalog"), "Pages" -> PdfRef(30, 0)),
      30L -> PdfDict("Type" -> PdfName("Pages"), "Kids" -> PdfArr(PdfRef(40, 0)),
        "Count" -> PdfInt(1), "MediaBox" -> PdfArr(PdfInt(0), PdfInt(0), PdfInt(612), PdfInt(792))),
      40L -> PdfDict("Type" -> PdfName("Page"), "Parent" -> PdfRef(30, 0),
        "Resources" -> PdfDict(), "Contents" -> PdfRef(50, 0)),
      50L -> new PdfStream(50, 0, PdfDict(), content))
    val bytes = PdfWriter.writeFile(objs, Seq("Root" -> PdfRef(10, 0)))
    val s = new String(bytes, ISO_8859_1)
    assert(s.startsWith("%PDF-1.3\n"))
    // the binary-detection comment: UTF-8 of "%âãÏÓ\n" = 10 bytes (the
    // reference writes a Go UTF-8 string literal, writer.go:671)
    assert(java.util.Arrays.equals(
      java.util.Arrays.copyOfRange(bytes, 9, 19),
      Array(0x25, 0xc3, 0xa2, 0xc3, 0xa3, 0xc3, 0x8f, 0xc3, 0x93, 0x0a).map(_.toByte)))
    assert(s.contains("1 0 obj\n<</Type /Catalog/Pages 2 0 R>>"))
    assert(s.contains("xref\r\n0 5\r\n0000000000 65535 f\r\n"))
    assert(s.contains("trailer\n<</Root 1 0 R/Size 5>>"))
    assert(s.contains("/Length " + content.length))
    // dangling reference serializes as null
    val dangling = PdfWriter.writeFile(
      Seq(1L -> PdfDict("X" -> PdfRef(99, 0))), Seq("Root" -> PdfRef(1, 0)))
    assert(new String(dangling, ISO_8859_1).contains("<</X null>>"))
    // reloadable by our own reader
    val doc = PdfDocument.open(bytes)
    assert(doc.pages.length == 1)
  }

  test("authorSimple output extracts through the kernel") {
    val authored = PdfWriter.authorSimple(Seq(
      "BT /F1 12 Tf (Hello Writer) Tj ET".getBytes(ISO_8859_1),
      "BT /F1 12 Tf (page two) Tj ET".getBytes(ISO_8859_1)))
    val r = Extract(authored)
    assert(r.status == "ok")
    assert(r.text == "Hello Writer\npage two")
  }

  test("rewrite round-trips extraction over every x10 container variant") {
    val texts = Seq("Hello World", "café (nested) \\ back\nline")
    for (v <- 0 until PagesGen.PdfVariants; t <- texts) {
      val payload = PagesGen.payloadFor(99L, t, v)
      val before = Extract(payload)
      val rewritten = PdfWriter.rewrite(payload)
      val after = Extract(rewritten)
      assert(after.status == before.status, s"variant $v status")
      assert(after.text == before.text, s"variant $v text")
    }
  }

  test("write-side encryption: RC4 and AESV2 round-trip, plaintext hidden") {
    import PdfWriter.WriterEncrypt
    val src = PagesGen.payloadFor(7L, "crypted content here", 0) // classic xref
    for (aes <- Seq(false, true)) {
      val enc = PdfWriter.rewrite(src, Nil,
        Some(WriterEncrypt(ownerPass = "own3r".getBytes, aes = aes, seed = "t")))
      val s = new String(enc, ISO_8859_1)
      assert(s.contains("/Encrypt"))
      if (aes) {
        assert(s.startsWith("%PDF-1.5")) // SetVersion(1,5) for AESV2
        assert(s.contains("/AESV2") && s.contains("/StdCF"))
      } else assert(s.contains("/V 2") && s.contains("/R 3"))
      // the plaintext must NOT be legible in the encrypted body
      assert(!s.contains("crypted content here"), s"aes=$aes plaintext leaked")
      // empty user password -> transparent reopen through the full kernel
      assert(Extract(enc).status == "ok")
      assert(Extract(enc).text == "crypted content here", s"aes=$aes")
    }
  }

  test("write-side encryption: user password required when non-empty") {
    import PdfWriter.WriterEncrypt
    val src = PagesGen.payloadFor(8L, "user locked", 0)
    val enc = PdfWriter.rewrite(src, Nil, Some(WriterEncrypt(
      userPass = "s3cret".getBytes, ownerPass = "own3r".getBytes,
      aes = true, seed = "u")))
    // wrong/no password fails authentication
    intercept[Exception] { PdfDocument.open(enc) }
    // user password opens; owner password ALSO opens (algorithm 7 path)
    for (pass <- Seq("s3cret", "own3r")) {
      val doc = PdfDocument.open(enc, Seq(pass.getBytes))
      assert(doc.pages.length == 1)
    }
    // and the re-rewrite (decrypt on load) round-trips the text
    assert(Extract(PdfWriter.rewrite(enc, Seq("s3cret".getBytes))).text == "user locked")
  }

  test("write-side encryption is deterministic per seed") {
    import PdfWriter.WriterEncrypt
    val src = PagesGen.payloadFor(9L, "stable bytes", 0)
    def once() = PdfWriter.rewrite(src, Nil,
      Some(WriterEncrypt(ownerPass = "o".getBytes, aes = true, seed = "det")))
    assert(java.util.Arrays.equals(once(), once()))
  }

  test("annotator: line/square/circle appearance streams round-trip + validate") {
    // A page carrying the three shape annotations as an annotator writes
    // them: indirect markup dicts sharing an indirect /Popup, each with an
    // /AP Form XObject whose painter op tail is 'f' (filled line band),
    // 'B' (fill+border square) or 'S' (border-only circle as 4 beziers).
    val lineForm = ("q\n1.000000 0.000000 0.000000 rg\n/gs1 gs\n" +
      "0.000000 2.000000 m\n10.000000 2.000000 l\n" +
      "10.000000 0.000000 l\n0.000000 0.000000 l\nf\nQ\n").getBytes(ISO_8859_1)
    val squareForm = ("q\n0.000000 1.000000 0.000000 rg\n0.000000 0.000000 1.000000 RG\n" +
      "2.000000 w\n1.000000 1.000000 m\n79.000000 1.000000 l\n79.000000 39.000000 l\n" +
      "1.000000 39.000000 l\nh\nB\nQ\n").getBytes(ISO_8859_1)
    val circleForm = ("q\n0.000000 0.000000 0.000000 RG\n1.000000 w\n" +
      "60.000000 30.000000 m\n60.000000 46.569000 46.569000 60.000000 30.000000 60.000000 c\n" +
      "13.431000 60.000000 0.000000 46.569000 0.000000 30.000000 c\n" +
      "0.000000 13.431000 13.431000 0.000000 30.000000 0.000000 c\n" +
      "46.569000 0.000000 60.000000 13.431000 60.000000 30.000000 c\n" +
      "h\nS\nQ\n").getBytes(ISO_8859_1)
    val bld = new graft.fixtures.PdfFixtures.Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    bld.obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      s"/Resources ${graft.fixtures.PdfFixtures.defaultResources} /Contents 4 0 R " +
      "/Annots [5 0 R 6 0 R 7 0 R] >>")
    val c = "BT /F1 12 Tf (annotated page) Tj ET".getBytes(ISO_8859_1)
    bld.stream(4, s"<< /Length ${c.length} >>", c)
    bld.obj(5, "<< /Type /Annot /Subtype /Line /L [100 100 200 150] /C [1 0 0] " +
      "/BS << /Type /Border /W 2 >> /Rect [100 100 200 152] /CA 0.5 " +
      "/AP << /N 9 0 R >> /Popup 8 0 R >>")
    bld.obj(6, "<< /Type /Annot /Subtype /Square /Rect [50 300 130 340] /C [0 0 1] " +
      "/IC [0 1 0] /BS << /Type /Border /W 2 >> /AP << /N 10 0 R >> /Popup 8 0 R >>")
    bld.obj(7, "<< /Type /Annot /Subtype /Circle /Rect [300 500 360 560] /C [0 0 0] " +
      "/BS << /Type /Border /W 1 >> /AP << /N 11 0 R >> /Popup 8 0 R >>")
    bld.obj(8, "<< /Type /Annot /Subtype /Popup /Rect [0 0 1 1] /Parent 5 0 R >>")
    bld.stream(9, "<< /Type /XObject /Subtype /Form /BBox [0 0 10 2] " +
      "/Resources << /ExtGState << /gs1 << /CA 0.5 /ca 0.5 >> >> >> " +
      s"/Length ${lineForm.length} >>", lineForm)
    bld.stream(10, "<< /Type /XObject /Subtype /Form /BBox [0 0 80 40] " +
      s"/Length ${squareForm.length} >>", squareForm)
    bld.stream(11, "<< /Type /XObject /Subtype /Form /BBox [0 0 60 60] " +
      s"/Length ${circleForm.length} >>", circleForm)
    val doc = bld.build()
    // the kernel opens it: loadAnnotations validates all three markup dicts
    assert(PdfDocument.open(doc).pages.length == 1)
    assert(Extract(doc).status == "ok")
    assert(Extract(doc).text == "annotated page")
    // x42 shape: writer rewrite round-trips; annotations and their
    // appearance streams survive and the reopened file revalidates
    // through loadAnnotations
    val rew = PdfWriter.rewrite(doc)
    val r = Extract(rew)
    assert(r.status == "ok", r.error)
    assert(r.text == "annotated page")
    assert(PdfDocument.open(rew).pages.length == 1)
    val rs = new String(rew, ISO_8859_1)
    assert(rs.contains("/Subtype /Line") && rs.contains("/Subtype /Square") &&
      rs.contains("/Subtype /Circle") && rs.contains("/Subtype /Popup"))
    assert(rs.contains("/ExtGState"))
    for (form <- Seq(lineForm, squareForm, circleForm))
      assert(rs.contains(new String(form, ISO_8859_1)))
  }

  test("rewrite flattens object streams and strips encryption") {
    // objstm + xref-stream container comes out as a classic-xref file
    val rew7 = new String(PdfWriter.rewrite(PagesGen.payloadFor(1L, "t", 2)), ISO_8859_1)
    assert(rew7.contains("xref\r\n"))
    assert(!rew7.contains("/ObjStm"))
    // encrypted container comes out decrypted, no /Encrypt in the trailer
    val enc = PagesGen.payloadFor(1L, "secret words", 12) // AESV3 R6
    val rew = PdfWriter.rewrite(enc)
    val s = new String(rew, ISO_8859_1)
    assert(!s.contains("/Encrypt"))
    assert(Extract(rew).text == "secret words")
    // the plaintext is legible in the rewritten body (it was decrypted)
    assert(s.contains("secret words"))
  }
}
