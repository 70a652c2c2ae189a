package graft.pdf

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.Extract
import graft.fixtures.PdfFixtures

/** Whole-file goldens: minimal.pdf byte-identity (hand-traced expected text
  * per FIXTURES.md §3), the synthetic corpus s01-s17, and the reference's
  * checked-in PDFs as parse-don't-crash + determinism gates.
  */
class DocumentSpec extends AnyFunSuite {

  private def refFile(name: String): Option[Array[Byte]] = {
    val p = Paths.get(s"/root/reference/testfiles/$name")
    if (Files.exists(p)) Some(Files.readAllBytes(p)) else None
  }

  test("parseIndirectObject header: fast path, offset fallback, NUL rejection") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    def parserOver(src: String) = new PdfFileParser(src.getBytes(ISO_8859_1))
    // exact "N G obj" at the cursor
    val p1 = parserOver("7 0 obj\n(hi)\nendobj\n")
    p1.parseIndirectObject() match {
      case ind: PdfIndirect =>
        assert(ind.num == 7 && ind.gen == 0)
        assert(new String(ind.obj.asInstanceOf[PdfStr].bytes, ISO_8859_1) == "hi")
      case other => fail(s"unexpected $other")
    }
    // small leading junk: the leftmost header in the 20-byte window wins
    val p2 = parserOver("xx12 0 obj\n<< /A 5 >>\nendobj\n")
    p2.parseIndirectObject() match {
      case ind: PdfIndirect =>
        assert(ind.num == 12)
        assert(ind.obj.asInstanceOf[PdfDict].get("A") == PdfInt(5))
      case other => fail(s"unexpected $other")
    }
    // NUL-separated header: NUL is PDF whitespace but NOT in the header
    // pattern's class, so the header is rejected
    val p3 = parserOver("12\u0000 0 obj\n(x)\nendobj\n")
    assertThrows[PdfError](p3.parseIndirectObject())
    // ...while ordinary multi-space separation stays accepted
    val p4 = parserOver("3  0  obj\nnull\nendobj\n")
    assert(p4.parseIndirectObject().asInstanceOf[PdfIndirect].num == 3)
  }

  test("minimal.pdf: xref offsets and golden text 'Hello World'") {
    refFile("minimal.pdf") match {
      case None => cancel("reference testfiles not available")
      case Some(bytes) =>
        val parser = new PdfFileParser(bytes)
        parser.load()
        // Offsets asserted in the reference's (commented) parser_test.go:684-798.
        assert(parser.xrefs(1).offset == 18)
        assert(parser.xrefs(2).offset == 77)
        assert(parser.xrefs(3).offset == 178)
        assert(parser.xrefs(4).offset == 457)
        val r = Extract(bytes)
        assert(r.status == "ok", r.error)
        assert(r.text == "Hello World")
        assert(r.spans == Seq(graft.Span(0, 0, 11)))
    }
  }

  test("lorem.pdf and templates1.pdf: parse, deterministic across runs") {
    for (name <- Seq("lorem.pdf", "templates1.pdf")) {
      refFile(name) match {
        case None => cancel("reference testfiles not available")
        case Some(bytes) =>
          val r1 = Extract(bytes)
          val r2 = Extract(bytes)
          assert(r1.status == r2.status, s"$name status")
          assert(r1.textBytes.sameElements(r2.textBytes), s"$name determinism")
          assert(r1.status == "ok", s"$name: ${r1.error}")
          assert(r1.textBytes.nonEmpty, s"$name extracted nothing")
      }
    }
  }

  test("s01 classic xref -> verbatim text") {
    val r = Extract(PdfFixtures.s01("Hello World"))
    assert(r.status == "ok", r.error)
    assert(r.text == "Hello World")
  }

  test("s01 round-trips arbitrary text incl. escapes and UTF-8") {
    val text = "Weird (text) with \\ backslash, tabs\tand ünïcödé ☂"
    val r = Extract(PdfFixtures.s01(text))
    assert(r.status == "ok", r.error)
    assert(r.text == text)
  }

  test("s02 Td ty<0 -> newline") {
    val r = Extract(PdfFixtures.s02())
    assert(r.text == "line1\nline2")
  }

  test("s03 Td tx>0 -> space") {
    val r = Extract(PdfFixtures.s03())
    assert(r.text == "a b")
  }

  test("s04 Tm rules") {
    val r = Extract(PdfFixtures.s04())
    assert(r.text == "r1c1\tr1c2\nr2c1")
  }

  test("s05 TJ kern rule") {
    val r = Extract(PdfFixtures.s05())
    assert(r.text == "to kernjoined")
  }

  test("s06 flate content stream") {
    val r = Extract(PdfFixtures.s06("Compressed content works"))
    assert(r.status == "ok", r.error)
    assert(r.text == "Compressed content works")
  }

  test("s07 xref stream + object stream + PNG predictor") {
    val r = Extract(PdfFixtures.s07("From an object stream"))
    assert(r.status == "ok", r.error)
    assert(r.text == "From an object stream")
  }

  test("s08 ToUnicode CMap mapping") {
    val r = Extract(PdfFixtures.s08())
    assert(r.status == "ok", r.error)
    assert(r.text == "AB☺")
  }

  test("s09 content array joined with space") {
    val r = Extract(PdfFixtures.s09("part1", "part2"))
    assert(r.status == "ok", r.error)
    assert(r.text == "part1part2") // NB: the joiner space sits BETWEEN streams,
    // i.e. "...Tj ET BT...": no text op emits it, so extracted text is glued.
  }

  test("s10 quote ops and Do dropped") {
    val r = Extract(PdfFixtures.s10())
    assert(r.status == "ok", r.error)
    assert(r.text == "kept")
  }

  test("s11 multi-filter content stream") {
    val r = Extract(PdfFixtures.s11("Multi filter content"))
    assert(r.status == "ok", r.error)
    assert(r.text == "Multi filter content")
  }

  test("s12 broken startxref repaired") {
    val r = Extract(PdfFixtures.s12("Repaired just fine"))
    assert(r.status == "ok", r.error)
    assert(r.text == "Repaired just fine")
  }

  test("s13 glued trailer<<") {
    val r = Extract(PdfFixtures.s13("Glued trailer"))
    assert(r.status == "ok", r.error)
    assert(r.text == "Glued trailer")
  }

  test("s14 oversized /Length corrected via next-xref heuristic") {
    val r = Extract(PdfFixtures.s14("Length corrected"))
    assert(r.status == "ok", r.error)
    assert(r.text == "Length corrected")
  }

  test("s15 inline image before text") {
    val r = Extract(PdfFixtures.s15("after image"))
    assert(r.status == "ok", r.error)
    assert(r.text == "after image")
  }

  test("s16 unknown colorspace -> partial text + error status") {
    val r = Extract(PdfFixtures.s16())
    assert(r.status == "error")
    assert(r.text == "partial")
    assert(r.error.contains("Unsupported colorspace"))
  }

  test("Indexed colorspace: in-range palette index -> full text") {
    val r = Extract(PdfFixtures.sIndexed("and after", scIndex = "1"))
    assert(r.status == "ok", r.error)
    assert(r.text == "partialand after")
  }

  test("Indexed colorspace: out-of-range index -> partial text + error") {
    // index 7 * 3 components = 21 >= 9 palette bytes (colorspace.go:2236-2238)
    val r = Extract(PdfFixtures.sIndexed("never", scIndex = "7"))
    assert(r.status == "error")
    assert(r.text == "partial")
    assert(r.error.contains("Outside range"))
  }

  test("Indexed colorspace: negative index -> partial text + error") {
    val r = Extract(PdfFixtures.sIndexed("never", scIndex = "-1"))
    assert(r.status == "error")
    assert(r.text == "partial")
    assert(r.error.contains("Outside range"))
  }

  test("Indexed colorspace: short lookup table -> index past table aborts") {
    // hival says 3 entries but the table holds 2 bytes; the reference loads
    // it with a debug note and the range check catches the access
    // (colorspace.go:2216-2222 + 2236-2238).
    val r = Extract(PdfFixtures.sIndexed("never", scIndex = "0", palette = "<FFFF>"))
    assert(r.status == "error")
    assert(r.text == "partial")
    assert(r.error.contains("Outside range"))
  }

  test("Indexed colorspace: hival > 255 fails the page load (no text)") {
    val r = Extract(PdfFixtures.sIndexed("never", scIndex = "0", hival = 300))
    assert(r.status == "error")
    assert(r.text == "")
    assert(r.error.contains("Invalid hival"))
  }

  test("incremental update (/Prev chain): latest revision's object wins") {
    val r = Extract(PdfFixtures.sIncremental("fresh revision-2 text"))
    assert(r.status == "ok", r.error)
    assert(r.text == "fresh revision-2 text")
  }

  test("hybrid xref (/XRefStm): content object resolvable only via the stream") {
    val r = Extract(PdfFixtures.sHybrid("hybrid body"))
    assert(r.status == "ok", r.error)
    assert(r.text == "hybrid body")
  }

  test("Lab + CalRGB + Indexed colorspace ops before text") {
    val r = Extract(PdfFixtures.sColorSpaces("colored text"))
    assert(r.status == "ok", r.error)
    assert(r.text == "colored text")
  }

  test("Type-0 sampled + Type-2 exponential tint transforms before text") {
    val r = Extract(PdfFixtures.sTints("tinted text"))
    assert(r.status == "ok", r.error)
    assert(r.text == "tinted text")
  }

  test("hostile roll payload -> status=timeout within the budget") {
    val t0 = System.nanoTime()
    val r = Extract(PdfFixtures.sHostile(), Extract.DefaultMaxBytesPerDoc, timeoutMs = 300)
    val ms = (System.nanoTime() - t0) / 1000000
    assert(r.status == "timeout")
    assert(r.text == "") // timeout drops partial text (top-level contract)
    assert(ms < 5000, s"deadline must fire promptly, took ${ms}ms")
  }

  test("cyclic /Parent chain -> clean error, not an unkillable spin") {
    val bld = new PdfFixtures.Builder()
    val c = "BT (x) Tj ET".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    // Root Pages node referencing ITSELF as /Parent; page has no /Resources,
    // so inheritedResources must walk (and bail out of) the cycle.
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] /Parent 2 0 R >>")
    bld.obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    bld.stream(4, s"<< /Length ${c.length} >>", c)
    val t0 = System.nanoTime()
    val r = Extract(bld.build(), Extract.DefaultMaxBytesPerDoc, timeoutMs = 5000)
    val ms = (System.nanoTime() - t0) / 1000000
    assert(r.status == "error" || r.status == "timeout", r.status)
    assert(ms < 10000, s"cycle guard must fire promptly, took ${ms}ms")
  }

  test("truncated inline image (EOF before EI) -> error with partial-page abort") {
    // Reference: ParseInlineImage returns io.EOF as an ERROR; the whole
    // content parse fails, so no text is extracted (page error row).
    val c = "BT (hello) Tj ET BI /W 1 /H 1 /CS /DeviceGray /BPC 8 ID "
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val bld = new PdfFixtures.Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} /Contents 4 0 R >>")
    bld.stream(4, s"<< /Length ${c.length} >>", c)
    val r = Extract(bld.build())
    assert(r.status == "error", r.status)
    assert(r.text == "")
  }

  test("Encrypt dict without /V -> decrypt error (no default RC4 filters)") {
    // Take a valid RC4-encrypted doc and strip /V from its Encrypt dict:
    // the reference installs NO crypt filters when V is absent, so the
    // first decrypt fails (crypt.go:342-358).
    val bytes = PdfFixtures.sEncrypted("secret text", 7L, aes = false)
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val patched = s.replaceFirst("/V 2", "/Z 2 ") // same byte length: offsets intact
    val r = Extract(patched.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    assert(r.status == "error", r.status)
  }

  test("s17 oversize doc -> skipped_oversize") {
    val r = Extract(PdfFixtures.s01("x"), maxBytesPerDoc = 10)
    assert(r.status == "skipped_oversize")
  }

  test("two pages joined with newline + spans") {
    val r = Extract(PdfFixtures.twoPages("page one", "page two"))
    assert(r.status == "ok", r.error)
    assert(r.text == "page one\npage two")
    assert(r.spans == Seq(graft.Span(0, 0, 8), graft.Span(1, 9, 17)))
  }

  test("two pages, second aborts -> first page + partial text, error status") {
    // The page loop's abort: page 1 is kept whole, page 2 contributes the
    // text before the unknown colorspace, and no later page is read.
    val bld = new PdfFixtures.Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 /MediaBox [0 0 612 792] >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} /Contents 4 0 R >>")
    val c1 = "BT /F1 12 Tf (page one) Tj ET".getBytes(UTF_8)
    bld.stream(4, s"<< /Length ${c1.length} >>", c1)
    bld.obj(5, "<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>")
    val c2 = "BT (partial) Tj ET /NoSuchCS CS BT (never) Tj ET".getBytes(UTF_8)
    bld.stream(6, s"<< /Length ${c2.length} >>", c2)
    val r = Extract(bld.build())
    assert(r.status == "error")
    assert(r.text == "page one" + "\n" + "partial")
    assert(r.spans == Seq(graft.Span(0, 0, 8), graft.Span(1, 9, 16)))
    assert(r.error.contains("Unsupported colorspace"))
  }

  test("resources inherited from Pages node") {
    val r = Extract(PdfFixtures.inheritedResources("inherited"))
    assert(r.status == "ok", r.error)
    assert(r.text == "inherited")
  }

  test("cyclic page tree terminates") {
    // Kids pointing back at an ancestor: the visited set must stop recursion.
    val bld = new PdfFixtures.Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R 2 0 R] /Count 2 >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} /Contents 4 0 R >>")
    val c = "BT (cyclic ok) Tj ET".getBytes(UTF_8)
    bld.stream(4, s"<< /Length ${c.length} >>", c)
    val r = Extract(bld.build())
    assert(r.status == "ok", r.error)
    assert(r.text == "cyclic ok")
  }

  test("encrypted document -> error status") {
    val bld = new PdfFixtures.Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [] /Count 0 >>")
    val bytes = bld.build()
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    val withEnc = s.replace("/Root 1 0 R", "/Root 1 0 R /Encrypt 9 0 R")
    val r = Extract(withEnc.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    assert(r.status == "error") // Encrypt ref to a missing object
  }

  test("garbage payload -> error status, never a throw") {
    val r = Extract("%PDF-1.4 garbage no structure".getBytes(UTF_8))
    assert(r.status == "error")
  }

  test("outlines: cyclic Next chain terminates; bad Title errors the doc") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    // cyclic outline items
    val bld = new PdfFixtures.Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R /Outlines 5 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} /Contents 4 0 R >>")
    val c = "BT (with outlines) Tj ET".getBytes(ISO_8859_1)
    bld.stream(4, s"<< /Length ${c.length} >>", c)
    bld.obj(5, "<< /Type /Outlines /First 6 0 R >>")
    bld.obj(6, "<< /Title (a) /Next 7 0 R >>")
    bld.obj(7, "<< /Title (b) /Next 6 0 R >>") // cycle back to 6
    val r = Extract(bld.build())
    assert(r.status == "ok", r.error)
    assert(r.text == "with outlines")

    // Title not a string -> document error (reference outlines.go:143-146)
    val bad = new PdfFixtures.Builder()
    bad.obj(1, "<< /Type /Catalog /Pages 2 0 R /Outlines 5 0 R >>")
    bad.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    bad.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} /Contents 4 0 R >>")
    bad.stream(4, s"<< /Length ${c.length} >>", c)
    bad.obj(5, "<< /Type /Outlines /First 6 0 R >>")
    bad.obj(6, "<< /Title 42 >>")
    val rb = Extract(bad.build())
    assert(rb.status == "error")
    assert(rb.error.contains("Title"))
  }

  test("AcroForm: non-dict entry errors the doc") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val bld = new PdfFixtures.Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R /AcroForm (bogus) >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} /Contents 4 0 R >>")
    val c = "BT (x) Tj ET".getBytes(ISO_8859_1)
    bld.stream(4, s"<< /Length ${c.length} >>", c)
    val r = Extract(bld.build())
    assert(r.status == "error")
    assert(r.error.contains("acroform"))
  }

  test("per-doc time budget -> status=timeout") {
    // Large operator-dense doc + 1ms budget: the cooperative deadline trips.
    val lines = (0 until 20000).map(i => s"line number $i with some padding text")
    val pdf = PdfFixtures.multiLinePdf(lines, 0)
    val r = Extract(pdf, Extract.DefaultMaxBytesPerDoc, timeoutMs = 1)
    assert(r.status == "timeout")
    // Same doc with a sane budget extracts fine.
    val ok = Extract(pdf, Extract.DefaultMaxBytesPerDoc, timeoutMs = 30000)
    assert(ok.status == "ok", ok.error)
  }

  test("page attribute validation: bad boxes/Rotate/LastModified/Annots error the doc") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    def pageWith(extra: String): Array[Byte] = {
      val bld = new PdfFixtures.Builder()
      bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
      bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
      bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} /Contents 4 0 R $extra>>")
      val c = "BT (x) Tj ET".getBytes(ISO_8859_1)
      bld.stream(4, s"<< /Length ${c.length} >>", c)
      bld.build()
    }
    assert(Extract(pageWith("/CropBox [0 0 100] ")).status == "error")          // len != 4
    assert(Extract(pageWith("/TrimBox [0 0 (a) 100] ")).status == "error")      // non-numeric
    assert(Extract(pageWith("/Rotate (ninety) ")).status == "error")
    assert(Extract(pageWith("/LastModified (not-a-date) ")).status == "error")
    assert(Extract(pageWith("/LastModified (D:20260816120000Z) ")).status == "ok")
    assert(Extract(pageWith("/Annots 7 ")).status == "error")                   // not an array
    assert(Extract(pageWith("/Annots [(str)] ")).status == "error")             // member not dict
    assert(Extract(pageWith("/Annots [null << /Subtype /Link >>] ")).status == "ok")
    assert(Extract(pageWith("/Annots [<< /Subtype (Link) >>] ")).status == "error") // subtype not name
    assert(Extract(pageWith("/CropBox [0 0 612 792] /Rotate 90 ")).status == "ok")
  }

  test("annotation subtype dispatch mirrors the reference error surface") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    def doc(annots: String, extraObjs: PdfFixtures.Builder => Unit = _ => ()): Array[Byte] = {
      val bld = new PdfFixtures.Builder()
      bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
      bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
      bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} /Contents 4 0 R /Annots $annots >>")
      val c = "BT (x) Tj ET".getBytes(ISO_8859_1)
      bld.stream(4, s"<< /Length ${c.length} >>", c)
      extraObjs(bld)
      bld.build()
    }
    // Known subtypes (markup and non-markup) pass; missing Subtype tolerated.
    assert(Extract(doc("[<< /Subtype /Widget >> << /Subtype /Highlight >> << /Rect [0 0 1 1] >>]")).status == "ok")
    // UNKNOWN subtype -> reference's "Unknown annotation" abort (whole doc).
    val unk = Extract(doc("[<< /Subtype /VendorMagic >>]"))
    assert(unk.status == "error" && unk.error.contains("Unknown annotation"))
    // Markup /Popup must be an INDIRECT object...
    assert(Extract(doc("[<< /Subtype /Text /Popup << /Subtype /Popup >> >>]")).status == "error")
    // ...whose annotation subtype IS Popup...
    assert(Extract(doc("[<< /Subtype /Text /Popup 5 0 R >>]",
      _.obj(5, "<< /Subtype /Popup >>"))).status == "ok")
    // ...anything else errors ("Popup not referring to a popup annotation!").
    val notPopup = Extract(doc("[<< /Subtype /Text /Popup 5 0 R >>]",
      _.obj(5, "<< /Subtype /Link >>")))
    assert(notPopup.status == "error" && notPopup.error.contains("popup annotation"))
    // Popup null is fine (annotations.go:947-949).
    assert(Extract(doc("[<< /Subtype /Ink /Popup null >>]")).status == "ok")
    // Line / Square / Circle markup dicts as an annotation author writes
    // them (indirect, /AP appearance form, border style, interior colour),
    // each with an indirect /Popup: all validate and text is unaffected.
    val form = "q 1 0 0 rg 0 2 m 100 2 l 100 0 l 0 0 l f Q".getBytes(ISO_8859_1)
    val shapes = doc("[5 0 R 6 0 R 7 0 R]", b => {
      b.obj(5, "<< /Type /Annot /Subtype /Line /L [100 100 200 150] " +
        "/LE [/None /ClosedArrow] /C [1 0 0] /IC [1 0 0] /BS << /Type /Border /W 2 >> " +
        "/Rect [100 100 200 152] /CA 0.5 /AP << /N 9 0 R >> /Popup 8 0 R >>")
      b.obj(6, "<< /Type /Annot /Subtype /Square /Rect [50 300 130 340] " +
        "/C [0 0 1] /IC [0 1 0] /BS << /Type /Border /W 2 >> /Popup 8 0 R >>")
      b.obj(7, "<< /Type /Annot /Subtype /Circle /Rect [300 500 360 560] " +
        "/C [0 0 0] /IC [] /Popup 8 0 R >>")
      b.obj(8, "<< /Type /Annot /Subtype /Popup /Rect [0 0 1 1] /Parent 5 0 R >>")
      b.stream(9, s"<< /Type /XObject /Subtype /Form /BBox [0 0 100 2] /Length ${form.length} >>", form)
    })
    val sr = Extract(shapes)
    assert(sr.status == "ok", sr.error)
    assert(sr.text == "x")
    // A shape whose /Popup is another markup annotation errors like /Text.
    val badShape = Extract(doc("[5 0 R]", b => {
      b.obj(5, "<< /Type /Annot /Subtype /Circle /Rect [0 0 9 9] /Popup 6 0 R >>")
      b.obj(6, "<< /Type /Annot /Subtype /Square /Rect [0 0 9 9] >>")
    }))
    assert(badShape.status == "error" && badShape.error.contains("popup annotation"))
  }

  test("XrefLine strict classifier agrees with the regex matchers") {
    import XrefOracle._
    // corners: prefix junk (find() semantics), whitespace variants, the
    // subsection/entry shapes glued or short, and numbers too large for
    // the reference's .toInt/.toLong (which must keep throwing)
    val lines = Seq(
      "0000000015 00000 n", "0000000000 65535 f", "0 46", "12 3",
      "0000000015 00000 n ", "15 0 n", "15\t0\tn", "2 7\r", "9 1 f",
      "0000000015 00000 x", "15 n", "n 15 0", "abc 12 0 n", " 12 0 n",
      "12 0 N", "12 0n", "120", "", "trailer<</Size 4>>", "%%EOF",
      "12  0   n  ", "007 008", "12 34n", "123 456 7", "1 2 3 n",
      "99999999999999999999 0 n", "12 99999999999999999999",
      "2147483647 1", "2147483648 1", "15 2147483648 n", "-1 2 n",
      "3.5 2", "1234", "0000000015\n00000 n", "0 6 1", "x9 8 f \f",
      "0000000015 00000 n\u0085", "12 0\u0085", "12 0 n\u0085 ")
    for (txt <- lines) assert(classified(txt) == oracle(txt), s"line '${esc(txt)}'")
    assert(oracle("abc 12 0 n") == "entry 12 0 n")
    assert(oracle("2147483648 1") == "java.lang.NumberFormatException: For input string: \"2147483648\"")
    assert(oracle("15 2147483648 n") == "java.lang.NumberFormatException: For input string: \"2147483648\"")
    // Go's `$` is the end of the text; Java's also matches before a final
    // U+0085 (byte 0x85 in a latin-1 line), so the Java pattern would take
    // this line as an entry where the reference sees noise
    val javaDollar = java.util.regex.Pattern.compile(
      "(\\d+)[\\t\\n\\f\\r ]+(\\d+)[\\t\\n\\f\\r ]+([nf])[\\t\\n\\f\\r ]*$")
    assert(javaDollar.matcher("0000000015 00000 n\u0085").find())
    assert(XrefLine.classify("0000000015 00000 n\u0085") == null)
    // seeded property loop over an alphabet biased toward the shape
    val rnd = new scala.util.Random(20261018L)
    val kinds = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for (_ <- 0 until 120000) {
      val txt =
        if (rnd.nextBoolean()) shaped(rnd, Array("n", "f", "", "R", "x", "n\u0085", "f \u0085"))
        else randomText(rnd, atoms, 1 + rnd.nextInt(9))
      val want = oracle(txt)
      assert(classified(txt) == want, s"line '${esc(txt)}'")
      kinds(want.takeWhile(_ != ' ')) += 1
    }
    assert(kinds("sub") > 1000 && kinds("entry") > 1000 && kinds("noise") > 1000 &&
      kinds("java.lang.NumberFormatException:") > 100, kinds.toString)
  }

  test("object header finder equals the regex find() on every window") {
    import XrefOracle._
    val header = java.util.regex.Pattern.compile(s"(\\d+)$S+(\\d+)$S+obj")
    def oracleFind(b: Array[Byte], from: Int, until: Int): String = {
      val m = header.matcher(new String(b, from, until - from, ISO_8859_1))
      if (m.find()) s"${from + m.start()}-${from + m.end()} ${m.group(1)} ${m.group(2)}" else "none"
    }
    def found(b: Array[Byte], from: Int, until: Int): String = ObjHeader.find(b, from, until) match {
      case null => "none"
      case h    => s"${h.start}-${h.end} ${h.num(b)} ${h.gen(b)}"
    }
    def check(src: String, from: Int): String = {
      val b = src.getBytes(ISO_8859_1)
      val until = math.min(from + 20, b.length)
      val want = oracleFind(b, from, until)
      assert(found(b, from, until) == want, s"window '${esc(src)}' from $from")
      want
    }
    assert(check("xx12 0 obj\n", 0) == "2-10 12 0")
    assert(check("1 2 3 obj", 0) == "2-9 2 3")
    assert(check("12\u0000 0 obj", 0) == "none")
    assert(check("123456789012 0 obj", 0) == "0-18 123456789012 0")
    assert(check("1234567890123456 0 obj", 0) == "none") // "obj" ends past the window
    assert(check("7 0 ob", 0) == "none")
    val rnd = new scala.util.Random(20261019L)
    var matched = 0
    for (_ <- 0 until 120000) {
      val src =
        if (rnd.nextBoolean()) shaped(rnd, Array("obj", "obj", "ob", "Obj", "R"))
        else randomText(rnd, atoms, rnd.nextInt(12))
      val from = rnd.nextInt(math.min(src.length, 6) + 1)
      if (check(src, from) != "none") matched += 1
    }
    assert(matched > 2000, s"$matched")
  }

  test("xref table golden: two subsections, free and junk-led entries, a noise line, glued trailer") {
    import XrefOracle._
    val p = new PdfFileParser(xrefGoldenPdf.getBytes(ISO_8859_1))
    p.load()
    val want = Map(1 -> 9L, 2 -> 58L, 3 -> 115L, 4 -> 217L, 5 -> 299L)
    def table(p: PdfFileParser) = p.xrefs.map { case (n, e) =>
      assert(e.xtype == XrefEntry.TableEntry && e.objectNumber == n && e.generation == 0)
      n -> e.offset
    }.toMap
    assert(table(p) == want)
    assert(p.trailer.get("Size") == PdfInt(7))
    // every offset is right: the page tree loads without any repair
    val doc = new PdfDocument(p)
    assert(doc.pages.length == 1)
    assert(table(p) == want)
    val r = Extract(xrefGoldenPdf.getBytes(ISO_8859_1))
    assert(r.status == "ok", r.error)
    assert(r.text == "xref golden")
    assert(r.spans == Seq(graft.Span(0, 0L, 11L)))
    // a subsection number past Int.MaxValue throws the reference's .toInt
    val big = Extract(xrefGoldenPdf.replace("4 3\n", "4294967296 3\n").getBytes(ISO_8859_1))
    assert(big.status == "error")
    assert(big.error == "For input string: \"4294967296\"")
  }

  test("xref entry line ending in byte 0x85 is noise, as with Go's end-of-text $") {
    import XrefOracle._
    val src = xrefGoldenPdf.replace("0000000299 00000 n \n", "0000000299 00000 n\u0085\n")
    assert(src != xrefGoldenPdf)
    val p = new PdfFileParser(src.getBytes(ISO_8859_1))
    p.load()
    // object 5's line is skipped, so the free line after it numbers object 5
    assert(p.xrefs.keySet == Set(1, 2, 3, 4))
  }

  /** The reference's next-object offset (pdf/core/parser.go:1277-1285):
    * a scan of every xref entry.
    */
  private def linearNextOffset(p: PdfFileParser, offset: Long): Long = {
    var next = 0L
    for (x <- p.xrefs.values)
      if (x.offset > offset && (x.offset < next || next == 0)) next = x.offset
    next
  }

  private def assertNextOffsetsLinear(p: PdfFileParser, what: String): Unit =
    for (off <- 0L to p.fileSize + 1)
      assert(p.xrefs.nextOffsetAfter(off) == linearNextOffset(p, off), s"$what at offset $off")

  test("next xref offset: the binary search equals the linear scan, before and after repairs") {
    for (v <- 0 until graft.spark.PagesGen.PdfVariants) {
      val bytes = graft.spark.PagesGen.payloadFor(v, s"rotation $v", v)
      val doc = PdfDocument.open(bytes)
      assertNextOffsetsLinear(doc.parser, s"variant $v after load")
      doc.pages.foreach(doc.allContentStreams)
      assertNextOffsetsLinear(doc.parser, s"variant $v after reading its content")
    }
    // Object 4's xref offset points 2 bytes into its header, so reading it
    // fails and the top-down repair rebuilds the map with the true offset.
    // The sorted offsets are built before the repair; a stale copy would
    // disagree with the scan after it.
    val src = new String(PdfFixtures.s01("repaired"), ISO_8859_1)
    val at = src.indexOf("\n4 0 obj") + 1
    val broken = src.replace(f"$at%010d 00000 n", f"${at + 2}%010d 00000 n")
    assert(broken != src)
    val p = new PdfFileParser(broken.getBytes(ISO_8859_1))
    p.load()
    assert(p.xrefs(4).offset == at + 2)
    assertNextOffsetsLinear(p, "before the repair")
    val doc = new PdfDocument(p)
    assert(new String(doc.allContentStreams(doc.pages.head), ISO_8859_1).contains("(repaired)"))
    assert(p.xrefs(4).offset == at)
    assertNextOffsetsLinear(p, "after the repair")
  }

  test("a document of 60k content streams extracts within the per-document deadline") {
    // A scan of every xref per stream grows with the square of the stream
    // count: 9.5 s at 20k streams on 4 vCPUs, past the 30 s deadline at 60k.
    val n = 60000
    val bld = new PdfFixtures.Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
    bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} " +
      s"/Contents [${(4 until 4 + n).map(i => s"$i 0 R").mkString(" ")}] >>")
    bld.streamAuto(4, "<<", "BT /F1 12 Tf (many streams) Tj ET".getBytes(ISO_8859_1))
    for (i <- 5 until 4 + n) bld.streamAuto(i, "<<", "q Q".getBytes(ISO_8859_1))
    val r = Extract(bld.build())
    assert(r.status == "ok", r.error)
    assert(r.text == "many streams")
  }

  test("%%EOF scan: the last marker of the last window holding one; a marker across two windows is in neither") {
    // The reference's scan (pdf/core/parser.go:1079-1117): the %%EOF regex
    // over each 1000-byte window, windows walked from the end. -1 = none.
    def regexScan(data: Array[Byte]): Long = {
      val eof = java.util.regex.Pattern.compile("%%EOF")
      val fSize = data.length.toLong
      var offset = 0L
      var buflen = 1000L
      while (offset < fSize) {
        if (fSize <= buflen + offset) buflen = fSize - offset
        val start = (fSize - offset - buflen).toInt
        val m = eof.matcher(new String(data, start, buflen.toInt, ISO_8859_1))
        var last = -1
        while (m.find()) last = m.start()
        if (last >= 0) return start + last
        offset += buflen
      }
      -1L
    }
    def scan(data: Array[Byte]): Long =
      try new PdfFileParser(data).seekToEOFMarker(data.length.toLong)
      catch { case e: PdfError if e.getMessage == "EOF not found" => -1L }
    def withMarkers(size: Int, at: Int*): Array[Byte] = {
      val d = Array.fill[Byte](size)('x'.toByte)
      for (p <- at) "%%EOF".getBytes(ISO_8859_1).copyToArray(d, p)
      d
    }
    // several markers in the last window [2000, 3000): the last one
    assert(scan(withMarkers(3000, 2100, 2500, 2995)) == 2995)
    // none in the last window: the last marker of [1000, 2000)
    assert(scan(withMarkers(3000, 100, 1100, 1500)) == 1500)
    // across [1000, 2000) | [2000, 3000): in neither window
    assert(scan(withMarkers(3000, 500, 1997)) == 500)
    assert(scan(withMarkers(3000, 1997)) == -1)
    // size 1003: windows [3, 1003), then the short [0, 3)
    assert(scan(withMarkers(1003, 1)) == -1)
    assert(scan(withMarkers(1003, 3)) == 3)
    assert(scan(withMarkers(4)) == -1)
    // seeded layouts: bytes of the marker alphabet plus planted markers, many
    // near a window edge, against the regex scan
    val rnd = new scala.util.Random(1079)
    val alphabet = "%%EOFx".getBytes(ISO_8859_1)
    for (_ <- 0 until 3000) {
      val size = rnd.nextInt(3200)
      val d = Array.fill[Byte](size)(alphabet(rnd.nextInt(alphabet.length)))
      for (_ <- 0 until rnd.nextInt(4) if size >= 5) {
        val edge = size - 1000 * (1 + rnd.nextInt(3)) - rnd.nextInt(6)
        val at = if (rnd.nextBoolean() && edge >= 0 && edge + 5 <= size) edge else rnd.nextInt(size - 4)
        "%%EOF".getBytes(ISO_8859_1).copyToArray(d, at)
      }
      assert(scan(d) == regexScan(d), new String(d, ISO_8859_1))
    }
  }
}

/** Oracles and inputs for the file-layer matcher specs: the reference's
  * xref-line regexes (pdf/core/parser.go:23-33) written with Go semantics
  * (`\z` for Go's end-of-text `$`), and a seeded text generator biased
  * toward the characters these shapes are made of.
  */
private object XrefOracle {
  import java.util.regex.Pattern
  val S = "[\\t\\n\\f\\r ]"
  private val subsection = Pattern.compile(s"(\\d+)$S+(\\d+)$S*\\z")
  private val entry = Pattern.compile(s"(\\d+)$S+(\\d+)$S+([nf])$S*\\z")

  private def outcome(f: => String): String =
    try f catch { case e: Exception => s"${e.getClass.getName}: ${e.getMessage}" }

  /** The reference's per-line decision: subsection first, then entry. */
  def oracle(txt: String): String = outcome {
    val m1 = subsection.matcher(txt)
    if (m1.find()) s"sub ${m1.group(1).toInt}"
    else {
      val m2 = entry.matcher(txt)
      if (m2.find()) {
        val first = m2.group(1).toLong
        s"entry $first ${m2.group(2).toInt} ${m2.group(3)}"
      } else "noise"
    }
  }

  def classified(txt: String): String = outcome {
    XrefLine.classify(txt) match {
      case null              => "noise"
      case l if l.kind == 1  => s"sub ${l.first}"
      case l                 => s"entry ${l.first} ${l.gen} ${if (l.isN) "n" else "f"}"
    }
  }

  val atoms: Array[String] = Array(
    "0", "1", "2", "7", "9", "0", "1", "5", "00000", "65535", "2147483648", "99999999999",
    " ", " ", " ", "\t", "\n", "\f", "\r", "\u0000", "+", ",", "-", ".",
    "n", "f", "n", "f", "R", "obj", "\u0085", "x")

  def randomText(rnd: scala.util.Random, alphabet: Array[String], n: Int): String = {
    val sb = new StringBuilder
    for (_ <- 0 until n) sb.append(alphabet(rnd.nextInt(alphabet.length)))
    sb.toString
  }

  private val digitRuns = Array("0", "1", "7", "12", "0000000015", "00000", "65535",
    "2147483647", "2147483648", "99999999999999999999")
  private val seps = Array(" ", "  ", "\t", "\f", "\r", "\n", "\u0000", " \u0000", "")

  /** Mostly near misses of `D S D S tail`: digit runs, separators (NUL and
    * none among them) and one of `tails`, between a few random atoms.
    */
  def shaped(rnd: scala.util.Random, tails: Array[String]): String = {
    def pick(a: Array[String]) = a(rnd.nextInt(a.length))
    randomText(rnd, atoms, rnd.nextInt(3)) + pick(digitRuns) + pick(seps) + pick(digitRuns) +
      pick(seps) + pick(tails) + pick(seps) + randomText(rnd, atoms, rnd.nextInt(2))
  }

  def esc(s: String): String =
    s.flatMap(c => if (c < ' ' || c > '~') f"\\x${c.toInt}%02x" else c.toString)

  /** A hand-written classic-xref document. Every offset in its table is
    * counted by hand (the object starts are noted on the right), so the
    * table, not `PdfFixtures.Builder`, is what the golden pins.
    */
  val xrefGoldenPdf: String =
    "%PDF-1.4\n" +
      "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n" + // 9
      "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n" + // 58
      "3 0 obj\n<< /Type /Page /Parent 2 0 R /Resources << /Font << /F1 5 0 R >> >> " +
      "/Contents 4 0 R >>\nendobj\n" + // 115
      "4 0 obj\n<< /Length 32 >>\nstream\nBT /F1 12 Tf (xref golden) Tj ET\nendstream\nendobj\n" + // 217
      "5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n" + // 299
      "xref\n" + // 369
      "0 4\n" +
      "0000000000 65535 f \n" +
      "abc 9 0 n\n" + // leading junk: find() takes "9 0 n"
      "a noise line the table skips\n" +
      "0000000058 00000 n \n" +
      "0000000115 00000 n \n" +
      "4 3\n" +
      "0000000217 00000 n \n" +
      "0000000299 00000 n \n" +
      "0000000017 00001 f \n" +
      "trailer<< /Size 7 /Root 1 0 R >>\n" +
      "startxref\n369\n%%EOF\n"
}
