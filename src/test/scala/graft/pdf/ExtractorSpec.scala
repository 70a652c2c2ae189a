package graft.pdf

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import org.scalatest.funsuite.AnyFunSuite

import graft.Extract
import graft.fixtures.PdfFixtures

/** Extractor goldens ported from /root/reference/pdf/extractor/text_test.go
  * and /root/reference/pdf/contentstream/contentstream_test.go.
  */
class ExtractorSpec extends AnyFunSuite {

  test("extractor golden 1: Hello World!/Doink (nil resources)") {
    val contents = "\nBT\n/F1 24 Tf\n(Hello World!)Tj\n0 -10 Td\n(Doink)Tj\nET\n"
    val r = TextExtractor.extractText(contents.getBytes(ISO_8859_1), null)
    assert(r.error.isEmpty)
    assert(new String(r.bytes, UTF_8) == "Hello World!\nDoink")
  }

  test("parseString fast-path boundaries: nesting, escapes, unterminated") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    def ops(src: String) = new ContentParser(src.getBytes(ISO_8859_1)).parse()
    // simple literal (fast path): exact bytes, exact cursor placement
    val p1 = ops("BT (plain text) Tj ET")
    assert(new String(p1.find(_.operand == "Tj").get
      .params.head.asInstanceOf[PdfStr].bytes, ISO_8859_1) == "plain text")
    // nested parens (fallback path): balance tracked, both parens kept
    val p2 = ops("BT (a (nested) b) Tj ET")
    assert(new String(p2.find(_.operand == "Tj").get
      .params.head.asInstanceOf[PdfStr].bytes, ISO_8859_1) == "a (nested) b")
    // escapes (fallback path): named + octal + dropped-unknown
    val p3 = ops("BT (x\\n\\052\\q) Tj ET")
    assert(new String(p3.find(_.operand == "Tj").get
      .params.head.asInstanceOf[PdfStr].bytes, ISO_8859_1) == "x\n*")
    // escaped paren then clean close: fallback must resume from the start
    val p4 = ops("BT (a\\)b) Tj ET")
    assert(new String(p4.find(_.operand == "Tj").get
      .params.head.asInstanceOf[PdfStr].bytes, ISO_8859_1) == "a)b")
    // unterminated literal: clean EOF exit — ops before it survive, the
    // dangling op is dropped (parser contract, unchanged by the fast scan)
    val p5 = ops("BT (done) Tj (never closes")
    assert(p5.map(_.operand) == Seq("BT", "Tj"))
    // string closing at the very last byte (no trailing content)
    val p6 = ops("(tail)")
    assert(p6.isEmpty) // param without operand is dropped at clean EOF
  }

  test("TJ spacing golden (deprecated variant): glaciers sentence") {
    val content = "BT\n\t[(are)-328(h)5(ypothesized)-328(to)-327(in\\003uence)-328(the)-328(stability)-328(of)-328(the)-328(upstream)-327(glaciers,)-328(and)-328(thus)-328(of)-328(the)-328(entire)-327(ice)-328(sheet)]TJ\n\tET"
    val expected = "are hypothesized to in\u0003uence the stability of the upstream glaciers, and thus of the entire ice sheet"
    val r = TextExtractor.extractTextDeprecated(content.getBytes(ISO_8859_1))
    assert(r.error.isEmpty)
    assert(new String(r.bytes, ISO_8859_1) == expected)
  }

  test("Tm rules: descending y emits newline, ascending x emits tab") {
    val content = "BT 1 0 0 1 50 700 Tm (a) Tj 1 0 0 1 150 700 Tm (b) Tj 1 0 0 1 50 680 Tm (c) Tj ET"
    val r = TextExtractor.extractText(content.getBytes(ISO_8859_1), null)
    assert(new String(r.bytes, UTF_8) == "a\tb\nc")
  }

  test("quote operators and Do are silently dropped") {
    val content = "BT (kept) Tj (q1) ' (q2) \" ET"
    val r = TextExtractor.extractText(content.getBytes(ISO_8859_1), null)
    assert(new String(r.bytes, UTF_8) == "kept")
  }

  test("text ops outside BT/ET are no-ops (modern variant)") {
    val content = "(outside) Tj BT (inside) Tj ET"
    val r = TextExtractor.extractText(content.getBytes(ISO_8859_1), null)
    assert(new String(r.bytes, UTF_8) == "inside")
  }

  test("deprecated variant: Td emits newline even outside BT/ET") {
    val content = "0 -5 Td BT (x) Tj ET"
    val r = TextExtractor.extractTextDeprecated(content.getBytes(ISO_8859_1))
    assert(new String(r.bytes, ISO_8859_1) == "\nx")
  }

  test("unknown colorspace aborts with partial text") {
    val content = "BT (partial) Tj ET /NoSuchCS CS BT (never) Tj ET"
    val r = TextExtractor.extractText(content.getBytes(ISO_8859_1), PdfResources.empty)
    assert(r.error.contains("Unsupported colorspace"))
    assert(new String(r.bytes, UTF_8) == "partial")
  }

  test("Tf with missing font in (present) resources aborts") {
    val content = "BT /F9 12 Tf (x) Tj ET"
    val r = TextExtractor.extractText(content.getBytes(ISO_8859_1), PdfResources.empty)
    assert(r.error.contains("Font not in resources"))
  }

  test("inline image with fake EI inside data does not derail the stream") {
    val img = new java.io.ByteArrayOutputStream()
    img.write("BI /W 4 /H 2 /CS /DeviceGray /BPC 8 ID ".getBytes(ISO_8859_1))
    img.write(Array[Byte](0x01, 0x20, 'E', 'I', 0x02, 0x7f, 0x00, 0x41))
    img.write(" EI BT (after) Tj ET".getBytes(ISO_8859_1))
    val r = TextExtractor.extractText(img.toByteArray, null)
    assert(r.error.isEmpty)
    assert(new String(r.bytes, UTF_8) == "after")
  }

  test("TJ kern numbers: < -100 emits space, >= -100 does not") {
    val content = "BT [(a) -150 (b) -50 (c) -100 (d) -100.5 (e)] TJ ET"
    val r = TextExtractor.extractText(content.getBytes(ISO_8859_1), null)
    assert(new String(r.bytes, UTF_8) == "a bcd e")
  }

  test("ToUnicode hex-string mapping through Tf") {
    // Build resources manually: font F1 with ToUnicode stream.
    val cmap =
      """1 begincodespacerange
<0000> <FFFF>
endcodespacerange
1 beginbfchar
<0042> <263A>
endbfchar
1 beginbfrange
<0001> <0003> <0041>
endbfrange
""".getBytes(ISO_8859_1)
    val tuStream = new PdfStream(5, 0, PdfDict("Length" -> PdfInt(cmap.length)), cmap)
    val fontDict = PdfDict("Type" -> PdfName("Font"), "ToUnicode" -> tuStream)
    val fonts = PdfDict("F1" -> fontDict)
    val res = new PdfResources(fonts, Map.empty)
    val content = "BT /F1 12 Tf <000100020042> Tj ET"
    val r = TextExtractor.extractText(content.getBytes(ISO_8859_1), res)
    assert(r.error.isEmpty)
    assert(new String(r.bytes, UTF_8) == "AB☺")
  }

  private def extract(content: String): PageExtract =
    TextExtractor.extractText(content.getBytes(ISO_8859_1), null)

  // The reference lexes the whole stream before it processes any of it, so
  // a lex error anywhere wins over a processing error before it.
  test("precedence: a lex error after a processing error gives empty text and the lex error") {
    val r = extract("BT (partial) Tj ET 0.5 0.5 g BT (after) Tj ET ] Tj")
    assert(r.error.contains("Invalid operand"))
    assert(r.bytes.isEmpty)
    val r2 = extract("BT (partial) Tj ET 0.5 0.5 g BI /W 1 /Bogus 2 ID x EI BT (after) Tj ET")
    assert(r2.error.contains("Unknown inline image parameter Bogus"))
    assert(r2.bytes.isEmpty)
  }

  test("precedence: a processing error followed by a clean end gives the partial text and the processing error") {
    // the unterminated string is a clean end of stream that drops its op
    val r = extract("BT (partial) Tj ET 0.5 0.5 g BT (after) Tj ET BT (dangling")
    assert(r.error.contains("Invalid number of parameters"))
    assert(new String(r.bytes, UTF_8) == "partial")
  }

  test("a truncated BI ... ID after a Tj gives empty text and the inline-image EOF error") {
    val r = extract("BT (before) Tj ET BI /W 2 /H 1 /CS /G /BPC 8 ID \u0001\u0002")
    assert(r.error.contains("EOF in inline image"))
    assert(r.bytes.isEmpty)
    val r2 = extract("BT (before) Tj ET Q BI /W 2 /H 1 ID \u0001")
    assert(r2.error.contains("EOF in inline image"))
    assert(r2.bytes.isEmpty)
  }

  test("an unmatched Q after text keeps the text before it, unless the rest fails to lex") {
    val r = extract("BT (text) Tj ET Q BT (more) Tj ET")
    assert(r.error.contains("graphics state stack underflow (unmatched Q)"))
    assert(new String(r.bytes, UTF_8) == "text")
    val r2 = extract("BT (text) Tj ET Q BT (more) Tj ET ]")
    assert(r2.error.contains("Invalid operand"))
    assert(r2.bytes.isEmpty)
  }

  test("a stream of over a million operators extracts through Extract with bounded per-op state") {
    val lines = (0 until 550000).map(i => s"w$i")
    val ops = 2L * lines.length + 2 // BT, Tf, then Tj or Td + Tj per line, ET
    val pdf = PdfFixtures.multiLinePdf(lines, 0)
    val doc = PdfDocument.open(pdf)
    val parser = new ContentParser(doc.allContentStreams(doc.pages.head))
    var n = 0L
    while (parser.next()) n += 1
    assert(n == ops)
    // Extract allocates about 50 B per operation: the decoded stream, the
    // text and each op's params, and holds one operation at a time. An
    // operation list, with a Tuple2, buffer and ContentOp per op, took
    // about 380 B.
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    assume(mx.isThreadAllocatedMemorySupported && mx.isThreadAllocatedMemoryEnabled)
    val tid = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(tid)
    val r = Extract(pdf)
    val perOp = (mx.getThreadAllocatedBytes(tid) - before).toDouble / ops
    assert(r.status == "ok", r.error)
    assert(java.util.Arrays.equals(r.textBytes, lines.mkString("\n").getBytes(ISO_8859_1)))
    assert(perOp < 160, f"$perOp%.1f B allocated per operation")
  }
}
