package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1

import org.scalatest.funsuite.AnyFunSuite

import graft.Extract

/** ContentCreator: reference operand layout, parse round-trip through our
  * own ContentParser, and an author-with-creator end-to-end extraction.
  */
class ContentCreatorSpec extends AnyFunSuite {

  test("operand layout matches the reference: param DefaultWriteString + space, op + newline") {
    val cc = new ContentCreator()
      .add_q()
      .add_w(0.5)
      .add_rg(1, 0, 0.25)
      .add_re(10, 20, 100, 50)
      .add_Do("Im0")
      .add_Tf("F1", 12)
      .add_Tj("a(b)c")
      .add_Q()
    val s = new String(cc.bytes, ISO_8859_1)
    assert(s ==
      "q\n" +
        "0.500000 w\n" +
        "1.000000 0.000000 0.250000 rg\n" +
        "10.000000 20.000000 100.000000 50.000000 re\n" +
        "/Im0 Do\n" +
        "/F1 12.000000 Tf\n" +
        "(a\\(b\\)c) Tj\n" +
        "Q\n")
  }

  test("creator output parses back through ContentParser op-for-op") {
    val cc = new ContentCreator()
      .add_BT().add_Tf("F1", 10).add_Td(0, -12).add_Tj("hello")
      .add_TJ(PdfStr.ascii("to"), PdfInt(-150), PdfStr.ascii("kern"))
      .add_ET()
      .add_q().add_cm(1, 0, 0, 1, 5, 5).add_m(0, 0).add_l(3, 4).add_S().add_Q()
    val ops = new ContentParser(cc.bytes).parse()
    assert(ops.map(_.operand).toSeq ==
      Seq("BT", "Tf", "Td", "Tj", "TJ", "ET", "q", "cm", "m", "l", "S", "Q"))
    // params survive: the Tj string and the TJ kern array
    val tj = ops.find(_.operand == "Tj").get
    assert(new String(tj.params.head.asInstanceOf[PdfStr].bytes, ISO_8859_1) == "hello")
    val tjArr = ops.find(_.operand == "TJ").get.params.head.asInstanceOf[PdfArr]
    assert(tjArr.length == 3)
  }

  test("a creator-built page extracts through the golden kernel") {
    val content = new ContentCreator()
      .add_BT().add_Tf("F1", 12)
      .add_Tj("first line").add_Td(0, -14).add_Tj("second line")
      .add_ET().bytes
    val doc = PdfWriter.authorSimple(Seq(content))
    assert(Extract(doc).text == "first line\nsecond line")
  }
}
