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
      .add_BT()
      .add_Tf("F1", 12)
      .add_Tm(1, 0, 0.25, 1, 10, 20)
      .add_Td(0, -12.5)
      .add_Tj("a(b)c")
      .add_Tj("t\\u\n".getBytes(ISO_8859_1))
      .add("Do", PdfName("Im0"))
      .add_ET()
    val s = new String(cc.bytes, ISO_8859_1)
    assert(s ==
      "BT\n" +
        "/F1 12.000000 Tf\n" +
        "1.000000 0.000000 0.250000 1.000000 10.000000 20.000000 Tm\n" +
        "0.000000 -12.500000 Td\n" +
        "(a\\(b\\)c) Tj\n" +
        "(t\\\\u\\n) Tj\n" +
        "/Im0 Do\n" +
        "ET\n")
  }

  test("creator output parses back through ContentParser op-for-op") {
    val cc = new ContentCreator()
      .add_BT().add_Tf("F1", 10).add_Tm(1, 0, 0, 1, 72, 700).add_Tj("hello")
      .add_Td(0, -12)
      .add("TJ", PdfArr(PdfStr.ascii("to"), PdfInt(-150), PdfStr.ascii("kern")))
      .add_Tj("a(b)c\\")
      .add_ET()
    val ops = new ContentParser(cc.bytes).parse()
    assert(ops.map(_.operand).toSeq == Seq("BT", "Tf", "Tm", "Tj", "Td", "TJ", "Tj", "ET"))
    def num(o: PdfObj): Double = o match {
      case PdfInt(v)  => v.toDouble
      case PdfReal(v) => v
      case other      => fail(s"not a number: $other")
    }
    def str(o: PdfObj): String = new String(o.asInstanceOf[PdfStr].bytes, ISO_8859_1)
    // params survive: font name + size, the six Tm operands, the Td offsets,
    // the Tj strings (escapes undone) and the TJ kern array
    val tf = ops.find(_.operand == "Tf").get
    assert(tf.params.head == PdfName("F1") && num(tf.params(1)) == 10.0)
    assert(ops.find(_.operand == "Tm").get.params.map(num).toSeq == Seq(1.0, 0.0, 0.0, 1.0, 72.0, 700.0))
    assert(ops.find(_.operand == "Td").get.params.map(num).toSeq == Seq(0.0, -12.0))
    assert(ops.filter(_.operand == "Tj").map(o => str(o.params.head)).toSeq == Seq("hello", "a(b)c\\"))
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
