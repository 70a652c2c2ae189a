package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1

import org.scalatest.funsuite.AnyFunSuite

import graft.Extract
import graft.fixtures.PdfFixtures

/** The shading/pattern-bearing page (rotation variant 23): extraction and
  * the rewrite round trip must not be disturbed by the objects it carries.
  */
class ShadingSpec extends AnyFunSuite {

  test("shading page extracts byte-identically and survives the writer") {
    val doc = PdfFixtures.sShading("shade me")
    assert(Extract(doc).status == "ok")
    assert(Extract(doc).text == "shade me")
    val rew = PdfWriter.rewrite(doc)
    assert(Extract(rew).text == "shade me")
    // the shading/pattern objects survive the rewrite graph walk
    val reopened = PdfDocument.open(rew)
    val s = new String(rew, ISO_8859_1)
    assert(s.contains("/ShadingType 2") && s.contains("/PatternType 1"))
    assert(reopened.pages.length == 1)
  }
}
