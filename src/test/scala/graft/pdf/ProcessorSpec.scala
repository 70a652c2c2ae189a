package graft.pdf

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import org.scalatest.funsuite.AnyFunSuite

/** Direct graphics-processor coverage (pdf/contentstream/processor.go):
  * q/Q stack, color-operator param validation aborts, resource-dict
  * colorspaces, pattern exemptions.
  */
class ProcessorSpec extends AnyFunSuite {

  private def extract(content: String, res: PdfResources = null): PageExtract =
    TextExtractor.extractText(content.getBytes(ISO_8859_1), res)

  test("q/Q stack: extraction continues across push/pop") {
    val r = extract("q BT (a) Tj ET Q q Q BT (b) Tj ET")
    assert(r.error.isEmpty)
    assert(new String(r.bytes, UTF_8) == "ab")
  }

  test("G/g/RG/rg/K/k shortcut setters: correct arity passes, wrong aborts") {
    assert(extract("0.5 g 1 0 0 RG 0 0 0 1 k BT (ok) Tj ET").error.isEmpty)
    val bad = extract("BT (partial) Tj ET 0.5 0.5 g BT (x) Tj ET")
    assert(bad.error.contains("Invalid number of parameters"))
    assert(new String(bad.bytes, UTF_8) == "partial")
  }

  test("SC param count must match the current colorspace components") {
    // DeviceRGB stroking colorspace then SC with 1 param -> abort.
    val r = extract("/DeviceRGB CS 0.5 SC BT (never) Tj ET")
    assert(r.error.contains("Invalid number of parameters"))
    // correct arity passes
    assert(extract("/DeviceRGB CS 0.1 0.2 0.3 SC BT (ok) Tj ET").error.isEmpty)
  }

  test("SC range check: components outside [0,1] abort") {
    val r = extract("/DeviceGray CS 1.5 SC BT (x) Tj ET")
    assert(r.error.contains("Range check"))
  }

  test("SCN with Pattern colorspace is exempt from the count check") {
    val r = extract("/Pattern CS /P0 SCN BT (ok) Tj ET")
    assert(r.error.isEmpty, r.error)
    assert(new String(r.bytes, UTF_8) == "ok")
    // but a non-name last param is a type error
    val bad = extract("/Pattern CS 0.5 SCN BT (x) Tj ET")
    assert(bad.error.contains("Type check error"))
  }

  test("resource-dict colorspace: ICCBased with N components") {
    // /CS0 from resources: ICCBased N=3 -> sc expects 3 components.
    val icc = new PdfStream(9, 0, PdfDict("N" -> PdfInt(3)), Array.emptyByteArray)
    val csArr = PdfArr(PdfName("ICCBased"), icc)
    val res = new PdfResources(null, Map("CS0" -> PdfColorspace.fromObject(csArr, identity)))
    assert(extract("/CS0 cs 0.1 0.2 0.3 scn BT (ok) Tj ET", res).error.isEmpty)
    val bad = extract("/CS0 cs 0.1 scn BT (x) Tj ET", res)
    assert(bad.error.contains("Invalid number of parameters"))
  }

  test("CalGray/CalRGB/Lab fall through after the resource dict miss") {
    val res = PdfResources.empty
    assert(extract("/CalRGB CS 0.1 0.2 0.3 SC BT (ok) Tj ET", res).error.isEmpty)
    assert(extract("/Lab cs BT (ok) Tj ET", res).error.isEmpty)
  }

  test("CS with nil resources: builtins work, resource lookups abort") {
    assert(extract("/DeviceCMYK CS BT (ok) Tj ET", null).error.isEmpty)
    val r = extract("/SomeName CS BT (x) Tj ET", null)
    assert(r.error.contains("Unsupported colorspace"))
  }

  test("CS param validation: too many / non-name") {
    assert(extract("/DeviceRGB /DeviceGray CS").error.contains("Too many parameters"))
    assert(extract("(str) CS").error.contains("Type check error"))
  }

  test("unmatched Q aborts with partial text (reference panics)") {
    val r = extract("BT (kept) Tj ET Q BT (never) Tj ET")
    assert(r.error.exists(_.contains("stack underflow")))
    assert(new String(r.bytes, UTF_8) == "kept")
  }

  test("deep comment runs do not blow the stack") {
    val content = "BT (before) Tj ET " + ("% comment line\n" * 50000) + "BT (after) Tj ET"
    val r = extract(content)
    assert(r.error.isEmpty, r.error)
    assert(new String(r.bytes, UTF_8) == "beforeafter")
  }
}
