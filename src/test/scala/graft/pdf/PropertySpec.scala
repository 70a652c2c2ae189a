package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.Extract
import graft.fixtures.PdfFixtures

/** Property tests (FIXTURES.md t4): encode->decode round-trips for every
  * filter, string-literal write->parse round-trips, and the "kernel never
  * throws" robustness property under random corruption.
  */
class PropertySpec extends AnyFunSuite {

  /** Deterministic generator sampling (scalatestplus bridge is not in the
    * offline cache; fixed seeds keep runs reproducible).
    */
  private def forAll[T](gen: Gen[T], n: Int = 60)(f: T => Unit): Unit = {
    var i = 0
    while (i < n) {
      f(gen.pureApply(Gen.Parameters.default, Seed(0xC0FFEEL + i)))
      i += 1
    }
  }

  private val byteArrays: Gen[Array[Byte]] =
    Gen.chooseNum(0, 4096).flatMap(n => Gen.containerOfN[Array, Byte](n, Gen.chooseNum(-128, 127).map(_.toByte)))

  test("property: flate encode->decode is identity") {
    forAll(byteArrays) { data =>
      val f = new Filters.Flate(Filters.PredictorParams(1, 8, 1, 1))
      assert(f.decodeBytes(Filters.flateEncode(data)).sameElements(data))
    }
  }

  test("property: lzw encode->decode is identity") {
    forAll(byteArrays) { data =>
      assert(Filters.lzwDecode(Filters.lzwEncode(data), 0).sameElements(data))
    }
  }

  test("property: runlength encode->decode is identity") {
    forAll(byteArrays) { data =>
      assert(Filters.RunLength.decodeBytes(Filters.rleEncode(data)).sameElements(data))
    }
  }

  test("property: asciihex encode->decode is identity") {
    forAll(byteArrays) { data =>
      assert(Filters.AsciiHex.decodeBytes(Filters.asciiHexEncode(data)).sameElements(data))
    }
  }

  test("property: ascii85 encode->decode is identity") {
    forAll(byteArrays) { data =>
      assert(Filters.Ascii85.decodeBytes(Filters.ascii85Encode(data)).sameElements(data))
    }
  }

  test("property: string literal escape->parse round-trips raw bytes") {
    forAll(byteArrays) { data =>
      val lit = new java.io.ByteArrayOutputStream()
      lit.write('(')
      lit.write(PdfFixtures.escapeString(data))
      lit.write(')')
      val lx = new ObjLexer(new ByteCursor(lit.toByteArray))
      val parsed = lx.parseString()
      assert(parsed.bytes.sameElements(data))
    }
  }

  test("property: s01 build->extract round-trips arbitrary text") {
    // Printable-ish unicode strings incl. specials the escaper must handle.
    val texts = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr, Gen.const("()\\"), Gen.const("münchen ☂"),
      Gen.const("\ttabs\tand spaces"))).map(_.mkString(" "))
    forAll(texts) { text =>
      val r = Extract(PdfFixtures.s01(text))
      assert(r.status == "ok", r.error)
      assert(r.text == text)
    }
  }

  test("property: corruption over the round-2 variant families never throws") {
    // Permanent (CI-run) slice of the 54k fuzz sweep: the crypt (R3/R4/R6,
    // encrypted objstm), CMap, LZW and Separation+PostScript parsing paths
    // under point mutations and truncations. Fixed seed => deterministic.
    val rnd = new java.util.Random(0xfadedL)
    val variants = Seq(4, 5, 6, 8, 11, 12, 13, 15, 16, 17, 18, 19, 20, 21, 22, 23)
    for (v <- variants) {
      val base = graft.spark.PagesGen.payloadFor(4242L, "fuzz target text body", v)
      for (_ <- 0 until 120) {
        val m = base.clone()
        val edits = 1 + rnd.nextInt(6)
        (0 until edits).foreach(_ => m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte)
        val r = Extract(m, Extract.DefaultMaxBytesPerDoc, timeoutMs = 10000)
        assert(Set("ok", "error", "empty", "timeout").contains(r.status), s"variant $v")
      }
      for (_ <- 0 until 30) {
        val r = Extract(java.util.Arrays.copyOf(base, rnd.nextInt(base.length + 1)),
          Extract.DefaultMaxBytesPerDoc, timeoutMs = 10000)
        assert(Set("ok", "error", "empty", "timeout").contains(r.status), s"variant $v trunc")
      }
    }
  }

  test("property: image enumeration never throws under corruption") {
    // PdfImages.imagesOf absorbs per-image failures into nErrors; point
    // mutations and truncations of the image-bearing container must never
    // escape as exceptions.
    val rnd = new java.util.Random(0x1a6e5L)
    val base = PdfFixtures.sImages("fuzz image page", 77L)
    for (_ <- 0 until 150) {
      val m = base.clone()
      (0 to rnd.nextInt(6)).foreach(_ => m(rnd.nextInt(m.length)) = rnd.nextInt(256).toByte)
      val scan = PdfImages.imagesOf(m) // must not throw
      assert(scan.nErrors >= 0)
    }
    for (_ <- 0 until 40)
      PdfImages.imagesOf(java.util.Arrays.copyOf(base, rnd.nextInt(base.length + 1)))
  }

  test("property: random corruption never throws (status ok/error/empty)") {
    val base = PdfFixtures.s06("corruption target document")
    val cases = for {
      n <- Gen.chooseNum(1, 12)
      edits <- Gen.listOfN(n, for {
        pos <- Gen.chooseNum(0, base.length - 1)
        b <- Gen.chooseNum(-128, 127)
      } yield (pos, b.toByte))
    } yield edits
    forAll(cases) { edits =>
      val corrupted = base.clone()
      edits.foreach { case (pos, b) => corrupted(pos) = b }
      val r = Extract(corrupted) // must not throw
      assert(Set("ok", "error", "empty", "timeout").contains(r.status))
    }
  }

  test("property: truncation never throws") {
    val base = PdfFixtures.s07("truncation target text")
    forAll(Gen.chooseNum(0, base.length)) { n =>
      val r = Extract(java.util.Arrays.copyOf(base, n))
      assert(Set("ok", "error", "empty", "timeout").contains(r.status))
    }
  }

  test("property: extraction is deterministic") {
    forAll(byteArrays) { data =>
      val payload = ("%PDF-".getBytes(ISO_8859_1) ++ data)
      val a = Extract(payload)
      val b = Extract(payload)
      assert(a.status == b.status)
      assert(a.textBytes.sameElements(b.textBytes))
    }
  }

  test("deeply nested arrays/dicts do not crash (stack safety -> error row)") {
    // 100k-deep nested array in a content stream and in an object.
    val deep = "[" * 100000
    val content = ("BT " + deep).getBytes(ISO_8859_1)
    val r = TextExtractor.extractText(content, null) // must not blow the suite
    assert(r.error.isEmpty || r.error.nonEmpty) // any outcome, no throw...
    val pdf = {
      val bld = new PdfFixtures.Builder()
      bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
      bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
      bld.obj(3, s"<< /Type /Page /Parent 2 0 R /Contents 4 0 R /Extra $deep >>")
      bld.stream(4, "<< /Length 2 >>", "BT".getBytes(ISO_8859_1))
      bld.build()
    }
    val res = Extract(pdf)
    assert(Set("ok", "error", "timeout").contains(res.status))
  }
}
