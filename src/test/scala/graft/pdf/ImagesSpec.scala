package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1

import org.scalatest.funsuite.AnyFunSuite

import graft.Extract
import graft.fixtures.PdfFixtures

/** PDF image extraction: ResampleBytes bit-stream semantics, XObject +
  * inline enumeration over the sImages fixture, Form recursion, GetSamples
  * truncation, and the per-image error taxonomy.
  */
class ImagesSpec extends AnyFunSuite {

  test("resampleBytes: MSB-first continuous bit stream, partial tail dropped") {
    val data = Array(0x9a.toByte) // 10011010
    assert(PdfImages.resampleBytes(data, 1).toSeq == Seq(1, 0, 0, 1, 1, 0, 1, 0))
    assert(PdfImages.resampleBytes(data, 4).toSeq == Seq(9, 10))
    assert(PdfImages.resampleBytes(data, 8).toSeq == Seq(0x9a))
    // 2 bits across a byte boundary; 16-bit samples across bytes
    val two = Array(0x9a.toByte, 0x3c.toByte) // 10011010 00111100
    assert(PdfImages.resampleBytes(two, 2).toSeq == Seq(2, 1, 2, 2, 0, 3, 3, 0))
    assert(PdfImages.resampleBytes(two, 16).toSeq == Seq(0x9a3c))
    // 3 bytes at 16 bpc: trailing 8 bits are NOT a full sample -> dropped
    assert(PdfImages.resampleBytes(Array[Byte](1, 2, 3), 16).toSeq == Seq(0x0102))
    // bits that do not divide 8: 3-bit samples over one byte -> 2 samples
    assert(PdfImages.resampleBytes(data, 3).toSeq == Seq(4, 6))
  }

  test("sImages: 3 XObject + 1 inline image, formula-exact samples") {
    val id = 123L
    val scan = PdfImages.imagesOf(PdfFixtures.sImages("hello images", id))
    assert(scan.nErrors == 0)
    assert(scan.images.length == 4)
    val Seq(im0, im1, im2, inl) = scan.images
    // Im0: gray 8-bpc flate
    assert((im0.source, im0.name, im0.width, im0.height, im0.bpc, im0.components) ==
      ("xobject", "Im0", 8 + (id % 24).toInt, 8 + ((id / 7) % 16).toInt, 8, 1))
    val s0 = im0.samples
    assert(s0.length == im0.width * im0.height)
    for (y <- 0 until im0.height; x <- 0 until im0.width)
      assert(s0(y * im0.width + x) == ((x + y + id) % 256).toInt)
    // Im1: gray 4-bpc raw, continuous nibble stream
    assert((im1.bpc, im1.components) == (4, 1))
    val s1 = im1.samples
    assert(s1.length == im1.width * im1.height)
    for (i <- 0 until s1.length)
      assert(s1(i) == (((i % im1.width) + (i / im1.width) + id) % 16).toInt)
    // Im2: RGB 8-bpc — 3 components, band-0 = component 0
    assert(im2.components == 3)
    val s2 = im2.samples
    assert(s2.length == im2.width * im2.height * 3)
    for (p <- 0 until im2.width * im2.height; c <- 0 until 3) {
      val x = p % im2.width; val y = p / im2.width
      assert(s2(p * 3 + c) == ((x + 2 * y + 3 * c + id) % 256).toInt)
    }
    assert(im2.band0Sum == (0 until im2.width * im2.height).map { p =>
      ((p % im2.width) + 2 * (p / im2.width) + id) % 256
    }.sum)
    // inline: AHx-decoded 8x6 gray
    assert((inl.source, inl.width, inl.height, inl.bpc, inl.components) ==
      ("inline", 8, 6, 8, 1))
    val si = inl.samples
    for (y <- 0 until 6; x <- 0 until 8)
      assert(si(y * 8 + x) == ((2 * x + y + id) % 256).toInt)
    // the page text still extracts byte-identically (Do/BI are dropped)
    assert(Extract(PdfFixtures.sImages("hello images", id)).text == "hello images")
  }

  test("Form XObject recursion finds images in nested form resources") {
    val img = Array.tabulate(16)(i => i.toByte) // 4x4 gray raw
    val bld = new PdfFixtures.Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
    bld.obj(3, "<< /Type /Page /Parent 2 0 R /Resources << /XObject << /Fm0 5 0 R >> >> /Contents 4 0 R >>")
    bld.stream(4, "<< /Length 0 >>", Array.emptyByteArray)
    bld.streamAuto(5, "<< /Type /XObject /Subtype /Form " +
      "/Resources << /XObject << /NestedIm 6 0 R >> >>", Array.emptyByteArray)
    bld.streamAuto(6, "<< /Type /XObject /Subtype /Image /Width 4 /Height 4 " +
      "/ColorSpace /DeviceGray /BitsPerComponent 8", img)
    val scan = PdfImages.imagesOf(bld.build())
    assert(scan.nErrors == 0)
    assert(scan.images.map(i => (i.name, i.width, i.height)) == Seq(("NestedIm", 4, 4)))
    assert(scan.images.head.samples.toSeq == (0 until 16))
  }

  test("GetSamples: long data truncated to w*h*comp, short data returned as-is") {
    val long = PdfImages.PdfImageInfo(0, 0, "xobject", "X", 2, 2, 8, 1,
      Array.tabulate(7)(i => i.toByte))
    assert(long.samples.toSeq == Seq(0, 1, 2, 3))
    val short = PdfImages.PdfImageInfo(0, 0, "xobject", "X", 4, 4, 8, 1,
      Array.tabulate(5)(i => i.toByte))
    assert(short.samples.length == 5) // reference returns short, no pad
  }

  test("error taxonomy: bad images are counted and skipped, not thrown") {
    // missing /Width -> per-image error; the valid sibling still extracts
    val bld = new PdfFixtures.Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
    bld.obj(3, "<< /Type /Page /Parent 2 0 R /Resources " +
      "<< /XObject << /Bad 5 0 R /Good 6 0 R >> >> /Contents 4 0 R >>")
    bld.stream(4, "<< /Length 0 >>", Array.emptyByteArray)
    bld.streamAuto(5, "<< /Type /XObject /Subtype /Image /Height 4 " +
      "/BitsPerComponent 8", Array[Byte](1, 2))
    bld.streamAuto(6, "<< /Type /XObject /Subtype /Image /Width 1 /Height 2 " +
      "/BitsPerComponent 8", Array[Byte](7, 9))
    val scan = PdfImages.imagesOf(bld.build())
    assert(scan.nErrors == 1)
    assert(scan.images.map(_.name) == Seq("Good"))
    // missing ColorSpace -> 1 component assumed (xobject.go:412-415)
    assert(scan.images.head.components == 1)
    assert(scan.images.head.samples.toSeq == Seq(7, 9))
    // garbage input: 1 error, zero images, no throw
    val g = PdfImages.imagesOf("%PDF-garbage".getBytes(ISO_8859_1))
    assert(g.images.isEmpty && g.nErrors == 1)
  }

  /** A one-page PDF whose page has `content` and no resources. */
  private def onePageContent(content: Array[Byte]): Array[Byte] = {
    val bld = new PdfFixtures.Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>")
    bld.obj(3, "<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    bld.stream(4, s"<< /Length ${content.length} >>", content)
    bld.build()
  }

  /** A 2x1 gray inline image, unfiltered: samples 'a' and 'b'. */
  private val inlineImage = "BI /W 2 /H 1 /BPC 8 ID ab EI "

  test("inline image mask and unknown filter semantics") {
    // IM true -> 1 bpc / 1 component regardless of BPC
    val maskContent = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write("BI /W 8 /H 2 /IM true ID ".getBytes(ISO_8859_1))
      bos.write(0xff); bos.write(0xf0) // 1111_1111 1111_0000 at 1 bpc
      bos.write(" EI ".getBytes(ISO_8859_1))
      bos.toByteArray
    }
    val mask = PdfImages.imagesOf(onePageContent(maskContent))
    assert(mask.nErrors == 0)
    assert(mask.images.map(i => (i.bpc, i.components)) == Seq((1, 1)))
    assert(mask.images.head.samples.toSeq == Seq(1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0))
    // unsupported inline filter name -> counted error (reference:
    // "Unsupported inline encoding method")
    val bad = PdfImages.imagesOf(onePageContent(
      "BI /W 2 /H 2 /BPC 8 /F /NoSuchFilter ID abcd EI ".getBytes(ISO_8859_1)))
    assert(bad.images.isEmpty && bad.nErrors == 1)
  }

  test("a lex error after an inline image costs the page's inline images and one error") {
    val ok = PdfImages.imagesOf(onePageContent((inlineImage + "0 g").getBytes(ISO_8859_1)))
    assert(ok.nErrors == 0)
    assert(ok.images.map(i => (i.source, i.width, i.height, i.samples.toSeq)) ==
      Seq(("inline", 2, 1, Seq('a'.toInt, 'b'.toInt))))
    // '#zz' is not a hex escape: the name fails to lex after the image
    val bad = PdfImages.imagesOf(onePageContent((inlineImage + "/Bad#zz Tj").getBytes(ISO_8859_1)))
    assert(bad.images.isEmpty && bad.nErrors == 1)
  }

  test("a page of over a million operators returns its one inline image, holding no operation list") {
    val ops = 1100000
    val content = new java.io.ByteArrayOutputStream()
    content.write(inlineImage.getBytes(ISO_8859_1))
    val op = "1 w ".getBytes(ISO_8859_1)
    for (_ <- 0 until ops) content.write(op)
    val doc = PdfDocument.open(onePageContent(content.toByteArray))
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    assume(mx.isThreadAllocatedMemorySupported && mx.isThreadAllocatedMemoryEnabled)
    val tid = Thread.currentThread().getId
    val before = mx.getThreadAllocatedBytes(tid)
    val scan = PdfImages.imagesOf(doc)
    val perOp = (mx.getThreadAllocatedBytes(tid) - before).toDouble / ops
    assert(scan.nErrors == 0)
    assert(scan.images.map(i => (i.source, i.width, i.height)) == Seq(("inline", 2, 1)))
    // The scan keeps only the inline images: it allocated under 1 B per
    // operation. Collecting the operation list, with a ContentOp and a param
    // buffer per operation, allocated about 87 B.
    assert(perOp < 16, f"$perOp%.1f B allocated per operation")
  }
}
