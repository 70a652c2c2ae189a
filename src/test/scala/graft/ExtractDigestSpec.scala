package graft

import java.io.{DataOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.PdfFixtures
import graft.spark.PagesGen

/** Pins the kernel's whole output over a fixed corpus: one SHA-256 per
  * document of (status, error, textBytes, spans). The constants were
  * recorded before the HTML text-run and line-join paths were folded into
  * one each; any change to what `Extract` returns for these documents,
  * on either branch, shows up here as a differing digest.
  */
class ExtractDigestSpec extends AnyFunSuite {

  private val text = "Digest corpus line (with parens) & <angles> 42"

  private def html(s: String): Array[Byte] = s.getBytes(UTF_8)

  /** Three pages with the given content streams, one page each. */
  private def threePages(contents: String*): Array[Byte] = {
    val bld = new PdfFixtures.Builder()
    bld.obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    bld.obj(2, "<< /Type /Pages /Kids [3 0 R 5 0 R 7 0 R] /Count 3 /MediaBox [0 0 612 792] >>")
    for ((c, i) <- contents.zipWithIndex) {
      val raw = c.getBytes(UTF_8)
      bld.obj(3 + 2 * i, s"<< /Type /Page /Parent 2 0 R /Resources ${PdfFixtures.defaultResources} " +
        s"/Contents ${4 + 2 * i} 0 R >>")
      bld.stream(4 + 2 * i, s"<< /Length ${raw.length} >>", raw)
    }
    bld.build()
  }

  /** name -> (payload, maxBytesPerDoc) */
  private val corpus: Seq[(String, Array[Byte], Int)] = {
    val d = Extract.DefaultMaxBytesPerDoc
    val families = (0 to PagesGen.PdfVariants).map { v =>
      (s"family-$v", PagesGen.payloadFor(v.toLong, s"$text $v", v), d)
    }
    families ++ Seq(
      ("twoPages", PdfFixtures.twoPages("first page text", "second page text"), d),
      ("s09", PdfFixtures.s09(), d),
      ("s16", PdfFixtures.s16(), d),
      ("three-pages", threePages("BT /F1 12 Tf (one) Tj ET", "", "BT /F1 12 Tf (three) Tj ET"), d),
      ("three-pages-error", threePages("BT /F1 12 Tf (one) Tj ET",
        "BT /F1 12 Tf (two) Tj ET /NoSuchCS CS", "BT /F1 12 Tf (three) Tj ET"), d),
      ("pdf-garbage", "%PDF-garbage".getBytes(UTF_8), d),
      ("empty", Array.emptyByteArray, d),
      ("oversize", Array.fill[Byte](64)('x'), 16),
      ("htmlMultiPara", PdfFixtures.htmlMultiPara(Seq(
        "first line of the multi paragraph page",
        "second & last <line> of it, long enough", "short")), d),
      ("htmlPage", PdfFixtures.htmlPage("A Page & Its Title", Seq(
        "This is the first paragraph of the main content, long enough to matter.",
        "A second paragraph with café and — dashes for the reader.")), d),
      ("htmlEntities", PdfFixtures.htmlEntities(
        "Entities éè & <tags> \"quoted\" 😀 and more text here"), d),
      ("htmlSimple", PdfFixtures.htmlSimple(text), d),
      ("title-split", html("<html><head><title>Split <b>over</b>tags<i> and</i>  " +
        "runs</title></head><body><p>body paragraph long enough to be kept here</p></body></html>"), d),
      ("title-entities", html("<title>a &amp; b&mdash;c &#65;&#x42; &lt;x&gt; &bogus; &</title>" +
        "<p>short</p>"), d),
      ("title-unclosed", html("<html><head><title>Never <b>closed</b> title " +
        "<p>paragraph text that ends up inside the title &amp; more</p></html>"), d),
      ("title-unclosed-body", html("<html><head><title>Open title<body><article>" +
        "<p>article body text</p></article></body></html>"), d),
      ("title-ctrl", html("<title>\u0001 inner \u000b text \u0002</title><title>\u000bsecond\u001f</title>" +
        "<article><p>x</p></article>"), d),
      ("html-mixed", html("<p>bare & amp &amp ; &#;&#x; &#99999999; a&b;c" +
        " &lt;tag&gt; with enough length</p>< broken<>text<p>\r\nnext\tline\u000b" +
        " of text <a>link</a> here, long enough</p><p></p><article>\u0001</article>"), d))
  }

  private def digest(r: ExtractResult): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val out = new DataOutputStream(new OutputStream {
      def write(b: Int): Unit = md.update(b.toByte)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = md.update(b, off, len)
    })
    out.writeUTF(r.status)
    out.writeUTF(r.error)
    out.writeInt(r.textBytes.length)
    out.write(r.textBytes)
    out.writeInt(r.spans.length)
    for (s <- r.spans) { out.writeInt(s.page); out.writeLong(s.start); out.writeLong(s.end) }
    out.flush()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private val expected: Map[String, String] = Map(
    "family-0" -> "277f6241fb1eda9fef54170b389948f5b7de3680cb3931f82ca5a5bbb28fc03f",
    "family-1" -> "694c5b32fc7732fc92145633cd7fb325c58e90ae2f20787908d2424f5130c5ec",
    "family-2" -> "329e45269e4ba65b3bf379cd826813eaa7a23c29255be0b06cbbfac5f59fa33d",
    "family-3" -> "197f1cff2f3278753ab48b9aa588002c073a18ce9874c0d1019d0a697c5e64ac",
    "family-4" -> "4c1704064d02e896b5e10fc4302eb470a8556dd53971570e0761165030bf6e56",
    "family-5" -> "2aa0b8061aa28cfdf22a7ec0e56b63a8b9ba7456ee9cdaa7a242624704728628",
    "family-6" -> "20ff12bedbe9d006d655815046d66696be418c99ecd4f064032aa7ec7227f1c8",
    "family-7" -> "466b6591a5452873247fe0034f4ee6e28554d6cf71486ce569e53091989d003c",
    "family-8" -> "ffe6bcea493d680b0c99315683cfa09164dcf075e3a199b2a09e0df29a0a3ffa",
    "family-9" -> "45446754e3a4b9ce7e6c694a13dd20381a5ae2b189b8368f3ff7a7ed6335a51b",
    "family-10" -> "063c56ef2acdc55f4cb279e7f2e1ff4f148291e1734653fa9bf45a4580a2c9eb",
    "family-11" -> "d024cdada5a66c9bd56554014cdcca3195a4167d9c6789dea3cf13c3e8a13a12",
    "family-12" -> "a2f69f810b8898217567e2bb271006954853e4a06ab0a88e09a44745041026ce",
    "family-13" -> "fc3adde33797cd7beedd428d3c8102be38490be55dd52ad910ff51a43a7598b1",
    "family-14" -> "d96fe30a650454842b410e2af6836e6107ab961cbc4e4f29cd84d727e5a17c51",
    "family-15" -> "401dc35b34bc3120aceb5acf984633c4afd0c86dbbc2f91023df1d3564e88b44",
    "family-16" -> "195841f63e979061dccdbd6d9e9a29a5df42cfc9c1f32d443a748636024d4c93",
    "family-17" -> "7e9857c59fe610a16ad1bb09cc0d2d6ffefacaf44773ecfc35dd16fe13fbd5ed",
    "family-18" -> "7041bddb98237c3c9357c4f9bb3111ed75ea0fef1e7a2419982d7233fb7e8c3e",
    "family-19" -> "c994637d0ecabdb654715592ead6cac5091bffea0aea6d66b040f85739226276",
    "family-20" -> "9c1af942b6df2f6088858438be68e3634d15588bb92019523d71d423ace3e3c2",
    "family-21" -> "7fb90ed2230850a8686b38fdeb7b208f98a4265a5fb4a4b37c06c624fa021fdd",
    "family-22" -> "57073c159cbffd5bcf419c5e6c2e87510c054db6b92b0c8b142ef0cc88ce6aa7",
    "family-23" -> "ebb743d92e6aa5829e3a15304c620a381140789a6e1928e7e648c0bebee5d9fd",
    "family-24" -> "f56bfe271512ad435f018817883c8d245329e8807f4e29a111e6b6adb678d201",
    "twoPages" -> "2d0db0aa8886b8a999ad947390191bb04f792d390404d0a3d2945d817d7326a5",
    "s09" -> "54e4273a622971c428f512733b0093d0da8979f86e21fb79c1c94d2b85d984b6",
    "s16" -> "f005b136639d09a197799adf7457a630f746fd94b38bb20d339ac730521a3fac",
    "three-pages" -> "ccba73001756f961205bd5eb638a5570fb66f3bc7c20cfd4f0639984fe89c455",
    "three-pages-error" -> "f16bdeaa8cfbbabb333a63f2f1d4846788bcfd6f565c450acf3e415bc2602884",
    "pdf-garbage" -> "fd0535f4f38695d21fb02a25e226d587fe8e2e99308a4701989b3a1598375020",
    "empty" -> "037db7b7f375b791e30edd35c2835688319079a06bbd8ac6c61b7f810af3408f",
    "oversize" -> "cb2a91a048bbf852b70b3c6133552b9d8cf0b3a62f702738fa8da634767649b8",
    "htmlMultiPara" -> "9a7d6b454706b7c8fe84052b747c4047e2c364b9b154f3874453df41cfe85ff9",
    "htmlPage" -> "4e8b9be3d2309d4bc9103f92789ac8624bfdf4479a12cd377b65b1fdecc97b4a",
    "htmlEntities" -> "611405117f1c3b1f3d7adaf5e20b2eb289d12b462897af4d33f5b914e5784d81",
    "htmlSimple" -> "75e1ec12587fe1f99440cdb65a3ed716b148f2d70645fd432125be6ecfa10bde",
    "title-split" -> "da484e124aca2a816210bff6f088157aad698c6fd3fb08d76e7be05a36c40163",
    "title-entities" -> "edd1ce2f5165f9f452dfd87be7ea01ba67285abe503bfc902ba2741b81649360",
    "title-unclosed" -> "70e65a6eeb028701e5a47faa73902fb3c831bd925398bf4bade9286abb5fd0d3",
    "title-unclosed-body" -> "cbadd7f2d82482b9db428d8aad1dfed20573a2c1378cabec5a6a35bb46322053",
    "title-ctrl" -> "62071cdd285aee2d35ce4c4088e14910f3a58a744f407526930480c582b40ced",
    "html-mixed" -> "43f1cf300eae6ea3fd2c6b304ba12854a690ea1100927a314fd8aa5fe4454b2e")

  test("Extract output digests are unchanged over the fixed corpus") {
    val actual = corpus.map { case (name, payload, max) => name -> digest(Extract(payload, max)) }
    val listing = actual.map { case (n, h) => s"""    "$n" -> "$h",""" }.mkString("\n")
    assert(actual.map(_._1).toSet == expected.keySet, s"\n$listing")
    for ((name, h) <- actual) assert(h == expected(name), s"$name\n$listing")
  }
}
