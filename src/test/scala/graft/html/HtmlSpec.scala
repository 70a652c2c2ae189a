package graft.html

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.Extract
import graft.fixtures.PdfFixtures
import graft.html.HtmlExtract.HtmlResult

/** HTML fixtures h01-h05 (FIXTURES.md §4; goldens are self-defined — the
  * reference has no HTML code).
  */
class HtmlSpec extends AnyFunSuite {

  test("h01: title + article paragraphs kept, boilerplate stripped") {
    val paras = Seq(
      "This is the first paragraph of the main content, long enough to matter.",
      "A second paragraph with further substantive content for the reader.",
      "And a third one closing out the article body with more words.")
    val page = PdfFixtures.htmlPage("Test Article Title", paras)
    val res = HtmlExtract.extract(page)
    assert(res.title == "Test Article Title")
    assert(res.blocks == paras)
    val text = Extract(page).text
    assert(text == ("Test Article Title" +: paras).mkString("\n"))
    assert(!text.contains("Site Header Boilerplate"))
    assert(!text.contains("Copyright 2026"))
    assert(!text.contains("Home"))
  }

  test("h02: link-farm sidebar dropped, long-text main kept") {
    val html =
      """<html><body>
        |<div><a href="/a">one link</a> <a href="/b">two links</a> <a href="/c">three links</a></div>
        |<div>This long paragraph has no links at all and plenty of text characters to be kept by the scorer.</div>
        |</body></html>""".stripMargin
    val res = HtmlExtract.extract(html)
    assert(res.blocks.length == 1)
    assert(res.blocks.head.startsWith("This long paragraph"))
  }

  test("h03: script/style/comments never leak") {
    val html =
      """<html><head><style>.x { color: red }</style>
        |<script>document.write("<p>injected super long content that would otherwise be kept</p>");</script>
        |</head><body><!-- a comment with plenty of text inside it should vanish -->
        |<p>Real visible content of reasonable length stays in the output.</p>
        |</body></html>""".stripMargin
    val res = HtmlExtract.extract(html)
    assert(res.blocks == Seq("Real visible content of reasonable length stays in the output."))
    val text = Extract(html.getBytes(UTF_8)).text
    assert(!text.contains("injected"))
    assert(!text.contains("color"))
    assert(!text.contains("comment"))
  }

  test("h04: deeply nested DOM terminates") {
    val sb = new StringBuilder("<html><body>")
    for (_ <- 1 to 1000) sb.append("<div>")
    sb.append("<p>Deep content that is long enough to be kept by the heuristic.</p>")
    for (_ <- 1 to 1000) sb.append("</div>")
    sb.append("</body></html>")
    val res = HtmlExtract.extract(sb.toString)
    assert(res.blocks.exists(_.contains("Deep content")))
  }

  test("h05: non-UTF8 bytes and broken tags are tolerated deterministically") {
    val bytes = ("<html><body><p>Valid text padded to keep-length for the heuristic here." +
      "</p><p>broken < tag and stray bytes: ").getBytes(UTF_8) ++
      Array[Byte](0xfe.toByte, 0xff.toByte, 0x41) ++ "</p></body></html>".getBytes(UTF_8)
    val r1 = Extract(bytes)
    val r2 = Extract(bytes)
    assert(r1.status == "ok")
    assert(r1.textBytes.sameElements(r2.textBytes))
    assert(r1.text.contains("Valid text"))
  }

  test("charset sniffing: meta charset, BOM, and unknown fallbacks") {
    // ISO-8859-1-declared page with accented Latin-1 bytes: é = 0xE9, which
    // is INVALID UTF-8 alone — the meta prescan must pick the right decode
    // (and HTML5-alias it to windows-1252).
    val latin = ("<html><head><meta http-equiv=\"Content-Type\" " +
      "content=\"text/html; charset=ISO-8859-1\"></head><body><article><p>" +
      "café résumé touché over twenty-five characters long" +
      "</p></article></body></html>")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val r = HtmlExtract.extract(latin)
    assert(r.blocks.exists(_.contains("café résumé")), r.blocks)
    // windows-1252-only codepoints (0x93/0x94 = curly quotes) must decode
    // through the HTML5 iso-8859-1 -> windows-1252 alias. The quote bytes
    // are injected raw (unmappable from an ISO-8859-1-encoded literal).
    val win = ("<html><head><meta charset=iso-8859-1></head><body><article><p>" +
      "\u0001quoted\u0002 body text above the length threshold here ok" +
      "</p></article></body></html>")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
      .map(b => if (b == 0x01) 0x93.toByte else if (b == 0x02) 0x94.toByte else b)
    assert(HtmlExtract.extract(win).blocks.exists(_.contains("\u201cquoted\u201d")))
    // UTF-8 BOM is stripped, not leaked into the title/first block
    val bom = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
      "<html><body><article><p>bom page body text above the threshold yes ok</p></article></body></html>"
        .getBytes(UTF_8)
    assert(HtmlExtract.extract(bom).blocks.exists(_.startsWith("bom page")))
    // a charset= OUTSIDE a <meta> tag (href/script/comment) must NOT hijack
    // the decode: utf-16le here would turn the page into mojibake
    val hijack = ("<html><head><link rel=\"alternate\" href=\"/p?charset=utf-16le\">" +
      "</head><body><article><p>ascii body text above the length threshold ok" +
      "</p></article></body></html>").getBytes(UTF_8)
    assert(HtmlExtract.extract(hijack).blocks.exists(_.contains("ascii body")))
    // a DECLARED utf-16 on ASCII-compatible bytes maps to UTF-8 (HTML5
    // prescan rule — the declaration was only readable because the bytes
    // are not really UTF-16)
    val misdecl = ("<html><head><meta charset=\"utf-16\"></head><body><article><p>" +
      "misdeclared body text above the length threshold ok" +
      "</p></article></body></html>").getBytes(UTF_8)
    assert(HtmlExtract.extract(misdecl).blocks.exists(_.contains("misdeclared body")))
    // unknown charset name -> lossy UTF-8 fallback, never a throw
    val junk = ("<html><head><meta charset=klingon-9></head><body><article><p>" +
      "fallback body text above the length threshold yes ok" +
      "</p></article></body></html>").getBytes(UTF_8)
    assert(HtmlExtract.extract(junk).blocks.exists(_.contains("fallback body")))
  }

  test("whitespace survives inline-tag boundaries (no word concatenation)") {
    val html = "<html><body><article><p>click <a href=\"/x\">here</a> for the " +
      "full <b>bold</b> story of the day</p></article></body></html>"
    val res = HtmlExtract.extract(html)
    assert(res.blocks == Seq("click here for the full bold story of the day"), res.blocks)
  }

  test("self-closing raw-text tags do not swallow the rest of the document") {
    val html = "<html><body><svg class=\"icon\"/><article><p>content after the icon " +
      "long enough to be kept around</p></article></body></html>"
    val res = HtmlExtract.extract(html)
    assert(res.blocks.exists(_.startsWith("content after the icon")), res.blocks)
  }

  test("missing </title> closes at <body> instead of eating the document") {
    val html = "<html><head><title>Page Title<body><article><p>body text above " +
      "the length threshold here ok</p></article></body></html>"
    val res = HtmlExtract.extract(html)
    assert(res.title == "Page Title")
    assert(res.blocks.exists(_.startsWith("body text")), res.blocks)
  }

  test("surrogate-range numeric refs decode to U+FFFD, astral refs survive") {
    val html = "<html><body><article><p>a &#xD800; b &#x1F600; padded to the keep " +
      "threshold easily</p></article></body></html>"
    val res = HtmlExtract.extract(html)
    assert(res.blocks.head.contains("a � b"), res.blocks)
    assert(res.blocks.head.contains(new String(Character.toChars(0x1F600))))
  }

  test("entities decode") {
    val html = "<html><body><article><p>a &amp; b &lt;c&gt; &quot;d&quot; &#65; &#x42;</p></article></body></html>"
    val res = HtmlExtract.extract(html)
    assert(res.blocks == Seq("a & b <c> \"d\" A B"))
  }

  test("html dispatch through Extract: spans cover lines") {
    val page = PdfFixtures.htmlSimple("Single paragraph round trip content here.")
    val r = Extract(page)
    assert(r.status == "ok")
    assert(r.text == "Single paragraph round trip content here.")
    assert(r.spans.length == 1)
  }

  test("'>' inside quoted attribute values does not break tags") {
    val html = """<html><body><p><a href="/x?a>b&c='>'">link text here</a> and a paragraph long enough to be kept around.</p></body></html>"""
    val res = HtmlExtract.extract(html)
    assert(res.blocks.length == 1)
    assert(res.blocks.head.contains("link text here and a paragraph"))
    val text = Extract(html.getBytes(UTF_8)).text
    assert(!text.contains("href"))
    assert(!text.contains("b&c"))
  }

  test("extended named entities decode") {
    val html = "<html><body><article><p>caf&eacute; &mdash; 50&cent; &copy; r&eacute;sum&eacute;&hellip;</p></article></body></html>"
    val res = HtmlExtract.extract(html)
    assert(res.blocks == Seq("caf\u00e9 \u2014 50\u00a2 \u00a9 r\u00e9sum\u00e9\u2026"))
  }

  test("classifyTag flags equal the tag-set memberships for every tag and case") {
    import HtmlExtract._
    val known = blockTags ++ rawTextTags ++ boilerplateTags ++ contentTags ++
      headingTags ++ Set("a", "title", "body", "head")
    val unknown = Seq("span", "b", "i", "em", "html", "img", "tt", "x", "h7",
      "h0", "scripty", "scrip", "divx", "xdiv", "articl", "articles",
      "blockquotes", "figcaptio", "templates", "q", "hx", "dz", "tz")
    def variants(t: String): Seq[String] =
      Seq(t, t.toUpperCase(java.util.Locale.ROOT),
        t.zipWithIndex.map { case (c, i) => if (i % 2 == 0) c.toUpper else c }.mkString,
        // U+212A KELVIN SIGN lowercases to ascii 'k' under Locale.ROOT —
        // the one non-ascii codepoint that can alias into a known tag
        t.replace('k', '\u212A'))
    for (t <- known.toSeq ++ unknown; v <- variants(t)) {
      // classify inside a larger string to exercise the from/until window
      val s = "xy" + v + "zw"
      val cls = classifyTag(s, 2, 2 + v.length)
      val lower = v.toLowerCase(java.util.Locale.ROOT)
      assert(((cls & TagBlock) != 0) == blockTags.contains(lower), s"block: $v")
      assert(((cls & TagRaw) != 0) == rawTextTags.contains(lower), s"raw: $v")
      assert(((cls & TagBoiler) != 0) == boilerplateTags.contains(lower), s"boiler: $v")
      assert(((cls & TagContent) != 0) == contentTags.contains(lower), s"content: $v")
      assert(((cls & TagHeading) != 0) == headingTags.contains(lower), s"heading: $v")
      assert(((cls & TagTitle) != 0) == (lower == "title"), s"title: $v")
      assert(((cls & TagA) != 0) == (lower == "a"), s"a: $v")
      assert(((cls & TagBody) != 0) == (lower == "body"), s"body: $v")
      assert(((cls & TagHead) != 0) == (lower == "head"), s"head: $v")
      if (rawTextTags.contains(lower))
        assert(rawNames(rawIndex(cls)) == lower, s"raw canonical: $v")
    }
  }

  test("mixed-case and unknown tags behave as before through extract") {
    val html = "<HTML><BODY><ARTICLE><P>mixed case article body text here</P>" +
      "<SCRIPT>var x = 'dropped';</SCRIPT><NAV>menu</NAV>" +
      "<H1>HdNg</H1></ARTICLE></BODY></HTML>"
    val res = HtmlExtract.extract(html)
    assert(res.blocks.contains("mixed case article body text here"))
    val text = Extract(html.getBytes(UTF_8)).text
    assert(!text.contains("dropped"))
    assert(!text.contains("menu"))
    assert(res.blocks.contains("HdNg")) // heading inside article/main kept
  }

  test("bulk text-run path is byte-identical to the classic per-span path") {
    // appendRun (one builder call per run via a char buffer) against
    // goldens recorded from the classic per-span loop it replaced:
    // whitespace collapse, pendingWs carry across runs ("click <a>here</a>"),
    // link-density counting (word and separator chars inside links decide
    // the last two cases), control chars (NOT whitespace), long runs,
    // empty blocks.
    val cases = Seq(
      "<p>a  b\tc\nde\ff</p>" -> HtmlResult("", Seq()),
      "<p> lead</p><p>trail </p><p>\t\n</p>" -> HtmlResult("", Seq()),
      "<p>click <a href='x'>here</a> now and some more padding text to keep</p>" ->
        HtmlResult("", Seq("click here now and some more padding text to keep")),
      "<article>in\u0001side\u001fctrl chars stay</article>" ->
        HtmlResult("", Seq("in\u0001side\u001fctrl chars stay")),
      "<div>" + ("word " * 60) + "</div>" -> HtmlResult("", Seq(Seq.fill(60)("word").mkString(" "))),
      "<h1>h</h1><nav>drop me</nav><p></p>" -> HtmlResult("", Seq()),
      "<title>a\n b </title><body><p>body text long enough to be kept ok yes</p>" ->
        HtmlResult("a b", Seq("body text long enough to be kept ok yes")),
      "plain text with no tags at all but long enough to keep as a block" ->
        HtmlResult("", Seq("plain text with no tags at all but long enough to keep as a block")),
      "<p>" + ("x" * 4096) + " tail</p>" -> HtmlResult("", Seq(("x" * 4096) + " tail")),
      "<ul><li>one</li><li>two</li></ul><a>linky</a><p>mixed <a>l</a> t</p>" -> HtmlResult("", Seq()),
      "<div>see <a href='y'>a long link label that dominates this block</a> ok</div>" ->
        HtmlResult("", Seq()),
      "<p>plain words before the link <a>a b c d e f g h i j</a></p>" -> HtmlResult("", Seq()))
    for ((html, golden) <- cases)
      assert(HtmlExtract.extract(html) == golden, s"diverges on: ${html.take(60)}")
  }

  // Hostile shapes: each is linear work, and each must finish well inside a
  // 2 s per-document budget. A super-linear scan turns them into timeouts,
  // or into slow ok rows where the scan sits inside one text run, between
  // two polls of the deadline.
  private def extractFast(html: String): graft.ExtractResult = {
    val t0 = System.nanoTime()
    val r = Extract(html.getBytes(UTF_8), 64 << 20, timeoutMs = 2000)
    val ms = (System.nanoTime() - t0) / 1000000
    assert(ms < 2000, s"took $ms ms")
    r
  }

  test("64k tag-separated runs inside <title> extract in linear time") {
    val n = 65536
    val r = extractFast("<html><head><title>" + ("ab<b>" * n) + "</title></head></html>")
    assert(r.status == "ok", r.error)
    assert(r.text == Seq.fill(n)("ab").mkString(" "))
  }

  test("an entity-free body of 256k tag-separated runs extracts in linear time") {
    val n = 262144
    val r = extractFast("<html><body><p>" + ("w <i>" * n) + "</p></body></html>")
    assert(r.status == "ok", r.error)
    assert(r.text == Seq.fill(n)("w").mkString(" "))
  }

  test("400k bare ampersands in one paragraph extract in linear time") {
    val n = 400000
    val r = extractFast("<html><body><p>" + ("&a " * n) + "</p></body></html>")
    assert(r.status == "ok", r.error)
    assert(r.text == Seq.fill(n)("&a").mkString(" "))
  }

  test("64k stray '<' with no '>' after them extract in linear time") {
    val n = 65536
    val r = extractFast("<html><body><p>" + ("< " * n))
    assert(r.status == "ok", r.error)
    assert(r.text == Seq.fill(n)("<").mkString(" "))
  }
}
