package graft.pdf

import org.scalatest.funsuite.AnyFunSuite

import graft.Extract
import graft.pdf.Creator.ParagraphStyle

/** Creator-lite layout: reference wrapText semantics over real Helvetica /
  * Courier AFM widths, with HAND-TRACED line-break positions.
  */
class CreatorSpec extends AnyFunSuite {

  test("hand-traced Helvetica wrap: back-up-to-space keeps the trailing space") {
    // fontSize 1 => widths are raw Wx. "iii www iii":
    //   i=222 x3 -> 666; space=278 -> 944; w=722 x3 -> 3110; next space
    //   would hit 3388 > 3200 -> overflow ON THE SPACE char; back up to the
    //   space at idx 3 -> line "iii " (trailing space kept), remainder
    //   "www" + the overflowing space -> "www "; then "iii" fits (2444 +
    //   666 = 3110 <= 3200).
    val st = ParagraphStyle(fontSize = 1.0, wrapWidth = 3.2)
    assert(Creator.wrapText("iii www iii", st) == Seq("iii ", "www iii"))
  }

  test("hand-traced: no space in line -> break on the character") {
    // "wwww" at limit 2000: w=722; 2166 > 2000 on the 3rd char, no space
    // (idx<=0) -> emit "ww", start "w"; again for the 4th.
    val st = ParagraphStyle(fontSize = 1.0, wrapWidth = 2.0)
    assert(Creator.wrapText("wwww", st) == Seq("ww", "ww"))
  }

  test("controlLF forces breaks; missing glyph errors") {
    val st = ParagraphStyle()
    assert(Creator.wrapText("ab\ncd\n\nef", st) == Seq("ab", "cd", "", "ef"))
    // WinAnsi runes have metrics now; runes OUTSIDE WinAnsi still error
    // (reference "Glyph not found for rune")
    intercept[PdfError] { Creator.wrapText("日本", st) } // CJK
  }

  test("WinAnsi runes wrap with real AFM widths and author round-trip") {
    // 'é'=556 (eacute), '€'=556 (Euro), 'œ'=944: fontSize 1, limit 3000:
    // c(500)+a(556)+f(278)+é(556)=1890, sp(278)=2168, c(500)=2668,
    // r(333)=3001 > 3000 -> back to space idx 4 -> "café " kept with its
    // trailing space; "crème" continues on line 2.
    val st = ParagraphStyle(fontSize = 1.0, wrapWidth = 3.0)
    assert(Creator.wrapText("café crème", st) == Seq("café ", "crème"))
    // authored Latin-1 text extracts byte-identically (UTF-8 Tj bytes)
    val doc = Creator.authorParagraphs(Seq("café €9 — naïve œuvre"))
    assert(graft.Extract(doc).text == "café €9 — naïve œuvre")
  }

  test("width tables match their pinned AFM digests; Courier is 600 throughout") {
    // SHA-256 over a canonical listing ("U+XXXX width" lines in codepoint
    // order) of each table. The pins were taken while the Helvetica,
    // Helvetica-Bold and WinAnsi tables still cross-checked glyph-for-glyph
    // against Adobe's AFM files; an edited table must be re-verified
    // against the AFM data before it is re-pinned.
    def digest(table: Map[Char, Int]): String = {
      val listing = table.toSeq.sortBy(_._1)
        .map { case (c, w) => f"U+${c.toInt}%04X $w\n" }.mkString
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(listing.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"${b & 0xff}%02x").mkString
    }
    val pins = Seq(
      ("Helvetica", Creator.HelveticaWidths,
        "c43d363c5f6cacaff39e1b937e720cfe7e281de11eeada3777d09d769c99b6a6"),
      ("Helvetica-Bold", Creator.HelveticaBoldWidths,
        "220959bb339493d7a36504d7d135ce3096582e247dfd16f8443ff6594828fbc6"),
      ("Helvetica WinAnsi", Creator.HelveticaWinAnsiWidths,
        "a8696d35147ddeb6c0da04e564001cae4930a0d062385797cdb299b397414869"),
      ("Times-Roman", Creator.TimesRomanWidths,
        "b730c17952ae9b36b64a4b44dc7aa188e7d147bbb3ca6c1c9b1a4d58180d514f"),
      ("Times-Bold", Creator.TimesBoldWidths,
        "c07b84d14aa304b38d9b64f613d395500813f65ffde8a5bd12b62c6bb2394eea"),
      ("Times-Italic", Creator.TimesItalicWidths,
        "387211afead308a987a5892a3b317b6c2263b0ea8f18c134fd0a3f35a3d6d7de"),
      ("Times-BoldItalic", Creator.TimesBoldItalicWidths,
        "636bd6e3d570ad2afcb455ab602314c98ae0ea2d517e686537242d551bda4c65"))
    assert(pins.map { case (face, table, _) => face -> digest(table) } ==
      pins.map { case (face, _, want) => face -> want })
    for (face <- Seq("Courier", "Courier-Bold", "Courier-Oblique", "Courier-BoldOblique");
         c <- ' ' to '~')
      assert(Creator.widthOf(face, c).contains(600), s"$face '$c'")
  }

  test("standard-14 families: distinct AFM tables per face") {
    // spot-check values straight from the AFM data: Times-Roman 'W'=944
    // but Times-Bold 'W'=1000; Helvetica-Bold 'i'=278 vs Helvetica 222;
    // Times-Italic 'v'=444; obliques share their upright table for
    // Helvetica, Times-Italic does NOT.
    assert(Creator.widthOf("Times-Roman", 'W').contains(944))
    assert(Creator.widthOf("Times-Bold", 'W').contains(1000))
    assert(Creator.widthOf("Times-Italic", 'v').contains(444))
    assert(Creator.widthOf("Times-BoldItalic", 'A').contains(667))
    assert(Creator.widthOf("Helvetica-Bold", 'i').contains(278))
    assert(Creator.widthOf("Helvetica-BoldOblique", 'i').contains(278))
    assert(Creator.widthOf("Helvetica", 'i').contains(222))
    assert(Creator.widthOf("Courier-BoldOblique", 'W').contains(600))
    // a Times paragraph wraps with Times metrics and still round-trips
    val doc = Creator.authorParagraphs(Seq("Times wrapped paragraph test"),
      ParagraphStyle(font = "Times-Roman"))
    assert(graft.Extract(doc).text == "Times wrapped paragraph test")
  }

  test("Courier is monospaced at 600: wrap count is char arithmetic") {
    // 600*fontSize(1) per char; limit 3000 -> 5 chars fit. "aaaa bb cc":
    // a,a,a,a(2400) sp(3000 fits exactly — not >) then b at 3600 -> back to
    // space idx 4 -> "aaaa " ; "bb"(1200)+sp(1800)+"cc"(3000) fits.
    val st = ParagraphStyle(font = "Courier", fontSize = 1.0, wrapWidth = 3.0)
    assert(Creator.wrapText("aaaa bb cc", st) == Seq("aaaa ", "bb cc"))
  }

  test("x44 shape: 5 constant-width words per line, trailing space kept") {
    // 'w'+4 digits = 722 + 4*556 = 2946; space 278; size 10, wrap 180 ->
    // limit 18000 in Wx*10: 5 words + 5 spaces = 16120*10 fits, word 6
    // overflows mid-word -> exactly 5 words (+ trailing space) per line.
    val words = (0 until 12).map(j => f"w${j}%04d")
    val lines = Creator.wrapText(words.mkString(" "), ParagraphStyle())
    assert(lines == Seq(
      words.take(5).mkString(" ") + " ",
      words.slice(5, 10).mkString(" ") + " ",
      words.slice(10, 12).mkString(" ")))
  }

  test("table layout: Tm grid extracts as tabs/newlines; cells clip at AFM width") {
    val rows = Seq(Seq("r0c0", "r0c1"), Seq("r1c0", "r1c1"))
    val doc = Creator.authorTable(rows)
    assert(graft.Extract(doc).text == "r0c0\tr0c1\nr1c0\tr1c1")
    // explicit fractional widths (SetColumnWidths analogue) also land
    val doc2 = Creator.authorTable(rows, colWidths = Seq(0.7, 0.3))
    assert(graft.Extract(doc2).text == "r0c0\tr0c1\nr1c0\tr1c1")
    // cell truncation at the REAL glyph boundary: 'w'=722 at size 10 in a
    // 30pt column -> floor(30000/7220) = 4 chars survive
    val st = Creator.TableStyle()
    assert(Creator.fitCell("wwwwwwww", 30.0, st) == "wwww")
    assert(Creator.fitCell("short", 500.0, st) == "short")
    // ragged rows are rejected loudly
    intercept[IllegalArgumentException] {
      Creator.tableContent(Seq(Seq("a"), Seq("b", "c")), Creator.equalColWidths(1))
    }
  }

  test("authored paragraphs extract byte-identically via the golden kernel") {
    val para1 = (0 until 13).map(j => f"w${j}%04d").mkString(" ")
    val doc = Creator.authorParagraphs(Seq(para1, "end 7"))
    val r = Extract(doc)
    assert(r.status == "ok")
    val expected = Creator.wrapText(para1, ParagraphStyle()).mkString("\n") + "\nend 7"
    assert(r.text == expected)
    // and the layout survives a writer rewrite (author -> rewrite -> extract)
    assert(Extract(PdfWriter.rewrite(doc)).text == expected)
  }
}
