package graft.pdf

import java.nio.charset.StandardCharsets.ISO_8859_1

import org.scalatest.funsuite.AnyFunSuite

/** File-layer lexer goldens ported from /root/reference/pdf/core/parser_test.go. */
class LexerSpec extends AnyFunSuite {

  private def lexer(s: String): ObjLexer = new ObjLexer(new ByteCursor(s.getBytes(ISO_8859_1)))

  // parser_test.go:44-59
  val namePairs: Map[String, String] = Map(
    "/Name1" -> "Name1",
    "/ASomewhatLongerName" -> "ASomewhatLongerName",
    "/A;Name_With-Various***Characters?" -> "A;Name_With-Various***Characters?",
    "/1.2" -> "1.2",
    "/$$" -> "$$",
    "/@pattern" -> "@pattern",
    "/.notdef" -> ".notdef",
    "/Lime#20Green" -> "Lime Green",
    "/paired#28#29parentheses" -> "paired()parentheses",
    "/The_Key_of_F#23_Minor" -> "The_Key_of_F#_Minor",
    "/A#42" -> "AB",
    "/" -> "",
    "/ " -> "",
    "/#3CBC88#3E#3CC5ED#3E#3CD544#3E#3CC694#3E" -> "<BC88><C5ED><D544><C694>")

  test("name parsing goldens") {
    for ((raw, expected) <- namePairs) {
      assert(lexer(raw).parseName().name == expected, s"for input $raw")
    }
    // must start with '/'
    assertThrows[PdfError](lexer(" /Name").parseName())
  }

  // parser_test.go:113-126
  val stringPairs: Map[String, String] = Map(
    "(This is a string)" -> "This is a string",
    "(Strings may contain\n newlines and such)" -> "Strings may contain\n newlines and such",
    "(Strings may contain balanced parenthesis () and\nspecial characters (*!&}^% and so on).)" ->
      "Strings may contain balanced parenthesis () and\nspecial characters (*!&}^% and so on).",
    "(These \\\ntwo strings \\\nare the same.)" -> "These two strings are the same.",
    "(These two strings are the same.)" -> "These two strings are the same.",
    "(\\\\)" -> "\\",
    "(This string has an end-of-line at the end of it.\n)" ->
      "This string has an end-of-line at the end of it.\n",
    "(So does this one.\\n)" -> "So does this one.\n",
    "(\\0053)" -> "\u00053",
    "(\\53)" -> "+",
    "(\\053)" -> "+",
    "(\\53\\101)" -> "+A")

  test("string parsing goldens") {
    for ((raw, expected) <- stringPairs) {
      val got = new String(lexer(raw).parseString().bytes, ISO_8859_1)
      assert(got == expected, s"for input ${raw.replace("\n", "\\n")}")
    }
  }

  test("binary string: Encrypt /O-style string decodes to 32 bytes") {
    // parser_test.go:155-170
    val raw = "(\u00E6\u0000\u00EC\u00C2\u0002\u0088\u00AD\u008B\\r\u0064\u00A9" +
      "\\)\u00C6\u00A8\u003E\u00E2\u0051\u0076\u0079\u00AA\u0002\u0018\u00BE\u00CE\u00EA" +
      "\u008B\u0079\u0086\u0072\u006A\u008C\u00DB)"
    val got = lexer(raw).parseString()
    assert(got.bytes.length == 32)
  }

  test("octal boundary: \\278A parses as \\27 octal then '8A'") {
    // parser_test.go:173-187
    val raw = "[(\\227\\224`\\274\\31W\\216\\276\\23\\231\\246U\\33\\317\\6-)(\\210S\\377:\\322\\278A\\200$*/e]\\371|)]"
    val arr = lexer(raw).parseArray()
    assert(arr.length == 2)
  }

  test("numeric parsing 1: mixed int/float array") {
    // parser_test.go:225-267
    val arr = lexer("[34.5 -3.62 1 +123.6 4. -.002 0.0]").parseArray()
    assert(arr.length == 7)
    assert(arr(0) == PdfReal(34.5))
    assert(arr(1) == PdfReal(-3.62))
    assert(arr(2) == PdfInt(1))
    assert(arr(3) == PdfReal(123.6))
    assert(arr(4) == PdfReal(4.0))
    assert(arr(5) == PdfReal(-0.002))
    assert(arr(6) == PdfReal(0.0))
  }

  test("numeric parsing 2: glued signs [+4.-.002]") {
    val arr = lexer("[+4.-.002]").parseArray()
    assert(arr.length == 2)
    assert(arr(0) == PdfReal(4.0))
    assert(arr(1) == PdfReal(-0.002))
  }

  test("numeric parsing 3: exponentials [+4.-.002+3e-2-2e0]") {
    val arr = lexer("[+4.-.002+3e-2-2e0]").parseArray()
    assert(arr.length == 4)
    assert(arr(0) == PdfReal(4.0))
    assert(arr(1) == PdfReal(-0.002))
    assert(math.abs(arr(2).asInstanceOf[PdfReal].value - 0.03) < 1e-12)
    assert(arr(3) == PdfReal(-2.0))
  }

  test("dict parsing 1") {
    val d = lexer("<<\n\t/Name /Game /key/val/data\t[0 1 2 3.14 5]\t\n\n>>").parseDict()
    assert(d.keys.length == 3)
    assert(d.get("Name") == PdfName("Game"))
    assert(d.get("key") == PdfName("val"))
    val data = d.get("data").asInstanceOf[PdfArr]
    assert(data(2) == PdfInt(2))
    assert(data(3) == PdfReal(3.14))
  }

  test("dict parsing 2: nested") {
    val raw = "<< /Type /Example\n" +
      "/Subtype /DictionaryExample /Version 0.01\n" +
      "/IntegerItem 12 \n" +
      "/StringItem (a string) /Subdictionary << /Item1 0.4\n" +
      "/Item2 true /LastItem (not!) /VeryLastItem (OK)\n" +
      ">>\n >>"
    val d = lexer(raw).parseDict()
    assert(d.keys.length == 6)
    assert(d.get("Type") == PdfName("Example"))
    assert(d.get("StringItem") == PdfStr.ascii("a string"))
    val sub = d.get("Subdictionary").asInstanceOf[PdfDict]
    assert(sub.get("Item2") == PdfBool(true))
    assert(sub.get("Item1") == PdfReal(0.4))
  }

  test("dict parsing 3: empty dict") {
    assert(lexer("<<>>").parseDict().keys.isEmpty)
  }

  test("object dispatch: int vs reference vs bool") {
    // parser_test.go:597-682
    assert(lexer(" \t9 0 false").parseObject() == PdfInt(9))
    assert(lexer("9 0 false").parseObject() == PdfInt(9))
    assert(lexer("9 0 R false").parseObject() == PdfRef(9, 0))
    assert(lexer("909 0 R false").parseObject() == PdfRef(909, 0))
    assert(lexer("false 9 0 R").parseObject() == PdfBool(false))
  }

  test("indirect object: messy catalog with binary RightsID strings") {
    // parser_test.go:503-537 (trimmed binary content, same structure)
    val raw = "1 0 obj\n<<\n/Names 2 0 R\n/Pages 3 0 R\n/Metadata 4 0 R\n/ViewerPreferences\n<<\n/Rights\n<<\n" +
      "/Document [/FullSave]\n/TimeOfUbiquitization (D:20071210131309Z)\n" +
      "/RightsID [(x\\\\\u00C4-z\u0080\u0083\u00E3[W< b\u0099\\rhv\u00E8C) (#$\u00D0J\u0003) (kc2\u00B5)]\n" +
      "/Version 1\n/Msg (This form has rights applied to it.)\n" +
      "/Form [/Import /Export /SubmitStandalone /SpawnTemplate]\n>>\n>>\n/AcroForm 5 0 R\n/Type /Catalog\n>>\nendobj\n3 0 obj\n"
    val p = new PdfFileParser(raw.getBytes(ISO_8859_1))
    val obj = p.parseIndirectObject()
    assert(obj.isInstanceOf[PdfIndirect])
    val d = obj.asInstanceOf[PdfIndirect].obj.asInstanceOf[PdfDict]
    assert(d.get("Type") == PdfName("Catalog"))
  }

  test("xref stream: ASCIIHex /W [1 2 2] -> 4 entries, type-2 objstream refs") {
    // parser_test.go:542-595
    val raw = "99 0 obj\n<<  /Type /XRef\n    /Index [0 5]\n    /W [1 2 2]\n" +
      "    /Filter /ASCIIHexDecode\n    /Size 5\n    /Length 65\n>>\nstream\n" +
      "00 0000 FFFF\n02 000F 0000\n02 000F 0001\n02 000F 0002\n01 BA5E 0000>\nendstream\nendobj"
    val p = new PdfFileParser(raw.getBytes(ISO_8859_1))
    val dict = p.parseXrefStream(None)
    assert(dict.get("Type") == PdfName("XRef"))
    assert(p.xrefs.size == 4)
    assert(p.xrefs(3).xtype == XrefEntry.ObjectStream)
    assert(p.xrefs(3).osObjNumber == 15)
    assert(p.xrefs(3).osObjIndex == 2)
  }

  test("readTextLine keeps offset consistent") {
    val cur = new ByteCursor("abc\u00b0cde".getBytes(ISO_8859_1))
    val lx = new ObjLexer(cur)
    intercept[PdfError](lx.readTextLine()) // no EOL: reference returns io.EOF error
  }

  test("fuzz: trace of missing ref returns PdfNull without error") {
    val p = new PdfFileParser(" /Name".getBytes(ISO_8859_1))
    assert(p.trace(PdfRef(-1, 0)) == PdfNull)
  }

  test("fuzz: self-referential /Length errors instead of hanging") {
    val raw = "13 0 obj\n<< /Length 13 0 R >>\nstream\nxxx\nendstream\n"
    val p = new PdfFileParser(raw.getBytes(ISO_8859_1))
    p.xrefs(13) = XrefEntry.table(13, 0, 0)
    assertThrows[PdfError](p.parseIndirectObject())
  }

  test("fuzz: self-referential /Length with wrong number errors") {
    val raw = "13 0 obj\n<< /Length 12 0 R >>\nstream\nxxx\nendstream\n"
    val p = new PdfFileParser(raw.getBytes(ISO_8859_1))
    p.xrefs(12) = XrefEntry.table(12, 0, 0)
    assertThrows[PdfError](p.parseIndirectObject())
  }

  test("fuzz: invalid /Prev tolerated") {
    val raw = "\nxref\n0 1\n0000000000 65535 f\n0000000001 00000 n\ntrailer\n" +
      "<</Info 1 0 R/Root 2 0 R/Size 17/Prev /Invalid>>\nstartxref\n0\n%%EOF\n"
    val p = new PdfFileParser(raw.getBytes(ISO_8859_1))
    val trailer = p.loadXrefs() // must not throw
    assert(trailer.get("Size") == PdfInt(17))
  }

  test("bool parsing (7.3.2)") {
    assert(lexer("false").parseBool() == PdfBool(false))
    assert(lexer("true").parseBool() == PdfBool(true))
    // a "true" prefix parses as bool with the remainder left over (Go quirk)
    assert(lexer("trueX and trailing").parseObject() == PdfBool(true))
    assertThrows[PdfError](lexer("maybe").parseBool())
  }

  test("parseObject fast dispatch equals the reference-regex decision") {
    import LexerSpec.RegexDispatch
    def outcome(src: String, parse: ObjLexer => PdfObj): String = {
      val lex = lexer(src)
      try s"${parse(lex)} @${lex.cur.pos}"
      catch { case e: Exception => s"${e.getClass.getName}: ${e.getMessage} @${lex.cur.pos}" }
    }
    def check(src: String): String = {
      val want = outcome(src, RegexDispatch.parseObject)
      assert(outcome(src, _.parseObject()) == want, s"input '${XrefOracle.esc(src)}'")
      want
    }
    // corners: references in and past the window, the NUL corner (NUL is
    // PDF whitespace but NOT in the regex S class), ',' inside the
    // [\+-.] range, a '.'-run with no digit, and the null/bool prefixes
    val snippets = Seq(
      "12 0 R", "1 0 R /Next", "12 0 R\n", "007 008 R", "12  0   R",
      "12\t0\tR", "12 0 Rx", "12 0R", "1 2 3 R", "12 x", "12.5]",
      "123456789012345 0 R", "12 345678901234 R", "12 0 q",
      "12\u0000" + "0 R", "12 \u0000" + "0 R", "-12 ", "+12 ", ".5 ", "-.002 ",
      "3e2 ", "12", "0 R", "12 R", ",5", "+.", "..", "+-", "+,,,,,,,,,,,,,,,5", "-e5",
      "null", "nul", "nullx", "true", "tru", "falsey", "fals", "x", "e5")
    for (s <- snippets) check(s)
    // exact values on the corners
    assert(check("12\u0000" + "0 R") == "PdfInt(12) @2") // NUL kills the ref
    assert(check("12 0 R /Next") == "PdfRef(12,0) @6")
    assert(check("12.5]") == "PdfReal(12.5) @4")
    assert(check("-12 ") == "PdfInt(-12) @3")
    assert(check("null and more") == "PdfNull @4")
    assert(check("+.") == "PdfReal(0.0) @2")
    assert(check(",5") == "graft.pdf.PdfError: invalid integer '' @0")
    assert(check("123456789012345 0 R") == "PdfInt(123456789012345) @15")
    assert(check("xy") == "graft.pdf.PdfError: Object parsing error - unexpected pattern @0")
    // seeded property loop: both dispatches on the same inputs
    val rnd = new scala.util.Random(20261017L)
    val alphabet = XrefOracle.atoms ++ Array("null", "true", "false", "e", "0", "3", " ", ".")
    val kinds = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for (_ <- 0 until 120000) {
      val src =
        if (rnd.nextBoolean()) XrefOracle.shaped(rnd, Array("R", "R", "n", "obj", "e", ""))
        else XrefOracle.randomText(rnd, alphabet, 1 + rnd.nextInt(8))
      kinds(check(src).takeWhile(c => c != '(' && c != ' ')) += 1
    }
    for (k <- Seq("PdfRef", "PdfInt", "PdfReal", "PdfNull", "PdfBool", "graft.pdf.PdfError:"))
      assert(kinds(k) > 500, kinds.toString)
  }

  test("EOF contract: the file-layer, content and CMap grammars on the same truncated tokens") {
    // file layer: every EOF is a PdfError naming where it hit
    val cut = Seq(
      "(abc" -> "EOF in string",
      "(a\\" -> "EOF in string escape",
      "(a\\1" -> "EOF in string octal",
      "/a#4" -> "EOF in name hex escape",
      "<41" -> "EOF in hex string")
    for ((tok, msg) <- cut)
      assert(intercept[PdfError](lexer(tok).parseObject()).getMessage == msg, s"for $tok")
    // content: EOF is a clean end keeping the operations before the cut, but
    // the virtual trailing "\n" completes "#4" into an invalid name escape
    for ((tok, _) <- cut) {
      def ops = new ContentParser(("q " + tok).getBytes(ISO_8859_1)).parse()
      if (tok == "/a#4")
        assert(intercept[PdfError](ops).getMessage == "invalid hex escape in name")
      else assert(ops.map(_.operand) == Seq("q") && ops.head.params.isEmpty, s"for $tok")
    }
    // CMap: EOF ends the section, keeping the map built before the cut
    for ((tok, _) <- cut) {
      val cmap = CMapParser.load(("1 beginbfchar <01> <0041> <02> " + tok).getBytes(ISO_8859_1))
      val got = cmap.codeMap.map(_.map { case (k, v) => k -> new String(v, ISO_8859_1) }.toMap)
      assert(got.toSeq == Seq(Map(1L -> "A"), Map.empty, Map.empty, Map.empty), s"for $tok")
    }
  }
}

object LexerSpec {
  /** The reference's dispatch (pdf/core/parser.go:491-574) as it is written
    * there, regexes and all: the oracle for `ObjLexer.parseObject`. The
    * productions it dispatches to are the lexer's own.
    */
  object RegexDispatch {
    import java.util.regex.Pattern
    private val S = "[\\t\\n\\f\\r ]"
    private val reference = Pattern.compile(s"^$S*(\\d+)$S+(\\d+)$S+R")
    private val numeric = Pattern.compile("^[\\+-.]*([0-9.]+)")
    private val exponential = Pattern.compile("^[\\+-.]*([0-9.]+)e[\\+-.]*([0-9.]+)")

    def parseObject(lex: ObjLexer): PdfObj = {
      val cur = lex.cur
      lex.skipSpaces()
      while (true) {
        if (cur.remaining < 2) throw new PdfError("EOF parsing object")
        val b0 = cur.peekByte; val b1 = cur.peekAt(1)
        if (b0 == '/') return lex.parseName()
        else if (b0 == '(') return lex.parseString()
        else if (b0 == '[') return lex.parseArray()
        else if (b0 == '<' && b1 == '<') return lex.parseDict()
        else if (b0 == '<') return lex.parseHexString()
        else if (b0 == '%') { lex.readComment(); lex.skipSpaces() }
        else {
          val peekStr = new String(cur.peek(15), ISO_8859_1)
          if (peekStr.length > 3 && peekStr.startsWith("null")) return lex.parseNull()
          if (peekStr.length > 4 && peekStr.startsWith("false")) return lex.parseBool()
          if (peekStr.length > 3 && peekStr.startsWith("true")) return lex.parseBool()
          if (reference.matcher(peekStr).find()) {
            // consume through 'R' (the reference's ReadBytes('R')), re-match
            val consumed = new StringBuilder
            var c = cur.readByte()
            while (c != -1 && c != 'R') { consumed.append(c.toChar); c = cur.readByte() }
            if (c == -1) throw new PdfError("EOF reading reference")
            consumed.append('R')
            val m = reference.matcher(consumed.toString)
            if (!m.find()) throw new PdfError("Unable to parse reference")
            return PdfRef(m.group(1).toLong, m.group(2).toLong)
          }
          if (numeric.matcher(peekStr).find()) return lex.parseNumber()
          if (exponential.matcher(peekStr).find()) return lex.parseNumber()
          throw new PdfError("Object parsing error - unexpected pattern")
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }
}
