package graft.html

import scala.collection.mutable

/** DOM-heuristic HTML main-content extraction (boilerplate strip), designed
  * from scratch for the Common-Crawl-style HTML branch of the pipeline (the
  * reference engine has no HTML code; see SURVEY.md §7.5). Public-knowledge
  * Readability/Boilerpipe-style heuristics:
  *
  *  - raw-text subtrees (script/style/noscript/template/svg/iframe) are
  *    skipped wholesale;
  *  - boilerplate containers (nav/header/footer/aside/form) drop their text;
  *  - text is split into blocks at block-level tags; each block tracks its
  *    link-character density and whether it sits inside article/main;
  *  - a block is kept if it is inside article/main, or if its link density
  *    is <= 0.33 and it has >= 25 characters (or is a heading with low link
  *    density);
  *  - entities are decoded (named basics + numeric), whitespace is collapsed
  *    to single spaces per block;
  *  - output = title (if any) followed by kept blocks, joined with "\n".
  *
  * Single pass, no recursion (depth guard by construction), tolerant of
  * broken tags and non-UTF-8 input (lossy decode). Deterministic.
  */
object HtmlExtract {

  /** `Extract` joins the title (if any) and the blocks with '\n'. */
  final case class HtmlResult(title: String, blocks: Seq[String])

  private[html] val rawTextTags = Set("script", "style", "noscript", "template", "svg", "iframe")
  private[html] val boilerplateTags = Set("nav", "header", "footer", "aside", "form")
  private[html] val contentTags = Set("article", "main")
  private[html] val blockTags = Set(
    "p", "div", "br", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
    "td", "th", "tr", "table", "section", "article", "main", "blockquote",
    "pre", "figure", "figcaption", "dd", "dt", "dl", "nav", "header",
    "footer", "aside", "form", "body", "hr", "title")
  private[html] val headingTags = Set("h1", "h2", "h3", "h4", "h5", "h6")

  // ---- in-place tag classification (hot loop: one per tag) ----
  // Flag bits mirror the tag sets above 1:1 (HtmlSpec property-checks the
  // classifier against the sets over every tag x case variant); RAW tags
  // carry their canonical name index in the high bits for the close-tag
  // search. 0 = unknown tag (member of no set).
  private[html] final val TagBlock = 1
  private[html] final val TagRaw = 2
  private[html] final val TagBoiler = 4
  private[html] final val TagContent = 8
  private[html] final val TagHeading = 16
  private[html] final val TagTitle = 32
  private[html] final val TagA = 64
  private[html] final val TagBody = 128
  private[html] final val TagHead = 256
  private[html] val rawNames = Array("script", "style", "noscript", "template", "svg", "iframe")
  @inline private def raw(idx: Int): Int = TagRaw | (idx << 16)
  private[html] def rawIndex(cls: Int): Int = cls >>> 16

  /** Case-insensitive classification of html[from, until) — the tag-name
    * chars are letters/digits only (the caller's scan), so ASCII folding via
    * `| 0x20` is exact (digits already carry bit 5) with ONE exception:
    * U+212A KELVIN SIGN, the single codepoint whose Locale.ROOT lowercase
    * aliases INTO ascii ('k'), folded explicitly. Length-changing lowercase
    * expansions (U+0130) cannot produce a known tag, so per-char folding
    * otherwise equals `substring.toLowerCase(Locale.ROOT)` + the set
    * memberships above.
    */
  private[html] def classifyTag(s: String, from: Int, until: Int): Int = {
    @inline def lc(i: Int): Int = {
      val c = s.charAt(from + i)
      if (c == '\u212A') 'k' else c | 0x20
    }
    @inline def is(lit: String): Boolean = {
      var i = 0
      val n = lit.length
      while (i < n && lc(i) == lit.charAt(i)) i += 1
      i == n
    }
    (until - from) match {
      case 1 => lc(0) match {
        case 'p' => TagBlock
        case 'a' => TagA
        case _   => 0
      }
      case 2 =>
        val c0 = lc(0); val c1 = lc(1)
        c0 match {
          case 'b' => if (c1 == 'r') TagBlock else 0
          case 'l' => if (c1 == 'i') TagBlock else 0
          case 'u' => if (c1 == 'l') TagBlock else 0
          case 'o' => if (c1 == 'l') TagBlock else 0
          case 'h' =>
            if (c1 >= '1' && c1 <= '6') TagBlock | TagHeading
            else if (c1 == 'r') TagBlock
            else 0
          case 't' => if (c1 == 'd' || c1 == 'h' || c1 == 'r') TagBlock else 0
          case 'd' => if (c1 == 'd' || c1 == 't' || c1 == 'l') TagBlock else 0
          case _ => 0
        }
      case 3 =>
        if (is("div")) TagBlock
        else if (is("pre")) TagBlock
        else if (is("nav")) TagBlock | TagBoiler
        else if (is("svg")) raw(4)
        else 0
      case 4 =>
        if (is("body")) TagBlock | TagBody
        else if (is("form")) TagBlock | TagBoiler
        else if (is("main")) TagBlock | TagContent
        else if (is("head")) TagHead
        else 0
      case 5 =>
        if (is("table")) TagBlock
        else if (is("aside")) TagBlock | TagBoiler
        else if (is("title")) TagBlock | TagTitle
        else if (is("style")) raw(1)
        else 0
      case 6 =>
        if (is("script")) raw(0)
        else if (is("iframe")) raw(5)
        else if (is("header")) TagBlock | TagBoiler
        else if (is("footer")) TagBlock | TagBoiler
        else if (is("figure")) TagBlock
        else 0
      case 7 =>
        if (is("article")) TagBlock | TagContent
        else if (is("section")) TagBlock
        else 0
      case 8 =>
        if (is("noscript")) raw(2)
        else if (is("template")) raw(3)
        else 0
      case 10 =>
        if (is("blockquote")) TagBlock
        else if (is("figcaption")) TagBlock
        else 0
      case _ => 0
    }
  }

  private final class Block {
    val sb = new StringBuilder
    var linkChars = 0
    var inContent = false
    var boilerplate = false
    var heading = false
  }

  def extract(bytes: Array[Byte]): HtmlResult =
    extract(decodeBytes(bytes))

  /** Charset-sniffing decode for Common-Crawl-style pages: BOM first, then a
    * `charset=` declaration INSIDE a <meta> tag in the first 1024 bytes —
    * the HTML5 prescan window (a charset= in a URL, script or comment must
    * NOT hijack the encoding) — else lossy UTF-8. Per the HTML5 prescan, a
    * declared utf-16 family maps to UTF-8 (the declaration was found by an
    * ASCII-compatible scan, so the bytes cannot really be UTF-16; real
    * UTF-16 docs are caught by the BOM branch). Unknown/unsupported names
    * fall back to lossy UTF-8 too (a wrong decode must never fail the
    * document). All case-folding uses Locale.ROOT (a Turkish default locale
    * must not break "ISO-8859-1" matching).
    */
  private[graft] def decodeBytes(bytes: Array[Byte]): String = {
    import java.nio.charset.{Charset, StandardCharsets}
    if (bytes.length >= 3 && bytes(0) == 0xef.toByte && bytes(1) == 0xbb.toByte &&
      bytes(2) == 0xbf.toByte)
      return new String(bytes, 3, bytes.length - 3, StandardCharsets.UTF_8)
    if (bytes.length >= 2 && bytes(0) == 0xfe.toByte && bytes(1) == 0xff.toByte)
      return new String(bytes, 2, bytes.length - 2, StandardCharsets.UTF_16BE)
    if (bytes.length >= 2 && bytes(0) == 0xff.toByte && bytes(1) == 0xfe.toByte)
      return new String(bytes, 2, bytes.length - 2, StandardCharsets.UTF_16LE)
    // ASCII-compatible prescan of the head: charset= accepted only between
    // a "<meta" and its closing '>'.
    val window = new String(bytes, 0, math.min(1024, bytes.length),
      StandardCharsets.ISO_8859_1).toLowerCase(java.util.Locale.ROOT)
    // Quote-aware walk of each <meta> tag (like the main tag parser): a '>'
    // inside a quoted attribute value must not truncate the tag. A charset=
    // is honored when it is a BARE attribute (<meta charset=...>) or sits
    // inside a quoted value of a tag that carries http-equiv (the legacy
    // <meta http-equiv=Content-Type content="...; charset=...">) — but NOT
    // when it merely appears in some other quoted value (e.g. a
    // description containing the word), which must not hijack the decode.
    var name = ""
    var metaAt = window.indexOf("<meta")
    while (name.isEmpty && metaAt >= 0) {
      var k = metaAt + 5
      var quote: Char = 0
      var end = window.length
      var httpEquiv = false
      var charsetAt = -1
      var charsetQuoted = false
      var scanning = true
      while (scanning && k < window.length) {
        val ch = window.charAt(k)
        if (quote != 0) {
          if (ch == quote) quote = 0
          else if (charsetAt < 0 && window.startsWith("charset=", k)) {
            charsetAt = k; charsetQuoted = true
          }
        } else {
          if (ch == '"' || ch == '\'') quote = ch
          else if (ch == '>') { end = k; scanning = false }
          else if (window.startsWith("http-equiv", k)) httpEquiv = true
          else if (charsetAt < 0 && window.startsWith("charset=", k)) {
            charsetAt = k; charsetQuoted = false
          }
        }
        k += 1
      }
      if (charsetAt >= 0 && (!charsetQuoted || httpEquiv)) {
        var v = charsetAt + 8
        if (v < window.length && (window.charAt(v) == '"' || window.charAt(v) == '\'')) v += 1
        val start = v
        while (v < window.length && (window.charAt(v).isLetterOrDigit ||
          window.charAt(v) == '-' || window.charAt(v) == '_' || window.charAt(v) == '.')) v += 1
        name = window.substring(start, v)
      }
      metaAt = window.indexOf("<meta", math.max(end, metaAt + 5))
    }
    val cs: Charset =
      if (name.isEmpty) StandardCharsets.UTF_8
      else
        try {
          // HTML5 aliases: ISO-8859-1 -> windows-1252 (the superset browsers
          // actually use); utf-16* -> UTF-8 (see Scaladoc). Everything else
          // resolves via the JDK registry.
          val canonical =
            if (name == "iso-8859-1" || name == "latin1") "windows-1252"
            else if (name.startsWith("utf-16") || name.startsWith("utf16")) "utf-8"
            else name
          if (Charset.isSupported(canonical)) Charset.forName(canonical)
          else StandardCharsets.UTF_8
        } catch { case _: Exception => StandardCharsets.UTF_8 }
    new String(bytes, cs)
  }

  @inline private def isWs(c: Char): Boolean =
    c <= ' ' && (c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '\f' || c == 0x0b)

  def extract(html: String): HtmlResult = {
    val n = html.length
    var i = 0
    // Reusable span buffer for the text-run routine: a run's output never
    // exceeds its (decoded) length + 1 (one separator space may lead the
    // run; every other separator replaces >= 1 whitespace char).
    var runBuf: Array[Char] = null

    // Title text: each run appended after one ' ', collapsed once at the end
    // (collapsing is a split-and-join on ' ', so collapsing once gives the
    // same tokens as collapsing after every run).
    val title = new java.lang.StringBuilder
    var inTitle = false
    var boilerDepth = 0
    var contentDepth = 0
    var linkDepth = 0

    val blocks = mutable.ArrayBuffer.empty[Block]
    var current = new Block

    // Pending-whitespace state survives ACROSS text runs within a block:
    // "click <a>here</a>" arrives as two runs, and the trailing space of
    // the first must separate the words (a run-local flag would emit
    // "clickhere"). Reset at block boundaries — the block break itself is
    // the separator there.
    var pendingWs = false

    def flushBlock(): Unit = {
      if (current.sb.nonEmpty) { blocks += current; current = new Block }
      else {
        // Empty block: reuse the instance instead of allocating — reset the
        // fields a fresh Block would zero (a fresh one loses any heading /
        // linkChars state accumulated while empty, so the reset must too).
        current.linkChars = 0
        current.heading = false
      }
      current.inContent = contentDepth > 0
      current.boilerplate = boilerDepth > 0
      pendingWs = false
    }

    /** The one text-run routine, over [from, until) of the source. A run
      * with an '&' inside it is entity-decoded first; title text goes to the
      * title. Block text is collapsed per character: whitespace sets
      * pendingWs, and each non-whitespace span (after one separator space,
      * if pending) is copied into a reusable char buffer that is appended
      * to the block builder once per run.
      */
    def appendRun(src: String, from: Int, until: Int): Unit = {
      var s = src
      var lo = from
      var hi = until
      var amp = from
      while (amp < until && src.charAt(amp) != '&') amp += 1
      if (amp < until) { s = decodeEntities(src.substring(from, until)); lo = 0; hi = s.length }
      if (inTitle) { title.append(' ').append(s, lo, hi); return }
      var started = current.sb.nonEmpty
      var k = lo
      if (runBuf == null || runBuf.length < hi - lo + 1)
        runBuf = new Array[Char](math.max(hi - lo + 1, 256))
      val buf = runBuf
      var len = 0
      while (k < hi) {
        val c = s.charAt(k)
        if (isWs(c)) {
          pendingWs = true
          k += 1
        } else {
          if (pendingWs && started) {
            buf(len) = ' '; len += 1
            if (linkDepth > 0) current.linkChars += 1
          }
          var e = k + 1
          while (e < hi && !isWs(s.charAt(e))) e += 1
          s.getChars(k, e, buf, len)
          len += e - k
          if (linkDepth > 0) current.linkChars += e - k
          started = true
          pendingWs = false
          k = e
        }
      }
      if (len > 0) current.sb.underlying.append(buf, 0, len)
      current.inContent = current.inContent || contentDepth > 0
      current.boilerplate = current.boilerplate || boilerDepth > 0
    }

    var polls = 0
    while (i < n) {
      polls += 1
      if ((polls & 0xfff) == 0) graft.pdf.Deadline.check() // per-doc budget
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else if (html.startsWith("<![CDATA[", i)) {
          val end = html.indexOf("]]>", i + 9)
          i = if (end < 0) n else end + 3
        } else if (i + 1 < n && (html.charAt(i + 1) == '!' || html.charAt(i + 1) == '?')) {
          val end = html.indexOf('>', i + 1)
          i = if (end < 0) n else end + 1
        } else {
          // Parse a tag.
          val close = i + 1 < n && html.charAt(i + 1) == '/'
          var j = i + (if (close) 2 else 1)
          val nameStart = j
          while (j < n && (html.charAt(j).isLetterOrDigit)) j += 1
          if (j == nameStart) {
            // Broken tag like "< " or "<>": treat '<' as text, without
            // looking for a tag end (that search would rescan the rest of
            // the page for every stray '<').
            appendRun(html, i, i + 1)
            i += 1
          } else {
            // In-place classification replaces the per-tag substring +
            // toLowerCase + set lookups (classifyTag is property-checked
            // against the sets); unknown tags never needed the name string.
            val cls = classifyTag(html, nameStart, j)
            // Find the tag end with quote awareness: '>' inside quoted
            // attribute values (e.g. href="x?a>b") must not terminate the tag.
            var k = j
            var quote: Char = 0
            var gtEnd = -1
            while (k < n && gtEnd < 0) {
              val ch = html.charAt(k)
              if (quote != 0) { if (ch == quote) quote = 0 }
              else if (ch == '"' || ch == '\'') quote = ch
              else if (ch == '>') gtEnd = k
              k += 1
            }
            val tagEnd = if (gtEnd < 0) n else gtEnd + 1
            // "<svg/>" etc: an open tag that closes itself has no subtree to
            // skip and must not move any depth counter (it would never be
            // balanced by a close tag).
            val selfClosing = !close && gtEnd > 0 && html.charAt(gtEnd - 1) == '/'
            if (selfClosing) {
              if ((cls & TagBlock) != 0) flushBlock()
              i = tagEnd
            } else if (!close && (cls & TagRaw) != 0) {
              // Skip the raw-text subtree: find the matching close tag. The
              // prefix match alone would accept "</scripty>" for "</script";
              // require the name to END there (">", whitespace or "/").
              val closeTag = "</" + rawNames(rawIndex(cls))
              var searchFrom = tagEnd
              var idx = -1
              while (idx < 0 && searchFrom < n) {
                val cand = indexOfIgnoreCase(html, closeTag, searchFrom)
                if (cand < 0) searchFrom = n
                else {
                  val after = cand + closeTag.length
                  val ac = if (after < n) html.charAt(after) else '>'
                  if (ac == '>' || ac == '/' || ac == ' ' || ac == '\t' ||
                    ac == '\r' || ac == '\n' || ac == '\f') idx = cand
                  else searchFrom = cand + 1
                }
              }
              if (idx < 0) i = n
              else {
                val gt = html.indexOf('>', idx)
                i = if (gt < 0) n else gt + 1
              }
            } else {
              if ((cls & TagBlock) != 0) flushBlock()
              // Missing-</title> recovery: a page whose <title> never closes
              // would otherwise route the ENTIRE body into the title and
              // bypass every block heuristic — close it when the head clearly
              // ends.
              if (inTitle && ((cls & TagBody) != 0 || (close && (cls & TagHead) != 0)))
                inTitle = false
              if ((cls & TagTitle) != 0)
                inTitle = !close
              else if ((cls & TagA) != 0) {
                if (close) linkDepth = math.max(0, linkDepth - 1) else linkDepth += 1
              } else if ((cls & TagBoiler) != 0) {
                if (close) boilerDepth = math.max(0, boilerDepth - 1) else boilerDepth += 1
              } else if ((cls & TagContent) != 0) {
                if (close) contentDepth = math.max(0, contentDepth - 1) else contentDepth += 1
              }
              if (!close && (cls & TagHeading) != 0) current.heading = true
              current.inContent = contentDepth > 0
              current.boilerplate = boilerDepth > 0
              i = tagEnd
            }
          }
        }
      } else {
        val next = html.indexOf('<', i)
        val end = if (next < 0) n else next
        appendRun(html, i, end)
        i = end
      }
    }
    flushBlock()

    val kept = blocks.toSeq.flatMap { b =>
      val text = b.sb.toString // materialized once (was toString in filter AND map)
      val len = text.length
      val keep =
        if (b.boilerplate) false
        else if (b.inContent) true
        else {
          val linkDensity = if (len == 0) 0.0 else b.linkChars.toDouble / len
          if (linkDensity > 0.33) false
          else if (b.heading) len >= 3
          else len >= 25
        }
      if (keep) Some(text) else None
    }

    HtmlResult(collapseWs(title.toString).trim, kept)
  }

  private def indexOfIgnoreCase(hay: String, needle: String, from: Int): Int = {
    val nl = needle.length
    var i = math.max(0, from)
    val limit = hay.length - nl
    while (i <= limit) {
      if (hay.regionMatches(true, i, needle, 0, nl)) return i
      i += 1
    }
    -1
  }

  private def collapseWs(s: String): String =
    s.split("[ \t\r\n\f\u000b]+").filter(_.nonEmpty).mkString(" ")

  /** Common named entities beyond the XML five (the set that actually shows
    * up in web text: punctuation, quotes, currency, Latin-1 accents).
    */
  private val namedEntities: Map[String, String] = Map(
    "mdash" -> "\u2014", "ndash" -> "\u2013", "hellip" -> "\u2026",
    "lsquo" -> "\u2018", "rsquo" -> "\u2019", "ldquo" -> "\u201c",
    "rdquo" -> "\u201d", "laquo" -> "\u00ab", "raquo" -> "\u00bb",
    "bull" -> "\u2022", "middot" -> "\u00b7", "dagger" -> "\u2020",
    "copy" -> "\u00a9", "reg" -> "\u00ae", "trade" -> "\u2122",
    "deg" -> "\u00b0", "plusmn" -> "\u00b1", "frac12" -> "\u00bd",
    "times" -> "\u00d7", "divide" -> "\u00f7", "euro" -> "\u20ac",
    "pound" -> "\u00a3", "cent" -> "\u00a2", "yen" -> "\u00a5",
    "sect" -> "\u00a7", "para" -> "\u00b6", "micro" -> "\u00b5",
    "agrave" -> "\u00e0", "aacute" -> "\u00e1", "acirc" -> "\u00e2",
    "auml" -> "\u00e4", "aring" -> "\u00e5", "aelig" -> "\u00e6",
    "ccedil" -> "\u00e7", "egrave" -> "\u00e8", "eacute" -> "\u00e9",
    "ecirc" -> "\u00ea", "euml" -> "\u00eb", "igrave" -> "\u00ec",
    "iacute" -> "\u00ed", "ntilde" -> "\u00f1", "ograve" -> "\u00f2",
    "oacute" -> "\u00f3", "ocirc" -> "\u00f4", "ouml" -> "\u00f6",
    "oslash" -> "\u00f8", "ugrave" -> "\u00f9", "uacute" -> "\u00fa",
    "ucirc" -> "\u00fb", "uuml" -> "\u00fc", "szlig" -> "\u00df",
    "Auml" -> "\u00c4", "Ouml" -> "\u00d6", "Uuml" -> "\u00dc",
    "Eacute" -> "\u00c9", "shy" -> "", "ensp" -> " ", "emsp" -> " ",
    "thinsp" -> " ", "zwnj" -> "", "zwj" -> "")

  /** Basic entity decoding: the common named entities + numeric forms. */
  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        // Only a ';' within 10 chars of the '&' ends an entity: search that
        // window alone, not the rest of the run.
        var semi = i + 1
        val semiEnd = math.min(s.length, i + 11)
        while (semi < semiEnd && s.charAt(semi) != ';') semi += 1
        if (semi < semiEnd) {
          val ent = s.substring(i + 1, semi)
          val decoded: String = ent match {
            case "amp"  => "&"
            case "lt"   => "<"
            case "gt"   => ">"
            case "quot" => "\""
            case "apos" => "'"
            case "nbsp" => " "
            case e if namedEntities.contains(e) => namedEntities(e)
            // Surrogate-range refs (U+D800-DFFF) pass isValidCodePoint but
            // would emit LONE surrogate chars; HTML5 mandates U+FFFD.
            case e if e.startsWith("#x") || e.startsWith("#X") =>
              try {
                val cp = Integer.parseInt(e.substring(2), 16)
                if (Character.isValidCodePoint(cp) && !(cp >= 0xD800 && cp <= 0xDFFF))
                  new String(Character.toChars(cp))
                else "�"
              } catch { case _: Exception => null }
            case e if e.startsWith("#") =>
              try {
                val cp = Integer.parseInt(e.substring(1))
                if (Character.isValidCodePoint(cp) && !(cp >= 0xD800 && cp <= 0xDFFF))
                  new String(Character.toChars(cp))
                else "�"
              } catch { case _: Exception => null }
            case _ => null
          }
          if (decoded != null) { sb.append(decoded); i = semi + 1 }
          else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
