package graft.pdf

import java.io.ByteArrayOutputStream

import scala.collection.mutable

/** From-scratch PDF writer re-creating the reference's default write path:
  * object serialization per core/primitives.go `DefaultWriteString`
  * (strings escape exactly {\n \r \t \b \f ( ) \\}; names hex-escape
  * non-printable/#/delimiter bytes; floats print Go's "%f" = 6 decimals;
  * dictionaries emit "<<" key " " value ... ">>" with NO separator between
  * pairs), and whole-file framing per model/writer.go:617-734 (header +
  * binary comment line, sequential "N 0 obj" bodies, classic xref whose
  * lines end in \r\n, trailer {Info, Root, Size}, startxref, %%EOF;
  * objects renumbered 1..n with generation forced to 0, writer.go:462-475).
  *
  * Two entry points:
  *  - `authorSimple` builds a fresh document from content streams (the
  *    NewPdfWriter scaffold: Info/Catalog+Version/Pages/Page,
  *    writer.go:82-130, 664-665);
  *  - `rewrite` loads ANY document the reader handles and re-emits the
  *    reachable object graph from the trailer /Root — object streams are
  *    flattened, repairs normalized, encryption removed (objects were
  *    decrypted on load; the reference writer likewise serializes the
  *    model graph, not the storage layout).
  */
object PdfWriter {

  private val Latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
  private def b(s: String): Array[Byte] = s.getBytes(Latin1)

  // ------------------------------------------------------------ serializer

  private def isPrintable(c: Int): Boolean = c >= 0x21 && c <= 0x7e

  /** Serialize one DIRECT object. `refTarget` maps an original object
    * number to its output number; refs to unmapped numbers serialize as
    * "null" (a dangling reference reads back as the null object anyway,
    * crossrefs.go:243-249). Pass `identityRef` for as-is serialization.
    */
  def serializeDirect(obj: PdfObj, out: ByteArrayOutputStream,
                      refTarget: Long => Option[Long]): Unit = obj match {
    case PdfBool(v) => out.write(b(if (v) "true" else "false"))
    case PdfInt(v)  => out.write(b(v.toString))
    case PdfReal(v) =>
      // Go fmt "%f": fixed six decimal places (primitives.go:213-215). Go
      // rounds the exact binary value half-to-EVEN where Java's %.6f rounds
      // half-up, so exact-tie values (e.g. 1.0625 at scale 3-like corners)
      // serialize differently under %.6f — BigDecimal(double) is the exact
      // decimal expansion, rounded HALF_EVEN to match Go. (-0.0 keeps its
      // sign like Go's "-0.000000".)
      val bd = new java.math.BigDecimal(v)
        .setScale(6, java.math.RoundingMode.HALF_EVEN)
      // any negative value that ROUNDS to zero (incl. -0.0 itself) keeps
      // its sign, like Go's "%f" ("-0.000000"); BigDecimal zero is unsigned
      val negZero = bd.signum() == 0 &&
        (v < 0.0 || (v == 0.0 && java.lang.Double.doubleToRawLongBits(v) != 0L))
      out.write(b((if (negZero) "-" else "") + bd.toPlainString))
    case s: PdfStr =>
      out.write('(')
      var i = 0
      while (i < s.bytes.length) {
        (s.bytes(i) & 0xff) match {
          case '\n' => out.write(b("\\n"))
          case '\r' => out.write(b("\\r"))
          case '\t' => out.write(b("\\t"))
          case '\b' => out.write(b("\\b"))
          case '\f' => out.write(b("\\f"))
          case '('  => out.write(b("\\("))
          case ')'  => out.write(b("\\)"))
          case '\\' => out.write(b("\\\\"))
          case c    => out.write(c)
        }
        i += 1
      }
      out.write(')')
    case PdfName(name) =>
      out.write('/')
      val nb = name.getBytes(Latin1)
      var i = 0
      while (i < nb.length) {
        val c = nb(i) & 0xff
        if (!isPrintable(c) || c == '#' || PdfObjs.isDelimiter(c))
          out.write(b(f"#$c%02x"))
        else out.write(c)
        i += 1
      }
    case a: PdfArr =>
      out.write('[')
      var i = 0
      while (i < a.length) {
        if (i > 0) out.write(' ')
        serializeDirect(a(i), out, refTarget)
        i += 1
      }
      out.write(']')
    case d: PdfDict =>
      out.write(b("<<"))
      for (k <- d.keys) {
        serializeDirect(PdfName(k), out, refTarget)
        out.write(' ')
        serializeDirect(d.get(k), out, refTarget)
      }
      out.write(b(">>"))
    case PdfNull => out.write(b("null"))
    case PdfRef(num, gen) =>
      refTarget(num) match {
        case Some(n2) => out.write(b(s"$n2 0 R"))
        case None     => out.write(b("null"))
      }
    case ind: PdfIndirect =>
      refTarget(ind.num) match { // "%d 0 R" (primitives.go:530-532)
        case Some(n2) => out.write(b(s"$n2 0 R"))
        case None     => out.write(b("null"))
      }
    case st: PdfStream =>
      refTarget(st.num) match { // "%d 0 R" (primitives.go:540-543)
        case Some(n2) => out.write(b(s"$n2 0 R"))
        case None     => out.write(b("null"))
      }
    case _: InlineImage =>
      throw new PdfError("inline image cannot be serialized as an object")
    case other => throw new PdfError(s"unserializable object: $other")
  }

  def serializeDirect(obj: PdfObj): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    serializeDirect(obj, out, n => Some(n))
    out.toByteArray
  }

  // ----------------------------------------------------------- file framing

  /** Stream dict with /Length replaced by the ACTUAL emitted byte count (a
    * decrypted AES stream is shorter than its stored /Length; emitting the
    * true count keeps the output self-consistent without the reader's
    * length-correction repair). Cloning also drops an indirect /Length ref
    * so its target is not pulled into the output graph.
    */
  private def dictWithLength(d: PdfDict, len: Int): PdfDict = {
    val out = new PdfDict
    var had = false
    for (k <- d.keys) {
      if (k == "Length") { out.set(k, PdfInt(len)); had = true }
      else out.set(k, d.get(k))
    }
    if (!had) out.set("Length", PdfInt(len))
    out
  }

  /** Emit a complete classic-xref PDF: `objects` are (originalNumber,
    * body) pairs where body is the DIRECT object (or a PdfStream);
    * renumbered 1..n in input order. `trailerEntries` come before the
    * Size entry the framing adds itself (reference order Info, Root,
    * Size — writer.go:712-716).
    */
  def writeFile(objects: Seq[(Long, PdfObj)],
                trailerEntries: Seq[(String, PdfObj)],
                major: Int = 1, minor: Int = 3): Array[Byte] = {
    // A duplicate original number would silently corrupt the output:
    // numMap.toMap keeps the last mapping, so two bodies would share one
    // output object number while the xref counts both entries.
    require(objects.map(_._1).distinct.length == objects.length,
      "writeFile: duplicate original object numbers")
    val numMap: Map[Long, Long] =
      objects.map(_._1).zipWithIndex.map { case (o, i) => o -> (i + 1L) }.toMap
    val refTarget = (n: Long) => numMap.get(n)
    val out = new ByteArrayOutputStream()
    out.write(b(s"%PDF-$major.$minor\n"))
    // the binary-detection comment line: the reference emits the UTF-8
    // encoding of "%\u00e2\u00e3\u00cf\u00d3\n" (Go source strings are
    // UTF-8), i.e. TEN bytes 25 C3A2 C3A3 C38F C393 0A (writer.go:671)
    out.write(Array(0x25, 0xc3, 0xa2, 0xc3, 0xa3, 0xc3, 0x8f, 0xc3, 0x93, 0x0a)
      .map(_.toByte))
    val offsets = objects.map { case (oldNum, body) =>
      val off = out.size().toLong
      val n = numMap(oldNum)
      body match {
        case st: PdfStream =>
          out.write(b(s"$n 0 obj\n"))
          serializeDirect(dictWithLength(st.dict, st.raw.length), out, refTarget)
          out.write(b("\nstream\n"))
          out.write(st.raw)
          out.write(b("\nendstream\nendobj\n"))
        case direct =>
          out.write(b(s"$n 0 obj\n"))
          serializeDirect(direct, out, refTarget)
          out.write(b("\nendobj\n"))
      }
      off
    }
    val xrefOffset = out.size().toLong
    // classic xref; NB the reference terminates xref lines with \r\n
    // (writer.go:701-710) while everything else uses \n.
    out.write(b("xref\r\n"))
    out.write(b(s"0 ${objects.length + 1}\r\n"))
    out.write(b(f"${0}%010d ${65535}%05d f\r\n"))
    for (off <- offsets) out.write(b(f"$off%010d ${0}%05d n\r\n"))
    val trailer = new PdfDict
    for ((k, v) <- trailerEntries) trailer.set(k, v)
    trailer.set("Size", PdfInt(objects.length + 1L))
    out.write(b("trailer\n"))
    serializeDirect(trailer, out, refTarget)
    out.write(b("\n"))
    out.write(b(s"startxref\n$xrefOffset\n"))
    out.write(b("%%EOF\n"))
    out.toByteArray
  }

  // ------------------------------------------------------- write encryption

  /** Writer-side encryption parameters (model/writer.go:494-615
    * PdfWriter.Encrypt): RC4-128 = V2/R3, AES-128 = V4/R4 with the AESV2
    * StdCF crypt filter (the reference's RC4_128bit / AES_128bit options).
    * The reference derives /ID and each AES IV from wall-clock time +
    * crypto/rand (writer.go:552-559); we derive them DETERMINISTICALLY from
    * `seed` via md5 chains so gates can pin byte-stable output — the
    * surrounding key material and algorithms are identical.
    */
  final case class WriterEncrypt(userPass: Array[Byte] = Array.emptyByteArray,
                                 ownerPass: Array[Byte] = Array.emptyByteArray,
                                 aes: Boolean = false,
                                 seed: String = "graft")

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val h = CryptoPool.md5()
    parts.foreach(h.update)
    h.digest()
  }

  /** Encrypt every string in a DIRECT object tree with the object key
    * (strings and streams are the encrypted primitives; names/numbers ride
    * in clear — 7.6.2 General Encryption, crypt.go Encrypt).
    */
  private def encryptStrings(obj: PdfObj, okey: Array[Byte], aes: Boolean,
                             nextIv: () => Array[Byte]): PdfObj = obj match {
    case s: PdfStr =>
      PdfStr(if (aes) PdfEncrypt.aesEncrypt(okey, nextIv(), s.bytes)
      else PdfCrypt.rc4(okey, s.bytes))
    case a: PdfArr =>
      new PdfArr(a.items.map(encryptStrings(_, okey, aes, nextIv)))
    case d: PdfDict =>
      val out = new PdfDict
      for (k <- d.keys) out.set(k, encryptStrings(d.get(k), okey, aes, nextIv))
      out
    case other => other
  }

  /** writeFile with standard-security-handler encryption: objects are
    * string/stream-encrypted under their OUTPUT numbers (renumbered 1..n in
    * input order, generation 0 — the same numbering writeFile assigns), the
    * /Encrypt dictionary is appended as an extra clear object, and the
    * trailer gains /Encrypt + /ID. Key material: O via Algorithm 3, file
    * key via Algorithm 2 (128-bit), U via Algorithm 5, per-object keys via
    * the objNum/genNum md5 salt (+"sAlT" for AES) — the reader's own
    * derivations in `object PdfCrypt`.
    */
  def writeFileEncrypted(objects: Seq[(Long, PdfObj)],
                         trailerEntries: Seq[(String, PdfObj)],
                         enc: WriterEncrypt): Array[Byte] = {
    require(objects.nonEmpty, "writeFileEncrypted: no objects")
    val r = if (enc.aes) 4 else 3
    val v = if (enc.aes) 4 else 2
    val id0 = md5(b("graft-wid-" + enc.seed))
    val o = PdfEncrypt.alg3O(enc.ownerPass, enc.userPass, r, 128)
    val key = PdfCrypt.alg2Key(enc.userPass, o, -1, id0, r, 128)
    val u = PdfCrypt.alg5U(key, id0)
    val encObjects = objects.zipWithIndex.map { case ((orig, body), i) =>
      val outNum = i + 1L // writeFile's renumbering, mirrored here
      val okey = PdfCrypt.objectKey(key, outNum, 0, enc.aes)
      var ivCounter = 0
      def nextIv(): Array[Byte] = {
        ivCounter += 1
        java.util.Arrays.copyOf(md5(b(s"${enc.seed}-iv-$outNum-$ivCounter")), 16)
      }
      val newBody: PdfObj = body match {
        case st: PdfStream =>
          val encRaw = if (enc.aes) PdfEncrypt.aesEncrypt(okey, nextIv(), st.raw)
          else PdfCrypt.rc4(okey, st.raw)
          new PdfStream(st.num, 0,
            encryptStrings(st.dict, okey, enc.aes, () => nextIv()).asInstanceOf[PdfDict],
            encRaw)
        case direct => encryptStrings(direct, okey, enc.aes, () => nextIv())
      }
      orig -> newBody
    }
    val encNum = objects.map(_._1).max + 1
    val encDict = PdfDict(
      "Filter" -> PdfName("Standard"), "V" -> PdfInt(v), "R" -> PdfInt(r),
      "Length" -> PdfInt(128), "P" -> PdfInt(-1),
      "O" -> PdfStr(o), "U" -> PdfStr(u))
    if (enc.aes) {
      encDict.set("CF", PdfDict("StdCF" -> PdfDict(
        "Type" -> PdfName("CryptFilter"), "CFM" -> PdfName("AESV2"),
        "Length" -> PdfInt(16))))
      encDict.set("StmF", PdfName("StdCF"))
      encDict.set("StrF", PdfName("StdCF"))
    }
    writeFile(encObjects :+ (encNum -> (encDict: PdfObj)),
      trailerEntries ++ Seq(
        "Encrypt" -> PdfRef(encNum, 0),
        "ID" -> PdfArr(PdfStr(id0), PdfStr(id0))),
      major = 1, minor = if (enc.aes) 5 else 4) // SetVersion(1,5) for AES
  }

  // -------------------------------------------------------- fresh authoring

  /** Author a minimal document with the NewPdfWriter scaffold: Info
    * {Producer, Creator} (writer.go:95-99), Catalog {Type, Pages, Version}
    * (writer.go:105-110, 664-665), Pages {Type, Kids, Count}
    * (writer.go:113-125), one Page + content stream per entry.
    */
  def authorSimple(contentStreams: Seq[Array[Byte]],
                   producer: String = "unidocspark",
                   baseFont: String = "Helvetica"): Array[Byte] = {
    val n = contentStreams.length
    val info = PdfDict(
      "Producer" -> PdfStr.ascii(producer),
      "Creator" -> PdfStr.ascii(producer))
    val catalog = PdfDict(
      "Type" -> PdfName("Catalog"),
      "Pages" -> PdfRef(3, 0),
      "Version" -> PdfName("1.3"))
    val kids = PdfArr(Seq.tabulate(n)(i => PdfRef(4L + i * 2, 0)): _*)
    val pages = PdfDict(
      "Type" -> PdfName("Pages"),
      "Kids" -> kids,
      "Count" -> PdfInt(n),
      "MediaBox" -> PdfArr(PdfInt(0), PdfInt(0), PdfInt(612), PdfInt(792)))
    val objs = mutable.ArrayBuffer[(Long, PdfObj)](
      1L -> info, 2L -> catalog, 3L -> pages)
    for ((content, i) <- contentStreams.zipWithIndex) {
      val pageNum = 4L + i * 2
      val contNum = pageNum + 1
      val page = PdfDict(
        "Type" -> PdfName("Page"),
        "Parent" -> PdfRef(3, 0),
        "Resources" -> PdfDict(
          "Font" -> PdfDict("F1" -> PdfDict(
            "Type" -> PdfName("Font"),
            "Subtype" -> PdfName("Type1"),
            "BaseFont" -> PdfName(baseFont)))),
        "Contents" -> PdfRef(contNum, 0))
      objs += pageNum -> page
      objs += contNum -> new PdfStream(contNum, 0,
        PdfDict("Length" -> PdfInt(content.length)), content)
    }
    writeFile(objs.toSeq,
      Seq("Info" -> PdfRef(1, 0), "Root" -> PdfRef(2, 0)))
  }

  // ---------------------------------------------------------------- rewrite

  /** Load a document and re-emit the object graph reachable from the
    * trailer /Root (and /Info): read -> write -> read -> extract must
    * round-trip the document text. Object streams flatten into classic
    * objects, repaired structures come out normalized, and encrypted
    * documents come out DECRYPTED (lookups decrypt on load; /Encrypt and
    * /ID are dropped from the trailer like the reference's unencrypted
    * write path). Traversal is iterative (explicit stacks — no JVM
    * recursion on hostile nesting) and cycle-guarded by object number.
    */
  def rewrite(data: Array[Byte], passwords: Seq[Array[Byte]] = Nil,
              encrypt: Option[WriterEncrypt] = None): Array[Byte] = {
    val doc = PdfDocument.open(data, passwords) // parses + authenticates
    val parser = doc.parser
    val trailer = parser.trailer
    if (trailer == null) throw new PdfError("no trailer")

    def refOf(o: PdfObj): Option[Long] = o match {
      case PdfRef(n, _)     => Some(n)
      case ind: PdfIndirect => Some(ind.num)
      case st: PdfStream    => Some(st.num)
      case _                => None
    }

    val rootNum = refOf(trailer.get("Root"))
      .getOrElse(throw new PdfError("trailer /Root must be a reference"))
    val infoNum = Option(trailer.get("Info")).flatMap(refOf)

    // DFS from the root; collection order IS output order (deterministic).
    val collected = mutable.LinkedHashMap.empty[Long, PdfObj]
    val visiting = mutable.Stack.empty[Long]
    def childRefs(direct: PdfObj): Seq[Long] = {
      // iterative scan of the nested direct structure for references
      val found = mutable.ArrayBuffer.empty[Long]
      val stack = mutable.Stack.empty[PdfObj]
      stack.push(direct)
      var guard = 0
      while (stack.nonEmpty) {
        guard += 1
        // hostile-nesting cap: FAIL like the kernel's other caps do, never
        // silently drop references (a dropped ref would serialize as null —
        // silent corruption of the rewritten document)
        if (guard > 1000000) throw new PdfError("rewrite: object graph too large")
        stack.pop() match {
          case PdfRef(n, _)     => found += n
          case ind: PdfIndirect => found += ind.num
          case st: PdfStream    => found += st.num
          case a: PdfArr =>
            var i = a.length - 1
            while (i >= 0) { stack.push(a(i)); i -= 1 }
          case d: PdfDict =>
            for (k <- d.keys.reverse) stack.push(d.get(k))
          case _ => ()
        }
      }
      found.toSeq
    }

    def visit(startNum: Long): Unit = {
      visiting.push(startNum)
      while (visiting.nonEmpty) {
        val num = visiting.pop()
        if (!collected.contains(num)) {
          // object numbers beyond the xref table's Int range cannot exist
          // (the Size cap is 8388607); treat them as the missing->null case
          // (crossrefs.go:243-249) instead of truncating through toInt
          val looked =
            if (num < 0 || num > Int.MaxValue) null
            else parser.lookup(num.toInt)
          val body: PdfObj = looked match {
            case ind: PdfIndirect => ind.obj
            case st: PdfStream =>
              // clone the dict with a direct /Length NOW so the old
              // (possibly indirect) length entry is neither walked nor kept
              new PdfStream(st.num, 0, dictWithLength(st.dict, st.raw.length), st.raw)
            case null    => PdfNull
            case direct  => direct
          }
          collected(num) = body
          val scanRoot = body match {
            case st: PdfStream => st.dict
            case other         => other
          }
          for (c <- childRefs(scanRoot).reverse) visiting.push(c)
        }
      }
    }
    visit(rootNum)
    infoNum.foreach(visit)

    val trailerEntries =
      infoNum.map(n => "Info" -> (PdfRef(n, 0): PdfObj)).toSeq :+
        ("Root" -> (PdfRef(rootNum, 0): PdfObj))
    encrypt match {
      case Some(e) => writeFileEncrypted(collected.toSeq, trailerEntries, e)
      case None    => writeFile(collected.toSeq, trailerEntries)
    }
  }
}
