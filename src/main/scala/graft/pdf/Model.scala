package graft.pdf

import scala.collection.mutable

import PdfObjs._

/** Colorspace model, trimmed to what the content-stream processor needs for
  * text extraction: component counts, initial colors, and the error surface
  * (an unknown/invalid colorspace aborts the whole page extraction, matching
  * pdf/contentstream/processor.go:96-127 + extractor error propagation).
  */
sealed trait PdfColorspace { def numComponents: Int }
case object CsDeviceGray extends PdfColorspace { val numComponents = 1 }
case object CsDeviceRGB extends PdfColorspace { val numComponents = 3 }
case object CsDeviceCMYK extends PdfColorspace { val numComponents = 4 }
case object CsPattern extends PdfColorspace { val numComponents = 1 }
case object CsCalGray extends PdfColorspace { val numComponents = 1 }
case object CsCalRGB extends PdfColorspace { val numComponents = 3 }
final case class CsLab(range: Array[Double]) extends PdfColorspace { val numComponents = 3 }
final case class CsICCBased(n: Int, alternate: Option[PdfColorspace]) extends PdfColorspace {
  val numComponents: Int = n
}
/** Indexed palette space (colorspace.go:2118-2249): carries the decoded
  * lookup table so SC/SCN can range-check the palette index (an out-of-range
  * index aborts extraction with partial text, colorspace.go:2229-2249).
  */
final case class CsIndexed(base: Option[PdfColorspace], hiVal: Int,
                           lookup: Array[Byte]) extends PdfColorspace { val numComponents = 1 }
final case class CsSeparation(alternate: Option[PdfColorspace],
                              tint: PdfFunction) extends PdfColorspace { val numComponents = 1 }
final case class CsDeviceN(n: Int, alternate: Option[PdfColorspace],
                           tint: PdfFunction) extends PdfColorspace {
  val numComponents: Int = n
}

object PdfColorspace {
  /** NewPdfColorspaceFromPdfObject equivalent (pdf/model/colorspace.go:58-146,
    * 148-194): name forms for device/pattern spaces; array forms for the
    * parameterized families. Unknown -> error.
    */
  def fromObject(obj0: PdfObj, resolve: PdfObj => PdfObj): PdfColorspace = {
    var obj = obj0
    obj match {
      case io: PdfIndirect => obj = io.obj
      case _               =>
    }
    obj match {
      case r: PdfRef => obj = PdfObjs.traceToDirect(resolve(r))
      case _         =>
    }
    obj match {
      case PdfName(n) =>
        n match {
          case "DeviceGray" => CsDeviceGray
          case "DeviceRGB"  => CsDeviceRGB
          case "DeviceCMYK" => CsDeviceCMYK
          case "Pattern"    => CsPattern
          case "CalGray"    => CsCalGray
          case "CalRGB"     => CsCalRGB
          case "Lab"        => CsLab(Array(0, 100, -100, 100, -100, 100))
          case _            => throw new PdfError(s"Unknown colorspace ($n)")
        }
      case arr: PdfArr if arr.length > 0 =>
        PdfObjs.traceToDirect(resolve(arr(0))) match {
          case PdfName(n) =>
            n match {
              case "DeviceGray" if arr.length == 1 => CsDeviceGray
              case "DeviceRGB" if arr.length == 1  => CsDeviceRGB
              case "DeviceCMYK" if arr.length == 1 => CsDeviceCMYK
              case "CalGray"                       => CsCalGray
              case "CalRGB"                        => CsCalRGB
              case "Lab" =>
                val range = Array(0.0, 100.0, -100.0, 100.0, -100.0, 100.0)
                if (arr.length > 1) {
                  PdfObjs.traceToDirect(resolve(arr(1))) match {
                    case d: PdfDict =>
                      d.get("Range") match {
                        case ra: PdfArr if ra.length == 4 =>
                          val vals = ra.items.map {
                            case PdfInt(v)  => v.toDouble
                            case PdfReal(v) => v
                            case _          => throw new PdfError("Range invalid")
                          }
                          range(2) = vals(0); range(3) = vals(1)
                          range(4) = vals(2); range(5) = vals(3)
                        case null => ()
                        case _    => throw new PdfError("Range invalid")
                      }
                    case _ =>
                  }
                }
                CsLab(range)
              case "ICCBased" =>
                if (arr.length < 2) throw new PdfError("ICCBased missing stream")
                PdfObjs.traceToDirect(resolve(arr(1))) match {
                  case s: PdfStream =>
                    val n = s.dict.get("N") match {
                      case PdfInt(v) => v.toInt
                      case _         => throw new PdfError("ICC Based colorspace invalid N")
                    }
                    val alt = s.dict.get("Alternate") match {
                      case null => None
                      case a    => Some(fromObject(a, resolve))
                    }
                    CsICCBased(n, alt)
                  case _ => throw new PdfError("ICCBased not pointing to stream")
                }
              case "Pattern" =>
                CsPattern
              case "Indexed" =>
                // colorspace.go:2139-2227: exactly 4 entries; base may not be
                // Indexed/Pattern (checked by NAME before the base loads);
                // hival must be a number <= 255; the lookup table is a string
                // or stream and is trimmed to N*(hiVal+1) when long enough
                // (short tables load with only a debug note).
                if (arr.length != 4) throw new PdfError("Indexed CS: invalid array length")
                val baseName = PdfObjs.traceToDirect(resolve(arr(1))) match {
                  case PdfName(bn) => bn
                  case ba: PdfArr if ba.length > 0 =>
                    PdfObjs.traceToDirect(resolve(ba(0))) match {
                      case PdfName(bn) => bn
                      case _           => ""
                    }
                  case _ => ""
                }
                if (baseName == "Indexed" || baseName == "Pattern")
                  throw new PdfError("Range check error")
                val base = fromObject(arr(1), resolve)
                val hiVal = PdfObjs.traceToDirect(resolve(arr(2))) match {
                  case PdfInt(v)  => v
                  case PdfReal(v) => v.toLong
                  case _          => throw new PdfError("Indexed CS: invalid hival")
                }
                if (hiVal > 255) throw new PdfError("Indexed CS: Invalid hival")
                val data = PdfObjs.traceToDirect(resolve(arr(3))) match {
                  case s: PdfStr    => s.bytes
                  case st: PdfStream => Filters.decodeStream(st, resolve)
                  case _            => throw new PdfError("Indexed CS: Invalid table format")
                }
                val want = base.numComponents * (hiVal.toInt + 1)
                val lookup = if (data.length < want) data else data.take(want)
                CsIndexed(Some(base), hiVal.toInt, lookup)
              case "Separation" =>
                // colorspace.go:2370-2426: exactly 4 entries; colorant name
                // is NOT traced; the tint function loads (and validates) at
                // colorspace-set time.
                if (arr.length != 4) throw new PdfError("Separation CS: Incorrect array length")
                arr(1) match {
                  case PdfName(_) => ()
                  case _          => throw new PdfError("Separation CS: Invalid colorant name")
                }
                val alt = fromObject(arr(2), resolve)
                val tint = PdfFunction.fromObject(arr(3), resolve)
                CsSeparation(Some(alt), tint)
              case "DeviceN" =>
                // colorspace.go:2577-2643: 4 or 5 entries; names traced to an
                // array; optional attributes dict validated.
                if (arr.length != 4 && arr.length != 5)
                  throw new PdfError("DeviceN CS: Incorrect array length")
                val names = PdfObjs.traceToDirect(resolve(arr(1))) match {
                  case na: PdfArr => na.length
                  case _          => throw new PdfError("DeviceN CS: Invalid names array")
                }
                val alt = fromObject(arr(2), resolve)
                val tint = PdfFunction.fromObject(arr(3), resolve)
                if (arr.length == 5) validateDeviceNAttributes(arr(4), resolve)
                CsDeviceN(names, Some(alt), tint)
              case other => throw new PdfError(s"Unknown colorspace ($other)")
            }
          case _ => throw new PdfError("Colorspace array first element not a name")
        }
      case _ => throw new PdfError("Unknown colorspace object")
    }
  }

  /** newPdfColorspaceDeviceNAttributesFromPdfObject (colorspace.go:2757-2799):
    * must be a dict (possibly indirect); Subtype, when present, must trace to
    * a name.
    */
  private def validateDeviceNAttributes(obj0: PdfObj, resolve: PdfObj => PdfObj): Unit = {
    val obj = obj0 match {
      case r: PdfRef => resolve(r)
      case o         => o
    }
    val dict = obj match {
      case io: PdfIndirect =>
        io.obj match {
          case d: PdfDict => d
          case _          => throw new PdfError("Type error")
        }
      case d: PdfDict => d
      case _          => throw new PdfError("Type error")
    }
    dict.get("Subtype") match {
      case null => ()
      case s =>
        PdfObjs.traceToDirect(resolve(s)) match {
          case PdfName(_) => ()
          case _          => throw new PdfError("Type error")
        }
    }
  }
}

/** Page resources (pdf/model/resources.go): for extraction only the /Font
  * dictionary and the parsed /ColorSpace map matter.
  */
final class PdfResources(
    val font: PdfObj, // raw /Font entry (dict or ref), traced on lookup
    val colorspaces: Map[String, PdfColorspace]) {

  /** GetFontByName (pdf/model/resources.go:217-233). */
  def getFontByName(name: String): Option[PdfObj] = {
    if (font == null) return None
    PdfObjs.traceToDirect(font) match {
      case d: PdfDict =>
        d.get(name) match {
          case null => None
          case o    => Some(o)
        }
      case _ => None
    }
  }
}

object PdfResources {
  val empty = new PdfResources(null, Map.empty)

  /** NewPdfPageResourcesFromDict + colorspace-map construction
    * (pdf/model/page.go:879-907). Colorspace parse errors propagate: they
    * fail the page load, hence the document row.
    */
  def fromDict(dict: PdfDict, resolve: PdfObj => PdfObj): PdfResources = {
    val font = dict.get("Font")
    val csMap = mutable.HashMap.empty[String, PdfColorspace]
    var csObj = dict.get("ColorSpace")
    if (csObj != null && csObj != PdfNull) {
      csObj match {
        case io: PdfIndirect => csObj = io.obj
        case r: PdfRef       => csObj = PdfObjs.traceToDirect(resolve(r))
        case _               =>
      }
      csObj match {
        case d: PdfDict =>
          for (k <- d.keys) csMap(k) = PdfColorspace.fromObject(d.get(k), resolve)
        case _ => throw new PdfError("CS attribute type error")
      }
    }
    new PdfResources(font, csMap.toMap)
  }
}

/** One page: its resources and the raw Contents object. */
final class PdfPage(val dict: PdfDict, val resources: PdfResources, val contents: PdfObj)

/** Document model over the file parser: trailer -> catalog -> page tree with
  * cycle guards and inherited Resources (pdf/model/reader.go:136-225,
  * 509-595; pdf/model/page.go:87-310, 404-441).
  */
final class PdfDocument(val parser: PdfFileParser,
                        val passwords: Seq[Array[Byte]] = Nil) {
  private val traversed = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[PdfObj, java.lang.Boolean]())

  val pages: Seq[PdfPage] = loadStructure()

  private def resolve(o: PdfObj): PdfObj = o match {
    case r: PdfRef => parser.lookup(r.num.toInt)
    case other     => other
  }

  /** traceToObject: resolve reference chains with a circular guard
    * (pdf/model/reader.go:228-252).
    */
  private def traceToObject(obj0: PdfObj): PdfObj = {
    var obj = obj0
    val seen = mutable.HashSet.empty[(Long, Long)]
    while (obj.isInstanceOf[PdfRef]) {
      val r = obj.asInstanceOf[PdfRef]
      if (seen.contains((r.num, r.gen))) throw new PdfError("Circular reference")
      seen += ((r.num, r.gen))
      obj = parser.lookup(r.num.toInt)
    }
    obj
  }

  private def loadStructure(): Seq[PdfPage] = {
    if (parser.isEncrypted) setupDecryption()
    val trailerDict = parser.trailer
    if (trailerDict == null) throw new PdfError("Missing trailer")
    val root = trailerDict.get("Root") match {
      case r: PdfRef => r
      case _         => throw new PdfError("Invalid Root (trailer)")
    }
    val catalog = parser.lookup(root.num.toInt) match {
      case io: PdfIndirect =>
        io.obj match {
          case d: PdfDict => d
          case _          => throw new PdfError("Invalid catalog")
        }
      case _ => throw new PdfError("Missing catalog")
    }
    val pagesRef = catalog.get("Pages") match {
      case r: PdfRef => r
      case _         => throw new PdfError("Pages in catalog should be a reference")
    }
    val ppages = parser.lookup(pagesRef.num.toInt) match {
      case io: PdfIndirect => io
      case _               => throw new PdfError("Pages object invalid")
    }
    val pagesDict = ppages.obj match {
      case d: PdfDict => d
      case _          => throw new PdfError("Pages object invalid")
    }
    pagesDict.get("Count") match {
      case PdfInt(_) => ()
      case _         => throw new PdfError("Pages count invalid")
    }
    val out = mutable.ArrayBuffer.empty[PdfPage]
    val visited = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[PdfObj, java.lang.Boolean]())
    buildPageList(ppages, null, visited, out, depth = 0)
    // Outlines and AcroForm load AFTER pages; their failures abort the
    // document just like the reference (reader.go:212-224).
    loadOutlines(catalog)
    loadForms(catalog)
    out.toSeq
  }

  /** loadOutlines + buildOutlineTree (reader.go:259-404, outlines.go:124-157):
    * walk First/Next chains, validating Title (traced string) and Count (int).
    * The reference recurses unguarded (cycles crash it); we stop at revisits
    * instead of hanging — a deliberate robustness divergence (COVERAGE.md).
    */
  private def loadOutlines(catalog: PdfDict): Unit = {
    val outlinesObj = catalog.get("Outlines")
    if (outlinesObj == null) return
    traceToObject(outlinesObj) match {
      case PdfNull => ()
      case io: PdfIndirect =>
        io.obj match {
          case _: PdfDict =>
            val visited = java.util.Collections.newSetFromMap(
              new java.util.IdentityHashMap[PdfObj, java.lang.Boolean]())
            buildOutlineTree(io, visited, depth = 0)
          case _ => throw new PdfError("Outline indirect object should contain a dictionary")
        }
      case _ => throw new PdfError("Outline root should be an indirect object")
    }
  }

  /** An item's Title must trace to a string (outlines.go:143-146). */
  private def checkTitle(dict: PdfDict): Unit =
    PdfObjs.traceToDirect(traceToObject(dict.get("Title"))) match {
      case _: PdfStr => ()
      case _         => throw new PdfError("Title not a string")
    }

  /** Validate one outline sibling chain in DOCUMENT order (the reference's
    * buildOutlineTree walk, reader.go:259-404 — so validation errors fire in
    * the same order). `obj` is the traced head; Next chains are followed
    * ITERATIVELY (a million-sibling flat outline must not recurse a million
    * deep), and only from items.
    */
  private def buildOutlineTree(obj: PdfObj, visited: java.util.Set[PdfObj], depth: Int): Unit = {
    if (depth > 1000) throw new PdfError("outline nesting depth exceeded")
    var node = obj
    while (node != null) {
      node match {
        case io: PdfIndirect =>
          if (visited.contains(io)) node = null // cycle: stop (see loadOutlines doc)
          else {
            visited.add(io)
            node = outlineNode(io, visited, depth) match {
              case null => null
              case next =>
                traceToObject(next) match {
                  case PdfNull => null
                  case no      => no
                }
            }
          }
        case _ => throw new PdfError("Outline container not an indirect object")
      }
    }
  }

  /** One outline node: an ITEM (it has a Title) needs a string Title and an
    * int Count; its First child chain is validated before its siblings.
    * Returns the item's raw Next, or null when the node is not an item.
    */
  private def outlineNode(io: PdfIndirect, visited: java.util.Set[PdfObj], depth: Int): PdfObj = {
    val dict = io.obj match {
      case d: PdfDict => d
      case _          => throw new PdfError("Not a dictionary object")
    }
    val isItem = dict.get("Title") != null
    if (isItem) {
      checkTitle(dict)
      dict.get("Count") match {
        case null | PdfInt(_) => ()
        case _                => throw new PdfError("Count not an integer")
      }
    }
    dict.get("First") match {
      case null => ()
      case f =>
        traceToObject(f) match {
          case PdfNull => ()
          case fo      => buildOutlineTree(fo, visited, depth + 1)
        }
    }
    if (isItem) dict.get("Next") else null
  }

  /** loadForms (reader.go:447-498): AcroForm must trace to a dictionary (or
    * null/absent); its subgraph is resolved in place.
    */
  private def loadForms(catalog: PdfDict): Unit = {
    val obj = catalog.get("AcroForm")
    if (obj == null) return
    val direct = PdfObjs.traceToDirect(traceToObject(obj))
    direct match {
      case null | PdfNull => ()
      case d: PdfDict     => traverseObjectData(d)
      case _              => throw new PdfError("Invalid acroform entry")
    }
  }

  /** Build the crypter from the trailer /Encrypt dict and authenticate with
    * the empty password (the pipeline has no interactive passwords; the
    * reference's Decrypt() likewise falls back to "").
    */
  private def setupDecryption(): Unit = {
    val encObj = parser.trailer.get("Encrypt")
    var encIndirect: PdfIndirect = null
    val ed = encObj match {
      case d: PdfDict => d
      case r: PdfRef =>
        parser.lookup(r.num.toInt) match {
          case io: PdfIndirect =>
            encIndirect = io
            io.obj match {
              case d: PdfDict => d
              case _          => throw new PdfError("Trailer Encrypt object non dictionary")
            }
          case _ => throw new PdfError("Encryption object not an indirect object")
        }
      case _ => throw new PdfError("unsupported Encrypt type")
    }
    val crypt = PdfCrypt.makeNew(ed, parser.trailer, resolve)
    if (encIndirect != null) crypt.markDecrypted(encIndirect)
    val ok = passwords.exists(pw => crypt.authenticate(pw)) ||
      crypt.authenticate(Array.emptyByteArray)
    if (!ok) throw new PdfError("encrypted document: password rejected")
    // Everything cached so far was parsed pre-decryption: drop it so
    // subsequent lookups decrypt (the Encrypt object stays marked).
    val encNum = encObj match { case r: PdfRef => r.num.toInt; case _ => -1 }
    parser.objCache.filterInPlace((k, _) => k == encNum)
    parser.crypter = crypt
  }

  /** pdf/model/reader.go:509-595. */
  private def buildPageList(node: PdfIndirect, parent: PdfIndirect,
                            visited: java.util.Set[PdfObj],
                            out: mutable.ArrayBuffer[PdfPage], depth: Int): Unit = {
    if (node == null) return
    if (depth > 1000) throw new PdfError("page tree nesting depth exceeded")
    if (visited.contains(node)) return // cyclic recursion: skip
    visited.add(node)
    val nodeDict = node.obj match {
      case d: PdfDict => d
      case _          => throw new PdfError("Node not a dictionary")
    }
    val objType = nodeDict.get("Type") match {
      case PdfName(n) => n
      case _          => throw new PdfError("Node missing Type (Required)")
    }
    if (objType == "Page") {
      if (parent != null) nodeDict.set("Parent", parent)
      out += newPageFromDict(nodeDict)
      return
    }
    if (objType != "Pages")
      throw new PdfError("Table of content containing non Page/Pages object!")
    if (parent != null) nodeDict.set("Parent", parent)
    traverseObjectData(node)
    val kidsObj = parser.trace(nodeDict.get("Kids") match {
      case null => throw new PdfError("Invalid Kids object")
      case k    => k
    })
    val kids = kidsObj match {
      case a: PdfArr => a
      case io: PdfIndirect =>
        io.obj match {
          case a: PdfArr => a
          case _         => throw new PdfError("Invalid Kids indirect object")
        }
      case _ => throw new PdfError("Invalid Kids object")
    }
    for (child <- kids.items) {
      child match {
        case io: PdfIndirect => buildPageList(io, node, visited, out, depth + 1)
        case _               => throw new PdfError("Page not indirect object")
      }
    }
  }

  /** In-place recursive reference resolution with a visited guard
    * (pdf/model/reader.go:627-701).
    */
  private def traverseObjectData(o: PdfObj): Unit = traverseObjectData(o, 0)

  private def traverseObjectData(o: PdfObj, depth: Int): Unit = {
    if (o == null || traversed.contains(o)) return
    if (depth > 1000) throw new PdfError("object graph nesting depth exceeded")
    traversed.add(o)
    o match {
      case io: PdfIndirect => traverseObjectData(io.obj, depth + 1)
      case so: PdfStream   => traverseObjectData(so.dict, depth + 1)
      case dict: PdfDict =>
        for (name <- dict.keys) {
          dict.get(name) match {
            case ref: PdfRef =>
              val resolved = parser.lookup(ref.num.toInt)
              dict.set(name, resolved)
              traverseObjectData(resolved, depth + 1)
            case v => traverseObjectData(v, depth + 1)
          }
        }
      case arr: PdfArr =>
        var i = 0
        while (i < arr.length) {
          arr(i) match {
            case ref: PdfRef =>
              val resolved = parser.lookup(ref.num.toInt)
              arr(i) = resolved
              traverseObjectData(resolved, depth + 1)
            case v => traverseObjectData(v, depth + 1)
          }
          i += 1
        }
      case _: PdfRef => throw new PdfError("Reader tracing a reference!")
      case _         => ()
    }
  }

  /** newPdfPageFromDict, trimmed to extraction-relevant attributes:
    * Type check, Resources (with the Parent-chain inheritance of
    * page.go:404-441), MediaBox validation, Contents.
    */
  private def newPageFromDict(d: PdfDict): PdfPage = {
    d.get("Type") match {
      case PdfName("Page") => ()
      case PdfName(_)      => throw new PdfError("Page dictionary Type != Page")
      case _               => throw new PdfError("Missing/Invalid Page dictionary Type")
    }
    // LastModified must be a date-formatted string when present
    // (page.go:112-124, structures.go:89-101).
    d.get("LastModified") match {
      case null => ()
      case lm =>
        PdfObjs.traceToDirect(traceToObject(lm)) match {
          case str: PdfStr =>
            val txt = new String(str.bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
            if (!PdfDocument.reDate.matcher(txt).find())
              throw new PdfError(s"Invalid date string ($txt)")
          case _ => throw new PdfError("Page dictionary LastModified != string")
        }
    }
    val resources: PdfResources = d.get("Resources") match {
      case null =>
        inheritedResources(d) match {
          case Some(r) => r
          case None    => PdfResources.empty
        }
      case robj =>
        PdfObjs.traceToDirect(traceToObject(robj)) match {
          case rd: PdfDict => PdfResources.fromDict(rd, resolve)
          case _           => throw new PdfError("Invalid resource dictionary")
        }
    }
    // Box validation (errors on malformed boxes propagate; page.go:160-228,
    // structures.go:31-60: array of exactly 4 direct numbers).
    for (box <- Seq("MediaBox", "CropBox", "BleedBox", "TrimBox", "ArtBox")) {
      d.get(box) match {
        case null => ()
        case mb =>
          PdfObjs.traceToDirect(traceToObject(mb)) match {
            case a: PdfArr =>
              if (a.length != 4) throw new PdfError("Invalid rectangle array, len != 4")
              a.items.foreach {
                case PdfInt(_) | PdfReal(_) => ()
                case _                      => throw new PdfError("Not a number")
              }
            case _ => throw new PdfError(s"Page $box not an array")
          }
      }
    }
    // Rotate must trace to an integer (page.go:232-246).
    d.get("Rotate") match {
      case null => ()
      case r =>
        PdfObjs.traceToDirect(traceToObject(r)) match {
          case PdfInt(_) => ()
          case _         => throw new PdfError("Invalid Page Rotate object")
        }
    }
    loadAnnotations(d)
    new PdfPage(d, resources, d.get("Contents"))
  }

  import PdfDocument.{knownSubtypes, markupSubtypes}

  /** LoadAnnotations (page.go:312-362 + annotations.go:610-990): Annots must
    * trace to an array; members are null (skipped), inline dicts, or
    * indirect dicts. The subtype dispatch errors are replicated in full:
    *  - Subtype present but not a name -> error;
    *  - UNKNOWN subtype name -> "Unknown annotation (...)" error (the
    *    reference aborts the whole document on vendor subtypes);
    *  - missing Subtype -> tolerated (context nil);
    *  - markup subtypes validate /Popup: must be an indirect object (or
    *    null) whose annotation's subtype IS Popup, recursively validated.
    */
  private def loadAnnotations(d: PdfDict): Unit = {
    val annotsObj = d.get("Annots")
    if (annotsObj == null) return
    val arr = PdfObjs.traceToDirect(traceToObject(annotsObj)) match {
      case a: PdfArr => a
      case _         => throw new PdfError("Annots not an array")
    }
    for (el <- arr.items) {
      traceToObject(el) match {
        case PdfNull => ()
        case obj =>
          val dict = obj match {
            case ad: PdfDict => ad
            case io: PdfIndirect =>
              io.obj match {
                case ad: PdfDict => ad
                case _ => throw new PdfError("Annotation indirect object not containing a dictionary")
              }
            case _ => throw new PdfError("Annotation not in an indirect object")
          }
          validateAnnotation(dict, depth = 0)
      }
    }
  }

  /** newPdfAnnotationFromIndirectObject's validation surface. Returns the
    * subtype name (null when absent — context nil in the reference).
    */
  private def validateAnnotation(dict: PdfDict, depth: Int): String = {
    if (depth > 100) throw new PdfError("annotation nesting depth exceeded")
    dict.get("Subtype") match {
      case null => null // missing Subtype tolerated (annotations.go:692-697)
      case PdfName(name) =>
        if (!knownSubtypes.contains(name))
          throw new PdfError(s"Unknown annotation ($name)")
        if (markupSubtypes.contains(name)) validateMarkupPopup(dict, depth)
        name
      case _ => throw new PdfError("Invalid Subtype object type != name")
    }
  }

  /** newPdfAnnotationMarkupFromDict's /Popup check (annotations.go:944-962):
    * a non-null Popup must be an INDIRECT object whose annotation validates
    * and whose subtype is Popup.
    */
  private def validateMarkupPopup(d: PdfDict, depth: Int): Unit = {
    d.get("Popup") match {
      case null | PdfNull => ()
      case io: PdfIndirect =>
        val pd = io.obj match {
          case x: PdfDict => x
          case _ => throw new PdfError("Annotation indirect object not containing a dictionary")
        }
        val sub = validateAnnotation(pd, depth + 1)
        if (sub != "Popup") throw new PdfError("Popup not referring to a popup annotation!")
      case r: PdfRef =>
        // lazily-resolved reference: the reference sees a PdfIndirectObject
        // here (its graph is pre-traversed); resolve to match.
        resolve(r) match {
          case io: PdfIndirect =>
            val pd = io.obj match {
              case x: PdfDict => x
              case _ => throw new PdfError("Annotation indirect object not containing a dictionary")
            }
            val sub = validateAnnotation(pd, depth + 1)
            if (sub != "Popup") throw new PdfError("Popup not referring to a popup annotation!")
          case _ => throw new PdfError("Popup should point to an indirect object")
        }
      case _ => throw new PdfError("Popup should point to an indirect object")
    }
  }

  /** Inherited resources via the Parent chain (pdf/model/page.go:404-441). */
  private def inheritedResources(d: PdfDict): Option[PdfResources] = {
    var node = d.get("Parent")
    // Cycle/depth guard + deadline poll: a self- or mutually-referencing
    // /Parent chain (which buildPageList's cycle set does not rewrite for
    // the ROOT node) would otherwise spin this allocation-free loop forever
    // — unreachable by the per-document timeout.
    var hops = 0
    while (node != null) {
      hops += 1
      if (hops > 1000) throw new PdfError("Parent chain too deep or cyclic")
      Deadline.check()
      val dict = node match {
        case io: PdfIndirect =>
          io.obj match {
            case pd: PdfDict => pd
            case _           => throw new PdfError("Invalid parent objects dictionary")
          }
        case _ => throw new PdfError("Invalid parent object")
      }
      dict.get("Resources") match {
        case null => ()
        case robj =>
          PdfObjs.traceToDirect(robj) match {
            case rd: PdfDict => return Some(PdfResources.fromDict(rd, resolve))
            case _           => throw new PdfError("Invalid resource dict!")
          }
      }
      node = dict.get("Parent")
    }
    None
  }

  /** getContentStreamAsString (pdf/model/page.go:802-816): a content holder
    * is either a direct string or a stream to decode.
    */
  private def contentStreamBytes(cstreamObj: PdfObj): Array[Byte] = {
    val resolved = PdfObjs.traceToDirect(resolve(cstreamObj)) match {
      case null  => throw new PdfError("Invalid content stream object holder")
      case other => other
    }
    resolved match {
      case s: PdfStr    => s.bytes
      case st: PdfStream => Filters.decodeStream(st, identity)
      case _            => throw new PdfError("Invalid content stream object holder")
    }
  }

  /** GetContentStreams (pdf/model/page.go:819-845): each decoded stream. */
  def contentStreams(page: PdfPage): Seq[Array[Byte]] = {
    if (page.contents == null) return Nil
    val contents = PdfObjs.traceToDirect(resolve(page.contents))
    contents match {
      case arr: PdfArr => arr.items.toSeq.map(contentStreamBytes)
      case _           => Seq(contentStreamBytes(contents))
    }
  }

  /** GetAllContentStreams (pdf/model/page.go:848-854): decode every content
    * stream of the page and join with a single space.
    */
  def allContentStreams(page: PdfPage): Array[Byte] = {
    val parts: Seq[Array[Byte]] = contentStreams(page)
    if (parts.isEmpty) Array.emptyByteArray
    else if (parts.length == 1) parts.head
    else {
      val out = new java.io.ByteArrayOutputStream()
      var first = true
      for (p <- parts) {
        if (!first) out.write(' ')
        out.write(p)
        first = false
      }
      out.toByteArray
    }
  }

  def resolveObj(o: PdfObj): PdfObj = resolve(o)
}

object PdfDocument {
  /** PDF date string pattern (structures.go:86). */
  private[pdf] val reDate = java.util.regex.Pattern.compile(
    "[\\t\\n\\f\\r ]*D[\\t\\n\\f\\r ]*:[\\t\\n\\f\\r ]*(\\d{4})(\\d{2})(\\d{2})(\\d{2})(\\d{2})(\\d{2})([+\\-Z])?(\\d{2})?'?(\\d{2})?")

  /** Open a document from raw bytes: xrefs + trailer + page tree. */
  def open(data: Array[Byte]): PdfDocument = open(data, Nil)

  def open(data: Array[Byte], passwords: Seq[Array[Byte]]): PdfDocument = {
    val p = new PdfFileParser(data)
    p.load()
    new PdfDocument(p, passwords)
  }

  /** The reference's annotation subtype switch (annotations.go:610-935):
    * the 28 known subtypes, and the subset loaded through
    * newPdfAnnotationMarkupFromDict (whose /Popup validation is the ONLY
    * error path inside the per-subtype loaders).
    */
  private[pdf] val markupSubtypes: Set[String] = Set("Text", "FreeText", "Line",
    "Square", "Circle", "Polygon", "PolyLine", "Highlight", "Underline",
    "Squiggly", "StrikeOut", "Caret", "Stamp", "Ink", "FileAttachment",
    "Sound", "Projection", "Redact")
  private[pdf] val knownSubtypes: Set[String] = markupSubtypes ++ Set("Link",
    "Popup", "RichMedia", "Movie", "Screen", "Widget", "PrinterMark",
    "TrapNet", "Watermark", "3D")
}
