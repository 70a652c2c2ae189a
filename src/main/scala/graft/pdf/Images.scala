package graft.pdf

import scala.collection.mutable

/** PDF image extraction: enumerate the raster images of every page and
  * decode them to integer samples — the bridge from the PDF kernel to the
  * multimodal pipeline (`graft.ops.Multimodal` consumes the rasters).
  *
  * Re-creates the reference's image surface:
  *  - XObject images: `model/xobject.go:370-446` (NewXObjectImageFromStream:
  *    Width/Height REQUIRED integers after TraceToDirectObject, ColorSpace
  *    via the colorspace factory with missing -> DeviceGray) and
  *    `model/xobject.go:499-539` (ToImage: BitsPerComponent required, stream
  *    decoded through the filter chain, components = colorspace count);
  *  - inline images: `contentstream/inline-image.go:221-301` (ToImage:
  *    ImageMask -> 1 bpc / 1 component; BPC missing -> 8; colorspace
  *    abbreviations G/RGB/CMYK per Table 94, named spaces resolved through
  *    the page resources, missing -> gray) with the abbreviation-aware
  *    filter factory (`inline-image.go` newEncoderFromInlineImage: AHx A85
  *    DCT Fl LZW CCF RL + full names, missing filter -> raw);
  *  - sample unpacking: `model/image.go:50-64` (GetSamples) over
  *    `model/sampling/resample.go:10-98` (ResampleBytes): the data is one
  *    CONTINUOUS bit stream of BitsPerComponent-bit samples (the reference
  *    does NOT re-align at row boundaries), truncated to
  *    width*height*components when longer, returned short when shorter.
  *
  * Beyond the reference (documented deviations, not semantics changes):
  * enumeration recurses into Form XObjects' nested /XObject resources
  * (cycle-guarded, depth-capped) — the reference exposes Form resources
  * (`model/xobject.go:85-100`) but leaves the walk to the caller — and a
  * per-image failure is COUNTED and skipped instead of aborting the
  * document (the kernel's never-throw contract; the reference errors per
  * ToImage call, which a caller would likewise absorb per image).
  */
object PdfImages {

  /** One decoded raster: `data` is the filter-decoded byte stream; `samples`
    * unpacks it per GetSamples. source is "xobject" | "inline".
    */
  final case class PdfImageInfo(page: Int, idx: Int, source: String, name: String,
                                width: Int, height: Int, bpc: Int, components: Int,
                                data: Array[Byte]) {
    /** GetSamples (model/image.go:50-64): resample then cap at w*h*comp;
      * fewer samples than expected are returned as-is (reference logs and
      * returns short).
      */
    def samples: Array[Int] = {
      val all = PdfImages.resampleBytes(data, bpc)
      val expected = width.toLong * height * components
      if (expected >= 0 && all.length > expected) all.take(expected.toInt) else all
    }

    /** Sum of component-0 samples (pixel band 0) — the integer statistic the
      * x43 gate mirrors in SQL.
      */
    def band0Sum: Long = {
      val s = samples
      var i = 0
      var sum = 0L
      val step = math.max(1, components)
      while (i < s.length) { sum += s(i); i += step }
      sum
    }
  }

  final case class ImageScan(images: Seq[PdfImageInfo], nErrors: Int)

  /** sampling.ResampleBytes (resample.go:10-98): MSB-first continuous bit
    * stream cut into `bits`-wide samples; a trailing group short of `bits`
    * bits is dropped. Bounded: output length = len*8/bits.
    */
  def resampleBytes(data: Array[Byte], bits: Int): Array[Int] = {
    if (bits <= 0 || bits > 32 || data.isEmpty) return Array.empty
    val n = ((data.length.toLong * 8) / bits).toInt
    val out = new Array[Int](n)
    var bitPos = 0L
    var i = 0
    while (i < n) {
      var v = 0
      var b = 0
      while (b < bits) {
        val byteIdx = (bitPos >>> 3).toInt
        val bitIdx = (bitPos & 7L).toInt
        v = (v << 1) | ((data(byteIdx) >> (7 - bitIdx)) & 1)
        bitPos += 1
        b += 1
      }
      out(i) = v
      i += 1
    }
    out
  }

  /** Depth cap for Form-XObject recursion (nested form resources). */
  val MaxFormDepth = 4

  /** Enumerate and decode every image of every page: XObject images from the
    * page (and nested Form) resources in dictionary order, then inline
    * images in content-stream order. Per-image failures are counted in
    * nErrors, never thrown.
    */
  def imagesOf(doc: PdfDocument): ImageScan = {
    val out = mutable.ArrayBuffer.empty[PdfImageInfo]
    var errors = 0
    for ((page, pageIdx) <- doc.pages.zipWithIndex) {
      var idx = 0
      // ---- XObject images (+ Form recursion)
      val visited = mutable.HashSet.empty[Long] // stream object numbers
      // Every lookup/trace along the walk stays inside a per-ENTRY try:
      // one corrupt reference must cost one counted error, never the
      // document's other images (the per-image error contract).
      def walkXObjects(xobjEntry: PdfObj, depth: Int): Unit = {
        if (xobjEntry == null || depth > MaxFormDepth) return
        val entries =
          try PdfObjs.traceToDirect(doc.resolveObj(xobjEntry)) match {
            case d: PdfDict => d.keys.map(k => k -> d.get(k))
            case _          => Nil
          } catch { case t: PdfTimeout => throw t
             case _: Exception => errors += 1; Nil }
        for ((name, entry) <- entries) {
          try {
            doc.resolveObj(entry) match {
              case st: PdfStream if visited.add(st.num) =>
                PdfObjs.traceToDirect(doc.resolveObj(st.dict.get("Subtype"))) match {
                  case PdfName("Image") =>
                    out += xobjectImage(doc, st, pageIdx, idx, name)
                    idx += 1
                  case PdfName("Form") =>
                    // nested form resources may hold more images
                    PdfObjs.traceToDirect(doc.resolveObj(st.dict.get("Resources"))) match {
                      case rd: PdfDict => walkXObjects(rd.get("XObject"), depth + 1)
                      case _           => ()
                    }
                  case _ => ()
                }
              case _ => ()
            }
          } catch { case t: PdfTimeout => throw t
            case _: Exception => errors += 1 }
        }
      }
      try {
        PdfObjs.traceToDirect(doc.resolveObj(page.dict.get("Resources"))) match {
          case rd: PdfDict => walkXObjects(rd.get("XObject"), 0)
          case _           => ()
        }
      } catch { case t: PdfTimeout => throw t
        case _: Exception => errors += 1 }
      // ---- inline images, in content order: the page is lexed one
      // operation at a time, keeping only its inline images, and they are
      // decoded after the clean end of stream, so a lex error anywhere on
      // the page costs its inline images and one counted error.
      try {
        val parser = new ContentParser(doc.allContentStreams(page))
        val inline = mutable.ArrayBuffer.empty[InlineImage]
        while (parser.next())
          if (parser.operand == "BI") parser.param(parser.paramCount - 1) match {
            case ii: InlineImage => inline += ii
            case _               => ()
          }
        for (ii <- inline)
          try {
            out += inlineImage(doc, page, ii, pageIdx, idx)
            idx += 1
          } catch { case _: Exception => errors += 1 }
      } catch { case t: PdfTimeout => throw t
        case _: Exception => errors += 1 }
    }
    ImageScan(out.toSeq, errors)
  }

  /** Convenience: open + scan; any open/scan failure is one error, zero
    * images. Extract-style backstop: interrupts and OOM propagate (task
    * cancellation / unreliable heap), everything else — including kernel
    * Errors — becomes the counted failure.
    */
  def imagesOf(data: Array[Byte], passwords: Seq[Array[Byte]] = Nil): ImageScan =
    try imagesOf(PdfDocument.open(data, passwords))
    catch {
      case ie: InterruptedException =>
        Thread.currentThread().interrupt(); throw ie
      case fatal: OutOfMemoryError => throw fatal
      case _: Throwable => ImageScan(Nil, 1)
    }

  /** NewXObjectImageFromStream + ToImage (xobject.go:370-446, 499-539). */
  private def xobjectImage(doc: PdfDocument, st: PdfStream,
                           pageIdx: Int, idx: Int, name: String): PdfImageInfo = {
    val dict = st.dict
    def reqInt(key: String, what: String): Int =
      PdfObjs.traceToDirect(doc.resolveObj(dict.get(key))) match {
        case PdfInt(v) => v.toInt
        case null      => throw new PdfError(s"$what missing")
        case _         => throw new PdfError(s"Invalid image $what object")
      }
    val w = reqInt("Width", "Width")
    val h = reqInt("Height", "Height")
    val comps = PdfObjs.traceToDirect(doc.resolveObj(dict.get("ColorSpace"))) match {
      case null => 1 // "assuming 1 color component" (xobject.go:412-415)
      case cs   => PdfColorspace.fromObject(cs, doc.resolveObj).numComponents
    }
    val bpc = PdfObjs.traceToDirect(doc.resolveObj(dict.get("BitsPerComponent"))) match {
      case PdfInt(v) => v.toInt
      case null      => throw new PdfError("Bits per component missing") // ToImage
      case _         => throw new PdfError("Invalid image height object") // reference msg quirk
    }
    val data = Filters.decodeStream(st, doc.resolveObj)
    PdfImageInfo(pageIdx, idx, "xobject", name, w, h, bpc, comps, data)
  }

  /** inline-image.go:221-301 ToImage + GetColorSpace + the abbreviation
    * filter factory. Inline dict keys may be abbreviated or full
    * (ParseInlineImage accepts both).
    */
  private def inlineImage(doc: PdfDocument, page: PdfPage, ii: InlineImage,
                          pageIdx: Int, idx: Int): PdfImageInfo = {
    def prop(short: String, long: String): PdfObj = {
      val v = ii.props.get(short)
      if (v != null) v else ii.props.get(long)
    }
    def reqInt(short: String, long: String, what: String): Int =
      prop(short, long) match {
        case PdfInt(v) => v.toInt
        case null      => throw new PdfError(s"$what attribute missing")
        case _         => throw new PdfError(s"Invalid $what")
      }
    val w = reqInt("W", "Width", "Width")
    val h = reqInt("H", "Height", "Height")
    val isMask = prop("IM", "ImageMask") match {
      case PdfBool(v) => v
      case null       => false
      case _          => throw new PdfError("Invalid object type")
    }
    val (bpc, comps) =
      if (isMask) (1, 1) // masks are grayscale 1bpc (inline-image.go:262-264)
      else {
        val b = prop("BPC", "BitsPerComponent") match {
          case PdfInt(v) => v.toInt
          case null      => 8 // "assuming 8"
          case _         => throw new PdfError("BPC Type error")
        }
        val c = prop("CS", "ColorSpace") match {
          case null                          => 1 // default gray
          case PdfName("G" | "DeviceGray")   => 1
          case PdfName("RGB" | "DeviceRGB")  => 3
          case PdfName("CMYK" | "DeviceCMYK") => 4
          case PdfName("I" | "Indexed") =>
            throw new PdfError("Unsupported Index colorspace")
          case PdfName(other) =>
            page.resources.colorspaces.get(other) match {
              case Some(cs) => cs.numComponents
              case None     => throw new PdfError("Unknown colorspace")
            }
          case arr: PdfArr => // indexed colorspace array form
            PdfColorspace.fromObject(arr, doc.resolveObj).numComponents
          case _ => throw new PdfError("Type check error")
        }
        (b, c)
      }
    val data = inlineDecode(ii, doc)
    PdfImageInfo(pageIdx, idx, "inline", "", w, h, bpc, comps, data)
  }

  /** Table 94 abbreviations -> canonical filter names. */
  private def canonicalFilter(n: String): String = n match {
    case "AHx" => "ASCIIHexDecode"
    case "A85" => "ASCII85Decode"
    case "DCT" => "DCTDecode"
    case "Fl"  => "FlateDecode"
    case "LZW" => "LZWDecode"
    case "CCF" => "CCITTFaxDecode"
    case "RL"  => "RunLengthDecode"
    case "ASCIIHexDecode" | "ASCII85Decode" | "DCTDecode" | "FlateDecode" |
         "LZWDecode" | "CCITTFaxDecode" | "RunLengthDecode" => n
    case other => throw new PdfError(s"Unsupported inline encoding method: $other")
  }

  /** newEncoderFromInlineImage: build a synthetic stream whose /Filter uses
    * canonical names (+ /DecodeParms from DP) and reuse the stream filter
    * factory — single name, array of names, empty array, or absent -> raw.
    */
  private def inlineDecode(ii: InlineImage, doc: PdfDocument): Array[Byte] = {
    val synth = new PdfDict
    def prop(short: String, long: String): PdfObj = {
      val v = ii.props.get(short)
      if (v != null) v else ii.props.get(long)
    }
    prop("F", "Filter") match {
      case null => ()
      case PdfName(n) => synth.set("Filter", PdfName(canonicalFilter(n)))
      case arr: PdfArr =>
        val mapped = arr.items.map {
          case PdfName(n) => PdfName(canonicalFilter(n)): PdfObj
          case _ => throw new PdfError("Filter array member not a Name object")
        }
        synth.set("Filter", new PdfArr(mapped))
      case _ => throw new PdfError("Filter not a Name or Array object")
    }
    prop("DP", "DecodeParms") match {
      case null => ()
      case dp   => synth.set("DecodeParms", dp)
    }
    synth.set("Length", PdfInt(ii.stream.length))
    Filters.decodeStream(new PdfStream(0, 0, synth, ii.stream), doc.resolveObj)
  }
}
