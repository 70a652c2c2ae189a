package graft.pdf

import scala.collection.mutable

import PdfObjs._

/** Graphics state: only colorspace/color tracking matters for extraction
  * fidelity because colorspace errors ABORT processing (the extractor then
  * returns partial text + error), matching pdf/contentstream/processor.go.
  */
final case class GraphicsState(
    var colorspaceStroking: PdfColorspace,
    var colorspaceNonStroking: PdfColorspace,
    var colorStroking: AnyRef,
    var colorNonStroking: AnyRef)

/** Content-stream processor (pdf/contentstream/processor.go:197-262), one
  * operation at a time: `step` handles q/Q and the color operators, and the
  * caller then runs its own handler on the same operation. Errors of either
  * abort processing.
  */
final class ContentProcessor(resources: PdfResources) {

  private val stack = mutable.Stack.empty[GraphicsState]
  private var gs: GraphicsState = GraphicsState(CsDeviceGray, CsDeviceGray, grayZero, grayZero)

  /** Process the parser's current operation. Throws PdfError on abort. */
  def step(op: ContentParser): Unit = op.operand match {
    case "q" => stack.push(gs.copy())
    case "Q" =>
      // the reference panics on an unmatched Q (slice underflow); we
      // surface it as the standard abort error (partial text preserved)
      if (stack.isEmpty) throw new PdfError("graphics state stack underflow (unmatched Q)")
      gs = stack.pop()
    case "CS" => handleCS(op, stroking = true)
    case "cs" => handleCS(op, stroking = false)
    case "SC" => handleSC(op, stroking = true, allowPattern = false)
    case "SCN" => handleSC(op, stroking = true, allowPattern = true)
    case "sc" => handleSC(op, stroking = false, allowPattern = false)
    case "scn" => handleSC(op, stroking = false, allowPattern = true)
    case "G" => handleShortcut(op, CsDeviceGray, stroking = true)
    case "g" => handleShortcut(op, CsDeviceGray, stroking = false)
    case "RG" => handleShortcut(op, CsDeviceRGB, stroking = true)
    case "rg" => handleShortcut(op, CsDeviceRGB, stroking = false)
    case "K" => handleShortcut(op, CsDeviceCMYK, stroking = true)
    case "k" => handleShortcut(op, CsDeviceCMYK, stroking = false)
    case _ => ()
  }

  private def grayZero: AnyRef = Array(0.0)

  /** getColorspace (processor.go:96-127): builtins -> resource dict ->
    * CalGray/CalRGB/Lab -> error. NB: the resource-dict lookup dereferences
    * resources unconditionally in the reference (a panic on nil there); we
    * surface that as an abort error.
    */
  private def getColorspace(name: String): PdfColorspace = {
    name match {
      case "DeviceGray" => return CsDeviceGray
      case "DeviceRGB"  => return CsDeviceRGB
      case "DeviceCMYK" => return CsDeviceCMYK
      case "Pattern"    => return CsPattern
      case _            =>
    }
    if (resources == null) throw new PdfError("Unsupported colorspace") // nil deref in reference
    resources.colorspaces.get(name) match {
      case Some(cs) => return cs
      case None     =>
    }
    name match {
      case "CalGray" => CsCalGray
      case "CalRGB"  => CsCalRGB
      case "Lab"     => CsLab(Array(0, 100, -100, 100, -100, 100))
      case _         => throw new PdfError("Unsupported colorspace")
    }
  }

  /** getInitialColor (processor.go:130-194). */
  private def getInitialColor(cs: PdfColorspace): AnyRef = cs match {
    case CsDeviceGray => Array(0.0)
    case CsDeviceRGB  => Array(0.0, 0.0, 0.0)
    case CsDeviceCMYK => Array(0.0, 0.0, 0.0, 1.0)
    case CsCalGray    => Array(0.0)
    case CsCalRGB     => Array(0.0, 0.0, 0.0)
    case l: CsLab =>
      val lv = if (l.range(0) > 0) l.range(0) else 0.0
      val av = if (l.range(2) > 0) l.range(2) else 0.0
      Array(lv, av, 0.0)
    case icc: CsICCBased =>
      icc.alternate match {
        case Some(alt) => getInitialColor(alt)
        case None =>
          icc.n match {
            case 1 => getInitialColor(CsDeviceGray)
            case 3 => getInitialColor(CsDeviceRGB)
            case 4 => getInitialColor(CsDeviceCMYK)
            case _ => throw new PdfError("Alternate space not defined for ICC")
          }
      }
    case idx: CsIndexed =>
      idx.base match {
        case Some(b) => getInitialColor(b)
        case None    => throw new PdfError("Indexed base not specified")
      }
    case sep: CsSeparation =>
      sep.alternate match {
        case Some(a) => getInitialColor(a)
        case None    => throw new PdfError("Alternate space not specified")
      }
    case dn: CsDeviceN =>
      dn.alternate match {
        case Some(a) => getInitialColor(a)
        case None    => throw new PdfError("Alternate space not specified")
      }
    case CsPattern => null // a pattern has no initial color
  }

  private def handleCS(op: ContentParser, stroking: Boolean): Unit = {
    if (op.paramCount < 1) throw new PdfError("Too few parameters")
    if (op.paramCount > 1) throw new PdfError("Too many parameters")
    val name = op.param(0) match {
      case PdfName(n) => n
      case _          => throw new PdfError("Type check error")
    }
    val cs = getColorspace(name)
    val color = getInitialColor(cs)
    if (stroking) { gs.colorspaceStroking = cs; gs.colorStroking = color }
    else { gs.colorspaceNonStroking = cs; gs.colorNonStroking = color }
  }

  /** SC/SCN/sc/scn (processor.go:331-421): param count must equal component
    * count (pattern-space exempt under SCN/scn only).
    */
  private def handleSC(op: ContentParser, stroking: Boolean, allowPattern: Boolean): Unit = {
    val cs = if (stroking) gs.colorspaceStroking else gs.colorspaceNonStroking
    val isPattern = cs == CsPattern
    if (!(allowPattern && isPattern)) {
      if (op.paramCount != cs.numComponents)
        throw new PdfError("Invalid number of parameters")
    }
    val color = colorFromParams(cs, op)
    if (stroking) gs.colorStroking = color else gs.colorNonStroking = color
  }

  private def handleShortcut(op: ContentParser, cs: PdfColorspace, stroking: Boolean): Unit = {
    if (op.paramCount != cs.numComponents)
      throw new PdfError("Invalid number of parameters")
    val color = colorFromParams(cs, op)
    if (stroking) { gs.colorspaceStroking = cs; gs.colorStroking = color }
    else { gs.colorspaceNonStroking = cs; gs.colorNonStroking = color }
  }

  private def num(obj: PdfObj): Double = obj match {
    case PdfInt(v)  => v.toDouble
    case PdfReal(v) => v
    case _          => throw new PdfError("Not a number")
  }

  /** ColorFromPdfObjects per family (pdf/model/colorspace.go): numeric
    * params converted to floats, then the family's ColorFromFloats. Pattern
    * takes a trailing name.
    */
  private def colorFromParams(cs: PdfColorspace, op: ContentParser): AnyRef = cs match {
    case CsPattern =>
      if (op.paramCount < 1) throw new PdfError("Invalid number of parameters")
      op.param(op.paramCount - 1) match {
        case PdfName(n) => n
        case _          => throw new PdfError("Type check error")
      }
    case _ => colorFromFloats(cs, Array.tabulate(op.paramCount)(i => num(op.param(i))))
  }

  /** ColorFromFloats per family (pdf/model/colorspace.go): [0,1] range
    * checks for device/cal spaces; Separation/DeviceN EVALUATE their tint
    * transform and pass the outputs to the alternate space's check —
    * evaluation errors (bad PS program, unsupported Type-3 stitching,
    * out-of-range outputs in the alternate space) abort processing exactly
    * like the reference (colorspace.go:2445-2467, 2666-2681).
    */
  private def colorFromFloats(cs: PdfColorspace, vals: Array[Double]): AnyRef = cs match {
    case CsDeviceGray | CsCalGray =>
      if (vals.length != 1) throw new PdfError("Range check")
      if (vals(0) < 0.0 || vals(0) > 1.0) throw new PdfError("Range check")
      vals
    case CsDeviceRGB | CsCalRGB =>
      if (vals.length != 3) throw new PdfError("Range check")
      if (vals.exists(v => v < 0.0 || v > 1.0)) throw new PdfError("Range check")
      vals
    case CsDeviceCMYK =>
      if (vals.length != 4) throw new PdfError("Range check")
      if (vals.exists(v => v < 0.0 || v > 1.0)) throw new PdfError("Range check")
      vals
    case _: CsLab =>
      if (vals.length != 3) throw new PdfError("Range check")
      vals
    case icc: CsICCBased =>
      icc.alternate match {
        case Some(alt) => colorFromFloats(alt, vals)
        case None =>
          icc.n match {
            case 1 => colorFromFloats(CsDeviceGray, vals)
            case 3 => colorFromFloats(CsDeviceRGB, vals)
            case 4 => colorFromFloats(CsDeviceCMYK, vals)
            case _ => throw new PdfError("ICC Based colorspace missing alternative")
          }
      }
    case idx: CsIndexed =>
      // colorspace.go:2229-2249: the palette INDEX is range-checked against
      // the loaded lookup table; out-of-range aborts (partial text + error).
      // In-range indices resolve through the table and the base space's own
      // ColorFromFloats check.
      if (vals.length != 1) throw new PdfError("Range check")
      val base = idx.base.getOrElse(throw new PdfError("Indexed base not specified"))
      val n = base.numComponents
      val index = vals(0).toInt * n
      if (index < 0 || index + n - 1 >= idx.lookup.length)
        throw new PdfError("Outside range")
      val floats = Array.tabulate(n)(i => (idx.lookup(index + i) & 0xff) / 255.0)
      colorFromFloats(base, floats)
    case sep: CsSeparation =>
      if (vals.length != 1) throw new PdfError("Range check")
      val output = sep.tint.evaluate(vals)
      sep.alternate match {
        case Some(alt) => colorFromFloats(alt, output)
        case None      => throw new PdfError("Alternate space not specified")
      }
    case dn: CsDeviceN =>
      if (vals.length != dn.numComponents) throw new PdfError("Range check")
      val output = dn.tint.evaluate(vals)
      dn.alternate match {
        case Some(alt) => colorFromFloats(alt, output)
        case None      => throw new PdfError("Alternate space not specified")
      }
    case CsPattern => throw new PdfError("Type check error")
  }
}
