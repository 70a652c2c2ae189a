package graft.pdf

import scala.collection.mutable

/** Programmatic content-stream builder — the text-operator subset of the
  * reference's ContentCreator (contentstream/creator.go Add_* builders,
  * float params as PdfReal) that Creator's layouts use, with the
  * reference's byte layout (contentstream/contentstream.go:78-101: each
  * param DefaultWriteString + one space, then the operand and a newline).
  * Serialization reuses PdfWriter.serializeDirect, so operands like Tj
  * strings get the exact DefaultWriteString escape set; the output parses
  * back through our own ContentParser (round-trip pinned in
  * ContentCreatorSpec).
  */
final class ContentCreator {
  private val ops = mutable.ArrayBuffer.empty[(String, Seq[PdfObj])]

  /** Raw escape hatch (also how the generic Add(op, params...) of the
    * reference behaves).
    */
  def add(operand: String, params: PdfObj*): this.type = {
    ops += ((operand, params))
    this
  }

  def bytes: Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    for ((operand, params) <- ops) {
      for (p <- params) {
        PdfWriter.serializeDirect(p, out, n => Some(n))
        out.write(' ')
      }
      out.write(operand.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      out.write('\n')
    }
    out.toByteArray
  }

  private def f(vals: Double*): Seq[PdfObj] = vals.map(PdfReal(_))

  // ---- text (creator.go:465-611)
  def add_BT(): this.type = add("BT")
  def add_ET(): this.type = add("ET")
  def add_Tf(fontName: String, fontSize: Double): this.type =
    add("Tf", PdfName(fontName), PdfReal(fontSize))
  def add_Td(tx: Double, ty: Double): this.type = add("Td", f(tx, ty): _*)
  def add_Tm(a: Double, b: Double, c: Double, d: Double, e: Double, ff: Double): this.type =
    add("Tm", f(a, b, c, d, e, ff): _*)
  def add_Tj(text: Array[Byte]): this.type = add("Tj", PdfStr(text))
  def add_Tj(text: String): this.type =
    add_Tj(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
