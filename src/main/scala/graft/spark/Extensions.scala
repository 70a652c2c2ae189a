package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.Extract

/** Native Catalyst expression for the extraction kernel:
  *
  *   extract_text(binary) -> struct<text string, text_bytes binary,
  *                                  status string, error string, n_spans int>
  *
  * A scalar Expression (not a Scala UDF): it evaluates directly on the
  * internal binary value with no Row encoding round-trip, is null-safe, and
  * composes with any SQL/DataFrame plan. doGenCode emits a static call into
  * the kernel (ExtractTextEval.evalBytes), so the expression participates in
  * whole-stage codegen instead of forcing a CodegenFallback row into the
  * plan — the surrounding pipeline stays fused.
  */
case class ExtractTextExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ExtractTextExpr.schema

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"extract_text requires binary input, got ${child.dataType.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    ExtractTextEval.evalBytes(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.spark.ExtractTextEval.evalBytes($c);")

  override def prettyName: String = "extract_text"
  override protected def withNewChildInternal(newChild: Expression): ExtractTextExpr =
    copy(child = newChild)
}

/** Static kernel entry for both interpreted eval and generated code (top-
  * level object => static forwarder callable from janino-compiled Java).
  */
object ExtractTextEval {
  def evalBytes(input: Array[Byte]): InternalRow = {
    val r = Extract(input)
    InternalRow(
      UTF8String.fromString(r.text),
      r.textBytes,
      UTF8String.fromString(r.status),
      UTF8String.fromString(r.error),
      r.spanEnds.length)
  }
}

object ExtractTextExpr {
  // text_bytes carries the RAW extracted bytes (CLAUDE.md byte-identity
  // rule): `text` is the lossy UTF-8 view; a document whose extracted
  // bytes are not valid UTF-8 is recoverable only through the binary field.
  val schema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("text_bytes", BinaryType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("error", StringType, nullable = false),
    StructField("n_spans", IntegerType, nullable = false)))
}

/** SparkSessionExtensions hook: enable with
  * `spark.sql.extensions=graft.spark.GraftExtensions` (or call
  * `GraftFunctions.register(spark)` on a live session).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftFunctions.extractTextDescriptor)
  }
}

object GraftFunctions {
  val extractTextDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("extract_text"),
    new ExpressionInfo(classOf[ExtractTextExpr].getName, "extract_text"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "extract_text takes exactly one argument")
      ExtractTextExpr(children.head)
    })

  /** Register on an existing session (tests / driver-created sessions). */
  def register(spark: SparkSession): Unit = {
    val (ident, info, builder) = extractTextDescriptor
    spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
  }
}
