package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression form of [[TextExtract.extract]] —
  * `extract_text(html: binary) → string`.
  *
  * Why an `Expression` and not the Scala UDF: inside whole-stage codegen a
  * UDF forces an `InternalRow → Row` conversion (CatalystTypeConverters)
  * per call and a megamorphic function dispatch; this node generates a
  * direct static call on the raw `byte[]`, returning a `UTF8String`, so the
  * extractor stays inside the generated loop with zero conversion. Same
  * frozen semantics — both forms delegate to the single
  * [[TextExtract.extract]] implementation pinned by the golden vectors.
  */
case class ExtractTextExpression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == BinaryType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"extract_text needs BINARY input, got ${child.dataType.simpleString}")
    }
  }
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "extract_text"

  override protected def nullSafeEval(input: Any): Any =
    ExtractTextExpression.evalBytes(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ExtractTextExpression.evalBytes($c)")

  override protected def withNewChildInternal(newChild: Expression)
      : ExtractTextExpression = copy(child = newChild)
}

object ExtractTextExpression {

  /** Static entry point shared by interpreted eval and generated code.
    * NOT named `eval`: the case class inherits `eval(InternalRow)`, and a
    * same-named companion method suppresses the static forwarder Janino
    * needs — the clash makes every generated call fail and silently fall
    * back to interpreted mode (caught by the fallback=false spec).
    */
  def evalBytes(bytes: Array[Byte]): UTF8String =
    UTF8String.fromString(TextExtract.extract(bytes))

  /** Column form — the engine's hot-path extractor. (Spark 4's `Column`
    * is connect-agnostic; `classic.ExpressionUtils` is the public bridge
    * between Columns and Catalyst Expressions.)
    */
  def extract_text(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(ExtractTextExpression(ColumnBridge.expr(c)))
  }
}
