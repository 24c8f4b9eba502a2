package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit FNV-1a-style polynomial rolling hash over a string's UTF-8
  * bytes — the document-fingerprinting primitive (SURVEY.md §2B [ext]).
  *
  * A native Catalyst Expression with `doGenCode` rather than a Scala
  * UDF: stays inside whole-stage codegen (no SerDe boundary, no boxing
  * per row), which is the difference between a fingerprint pass being
  * scan-bound vs CPU-bound over 100 TB of text.
  */
case class RollingHash64(child: Expression) extends UnaryExpression {

  final val Offset: Long = 0xcbf29ce484222325L
  final val Prime: Long = 1099511628211L

  // input must be a string column (AbstractDataType/ExpectsInputTypes
  // are private[sql] in Spark 4, so no declarative check here; the
  // GraftFunctions builders are the intended entry point)
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var h = Offset
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xffL)) * Prime
      i += 1
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $h = ${Offset}L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $h = ($h ^ ($bytes[$i] & 0xffL)) * ${Prime}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
