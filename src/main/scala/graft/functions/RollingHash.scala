package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit FNV-1a hash of a string's UTF-8 bytes — the
  * document-fingerprinting primitive (SURVEY.md §2B [ext]).
  *
  * A native Catalyst Expression with `doGenCode` rather than a Scala
  * UDF: stays inside whole-stage codegen (no SerDe boundary, no boxing
  * per row), which is the difference between a fingerprint pass being
  * scan-bound vs CPU-bound over 100 TB of text.
  */
case class RollingHash64(child: Expression) extends UnaryExpression {

  // input must be a string column (AbstractDataType/ExpectsInputTypes
  // are private[sql] in Spark 4, so no declarative check here; the
  // GraftFunctions builders are the intended entry point)
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(input: Any): Any =
    Hash64.fnv1a(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hash64.fnv1a($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
