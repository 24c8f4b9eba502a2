package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** The splitmix64 finalizer (xor-shift-multiply avalanche) as a native
  * expression. Raw FNV-1a of SHORT strings is not uniform in the high
  * bits (the value is dominated by offset·prime^n for n-byte input),
  * which biases any order-statistic use of the hash — the k-mins
  * distinct sketch (q84) was measured 50%+ high without this. A native
  * Expression rather than Column arithmetic because the finalizer's
  * multiplies must WRAP mod 2^64: under ANSI mode (Spark 4 default) a
  * LongType `*` overflow throws, while [[Hash64.splitmix64]] wraps
  * exactly as the DuckDB oracle's mod-2^64 HUGEINT replay does
  * (graft.ops.HashSql.mulmod64).
  */
case class Splitmix64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "splitmix64"

  override def nullSafeEval(input: Any): Any =
    Hash64.splitmix64(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hash64.splitmix64($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
