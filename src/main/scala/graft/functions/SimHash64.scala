package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash over whitespace tokens, as one native codegen pass.
  *
  * Replaces the composable form — nested `aggregate`/`zip_with`
  * higher-order functions — whose lambdas Spark evaluates interpreted,
  * allocating a 64-element array per token per row. Here: one walk over
  * the UTF-8 bytes, tokens hashed in place with Spark's own XXH64
  * (seed 42, matching `xxhash64`), one vote array per row, no
  * intermediate allocations.
  *
  * Token semantics match `split(text, ' ')` with Spark's default
  * limit -1 exactly: boundaries at every 0x20 byte (a space byte never
  * occurs inside a UTF-8 multibyte sequence), empty tokens between
  * consecutive/leading/trailing spaces are kept and hashed, and the
  * empty string yields the single empty token. Bit i of the result is
  * set when the per-bit vote count is >= 0 (ties set the bit).
  */
case class SimHash64(child: Expression, fnv: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = if (fnv) "simhash64_fnv" else "simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[UTF8String].getBytes, fnv)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash64.compute($c.getBytes(), $fnv);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {

  /** Static so generated code can call it: a tight JIT-friendly loop
    * beats inlined codegen and keeps the generated method small.
    * `fnv = true` swaps the token hash to FNV-1a (the DuckDB-replayable
    * q83 form); everything else is identical. */
  def compute(bytes: Array[Byte], fnv: Boolean = false): Long = {
    val votes = new Array[Int](64)
    val n = bytes.length
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        val h =
          if (fnv) Hash64.fnv1a(bytes, start, i)
          else XXH64.hashUnsafeBytes(
            bytes, Platform.BYTE_ARRAY_OFFSET + start, i - start, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        start = i + 1
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) >= 0) sim |= 1L << b
      b += 1
    }
    sim
  }
}
