package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** MinHash signature over an array of 64-bit shingle hashes, as a
  * native codegen Expression.
  *
  * The composable form — one `array_min(transform(...))` per hash
  * function — evaluates 64 interpreted lambda passes per row (Spark
  * does not codegen higher-order-function lambda bodies), which
  * measured ~15s for 5k docs at sf0.1. This expression computes the
  * whole signature in a single JIT-compiled nested loop: one splitmix64
  * avalanche per (shingle, hash-function) pair, `numHashes` running
  * minima, no intermediate arrays. Same asymptotics, ~50× less
  * constant factor — the difference between a dedup pass being
  * scan-bound vs CPU-bound at 100 TB.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  private lazy val seeds: Array[Long] = MinHashSignature.seeds(numHashes)

  override def nullSafeEval(input: Any): Any =
    MinHashSignature.signature(input.asInstanceOf[ArrayData], seeds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val seedsRef = ctx.addReferenceObj("seeds", seeds, "long[]")
      s"${ev.value} = graft.functions.MinHashSignature.signature($c, $seedsRef);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  /** Deterministic per-hash-function seeds. */
  def seeds(n: Int): Array[Long] =
    Array.tabulate(n)(j => Hash64.splitmix64(0x9e3779b97f4a7c15L * (j + 1)))

  /** Per seed, the minimum of `splitmix64(x ^ seed)` over the shingles.
    * Static so generated code can call it: a tight JIT-friendly loop
    * beats inlined codegen and keeps the generated method small. */
  def signature(shingles: ArrayData, seeds: Array[Long]): GenericArrayData = {
    val k = seeds.length
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val x = shingles.getLong(i)
      var j = 0
      while (j < k) {
        val z = Hash64.splitmix64(x ^ seeds(j))
        if (z < sig(j)) sig(j) = z
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
}
