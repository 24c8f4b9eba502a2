package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** DSIR feature buckets (q146) as ONE native pass: hashed unigram +
  * bigram buckets of a single-space-tokenized string —
  * `pmod(rolling_hash(token), B)` for every token, then for every
  * adjacent pair `pmod(rolling_hash(tok_i + " " + tok_{i+1}), B)`,
  * unigrams first then bigrams (the exact order and values of the
  * interpreted `transform(concat(sp, bigrams), t -> pmod(...))` form
  * it replaces — FeatureBucketsSpec differentials).
  *
  * Replication details that make it bit-identical:
  *  - tokenization is Spark `split(text, " ")` semantics: Java
  *    split with limit −1 (trailing empties KEPT, "" → one empty
  *    token) — implemented as a byte scan for 0x20, which is exact
  *    for UTF-8 (no multi-byte sequence contains a space byte);
  *  - FNV-1a is sequential, so each bigram hash CONTINUES the left
  *    token's hash through ' ' and the right token's bytes — the
  *    whole feature set costs one pass over the bytes, no string
  *    allocation at all;
  *  - `B` must be a power of two (the caller's existing contract), so
  *    signed pmod equals `hash & (B-1)`.
  */
case class FeatureBuckets(child: Expression, buckets: Int)
    extends UnaryExpression {
  require((buckets & (buckets - 1)) == 0 && buckets > 0,
    "buckets must be a power of two")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "feature_buckets"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(FeatureBuckets.compute(
      input.asInstanceOf[UTF8String].getBytes, buckets))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.FeatureBuckets.compute($c.getBytes(), $buckets));
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FeatureBuckets {
  /** Static so generated code calls one tight JIT-friendly loop. */
  def compute(bytes: Array[Byte], buckets: Int): Array[Long] = {
    val mask = (buckets - 1).toLong
    // token boundaries: split on 0x20, limit -1 semantics
    var nTok = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') nTok += 1; i += 1 }
    val out = new Array[Long](2 * nTok - 1)
    val uni = new Array[Long](nTok) // full unigram FNV states
    val starts = new Array[Int](nTok + 1)
    var t = 0
    var h = Hash64.FnvOffset
    starts(0) = 0
    i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b == ' ') {
        uni(t) = h
        out(t) = h & mask
        t += 1
        starts(t) = i + 1
        h = Hash64.FnvOffset
      } else {
        h = Hash64.fnvStep(h, b)
      }
      i += 1
    }
    uni(t) = h
    out(t) = h & mask
    starts(nTok) = bytes.length + 1
    // bigrams: continue tok_i's state through ' ' and tok_{i+1} bytes
    var g = 0
    while (g < nTok - 1) {
      var bh = Hash64.fnvStep(uni(g), ' '.toByte)
      var p = starts(g + 1)
      val end = starts(g + 2) - 1
      while (p < end) {
        bh = Hash64.fnvStep(bh, bytes(p))
        p += 1
      }
      out(nTok + g) = bh & mask
      g += 1
    }
    out
  }
}
