package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct hashed k-byte shingles of a string, as one native codegen
  * loop (companion to [[MinHashSignature]]; k fixed at construction).
  *
  * Replaces `array_distinct(transform(sequence(...), i ->
  * xxhash64(substr(text, i, k))))`, which allocates a substring per
  * position and runs the lambda interpreted. Here: one pass over the
  * UTF-8 bytes, a rolling window hashed with an FNV/splitmix mix, and
  * in-loop dedup via an open-addressing table.
  */
case class ShingleHashes(child: Expression, k: Int, distinct: Boolean = true)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    new GenericArrayData(
      if (distinct) ShingleHashes.distinctWindowHashes(bytes, k)
      else ShingleHashes.windowHashes(bytes, k))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.ShingleHashes.${if (distinct) "distinctWindowHashes" else "windowHashes"}($c.getBytes(), $k));
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing fingerprints (MOSS) as one native pass: k-byte window
  * hashes → sliding-window-of-w minima via a monotonic deque (O(n)) →
  * distinct in first-occurrence order. Replaces the composable
  * `transform(sequence, i -> array_min(slice(...)))` form, whose
  * interpreted lambdas made corpus-scale fingerprinting the bottleneck
  * (measured 11.5s for the decontamination query at sf0.1). */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    new GenericArrayData(ShingleHashes.winnow(
      ShingleHashes.windowHashes(bytes, k), w))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.ShingleHashes.winnow(
         |    graft.functions.ShingleHashes.windowHashes($c.getBytes(), $k), $w));
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {

  /** Distinct minima of every w-length sliding window over `hashes`
    * (first-occurrence order), O(n) via a monotonic deque. Windows
    * match `transform(sequence(1, max(n-w+1, 1)), i -> array_min(
    * slice(a, i, w)))` exactly, including the n < w single-window case. */
  def winnow(hashes: Array[Long], w: Int): Array[Long] = {
    val n = hashes.length
    val wins = math.max(n - w + 1, 1)
    val deque = new Array[Int](n + 1) // indices, increasing values
    var head = 0
    var tail = 0 // exclusive
    val seen = new java.util.HashSet[java.lang.Long](wins * 2)
    val out = new Array[Long](wins)
    var m = 0
    var i = 0
    while (i < n) {
      while (tail > head && hashes(deque(tail - 1)) >= hashes(i)) tail -= 1
      deque(tail) = i; tail += 1
      val winStart = i - w + 1
      while (deque(head) < winStart) head += 1
      // emit once the first full (or only) window is complete
      if (i >= math.min(w, n) - 1 && (i - w + 1) < wins) {
        val v = hashes(deque(head))
        if (seen.add(v)) { out(m) = v; m += 1 }
      }
      i += 1
    }
    java.util.Arrays.copyOf(out, m)
  }
  /** FNV-1a then the splitmix finalizer over the k bytes from `i`
    * (fewer at the end of a short text). */
  private def windowHash(bytes: Array[Byte], i: Int, k: Int): Long =
    Hash64.splitmix64(Hash64.fnv1a(bytes, i, math.min(i + k, bytes.length)))

  /** All k-byte window hashes (FNV-1a then splitmix finalizer) in
    * POSITIONAL order (no dedup) — the input shape winnowing needs.
    * Static so generated code can call it: a tight JIT-friendly loop
    * beats inlined codegen and keeps the generated method small. */
  def windowHashes(bytes: Array[Byte], k: Int): Array[Long] = {
    val n = math.max(bytes.length - k + 1, 1)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = windowHash(bytes, i, k)
      i += 1
    }
    out
  }

  /** Distinct k-byte window hashes (first-occurrence order, in-loop
    * dedup) — the shingle SET for MinHash/Jaccard. */
  def distinctWindowHashes(bytes: Array[Byte], k: Int): Array[Long] = {
    val n = math.max(bytes.length - k + 1, 1)
    val seen = new java.util.HashSet[java.lang.Long](n * 2)
    val out = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      val h = windowHash(bytes, i, k)
      if (seen.add(h)) { out(m) = h; m += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, m)
  }
}
