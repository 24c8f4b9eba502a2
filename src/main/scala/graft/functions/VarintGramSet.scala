package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Delta + LEB128-varint packing of a SORTED dense-id gram set into
  * one binary value — the PAYLOAD lever of the over-broadcast-
  * threshold set-sim verify (VERDICT r11 #5).
  *
  * The 30× measurement chain that motivates this: the over-threshold
  * exchange carries one gram set per candidate row. As raw bigint
  * arrays that is ~8 B/gram + array overhead (~2.2 KB/doc on the
  * measured corpus, 54 GB shuffled at 24.7M candidates → 224 s). A
  * df-capped inverted id-pair join was implemented and measured
  * first: on this corpus the df distribution (tiny vocabulary → most
  * grams are high-df) leaves the residual arrays at ~88% of the full
  * sets, so it moved nothing. Re-keying grams to DENSE dictionary ids
  * (freq-table row_number) makes consecutive sorted ids ~|dict|/|doc|
  * apart, so delta+varint stores them in ~2 B/gram — a ~4× smaller
  * exchange, and a BinaryType column, so no exchange carries any
  * array at all.
  *
  * Format: varint(first id), then varint(gap) per subsequent id, all
  * unsigned LEB128. Ids must be non-negative and strictly ascending
  * (distinct-set semantics — the builder sorts a distinct collect). */
case class VarintDeltaPack(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "varint_delta_pack"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.simpleString}")
  }

  override def nullSafeEval(a: Any): Any =
    VarintGramSet.pack(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VarintGramSet.pack($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Intersection size of two [[VarintDeltaPack]]-packed sets by a
  * two-cursor merge over the varint streams — the packed twin of
  * [[SortedIntersectCount]], no decode allocation. */
case class SortedVarintIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_varint_intersect_count"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def nullSafeEval(a: Any, b: Any): Any =
    VarintGramSet.intersectCount(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VarintGramSet.intersectCount($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VarintGramSet {

  /** Pack a sorted non-negative long array as first + gaps, LEB128. */
  def pack(a: ArrayData): Array[Byte] = {
    val n = a.numElements()
    // worst case 9 bytes per value
    val buf = new Array[Byte](n * 9)
    var pos = 0
    var prev = 0L
    var i = 0
    while (i < n) {
      var v = a.getLong(i) - prev
      prev = a.getLong(i)
      while ((v & ~0x7fL) != 0L) {
        buf(pos) = ((v & 0x7f) | 0x80).toByte; pos += 1
        v >>>= 7
      }
      buf(pos) = v.toByte; pos += 1
      i += 1
    }
    java.util.Arrays.copyOf(buf, pos)
  }

  /** Two-cursor merge count over two packed streams. Values are
    * strictly ascending by the pack contract, so plain equality
    * advance implements set-intersection size. */
  def intersectCount(a: Array[Byte], b: Array[Byte]): Long = {
    var ia = 0
    var ib = 0
    var va = 0L
    var vb = 0L
    var haveA = false
    var haveB = false
    var n = 0L
    while ((haveA || ia < a.length) && (haveB || ib < b.length)) {
      if (!haveA) {
        var shift = 0
        var d = 0L
        var by = 0L
        while ({ by = a(ia) & 0xffL; ia += 1
                 d |= (by & 0x7f) << shift; shift += 7; (by & 0x80) != 0 }) ()
        va += d
        haveA = true
      }
      if (!haveB) {
        var shift = 0
        var d = 0L
        var by = 0L
        while ({ by = b(ib) & 0xffL; ib += 1
                 d |= (by & 0x7f) << shift; shift += 7; (by & 0x80) != 0 }) ()
        vb += d
        haveB = true
      }
      if (va < vb) haveA = false
      else if (va > vb) haveB = false
      else { n += 1; haveA = false; haveB = false }
    }
    n
  }
}
