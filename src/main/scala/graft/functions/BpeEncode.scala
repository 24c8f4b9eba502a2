package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE encode: tokenize a word under a FROZEN merge-rule table
  * — one leftmost-non-overlapping pass per rule in priority order,
  * the exact Sennrich sequential semantics of the Column fold chain
  * it replaces (BpeIterative.encodeUnderMergesFold /
  * TextAnalysis.bpeEncodeSqlExpr). Those chains build nMerges stacked
  * interpreted `aggregate` lambdas per word (higher-order-function
  * lambdas never codegen — the round-2 rule), so the projection cost
  * grows linearly in rule count even for words most rules can't
  * touch. Here the whole fold runs in ONE codegen'd call, the merge
  * table is parsed once per plan (foldable literal → referenced
  * object, broadcast with the task closure), and a rule is skipped in
  * O(|rule|) when its fused token isn't even a substring of the word
  * — sound because tokens are contiguous substrings of the word, so
  * an adjacent (a, b) pair implies `a+b` occurs in it.
  *
  * Rules arrive as an array<string> literal of `a` + U+001F + `b`
  * per rule (priority order). U+001F is out of band by the trainer's
  * contract (words containing it are excluded up front).
  *
  * Edge divergence, documented: the Column chain's char-split seed is
  * `transform(sequence(1, length(w)), ...)`, and Spark's
  * sequence(1, 0) is [1, 0] — an EMPTY word seeds two empty tokens
  * there; this expression returns an empty array. Every call site
  * filters length >= 1, so the edge is unreachable in queries; the
  * differential spec pins equality on nonempty words. */
case class BpeEncode(word: Expression, rules: Expression)
    extends BinaryExpression {

  override def left: Expression = word
  override def right: Expression = rules
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  override def checkInputDataTypes(): TypeCheckResult =
    if (word.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string word, got ${word.dataType.simpleString}")
    else rules.dataType match {
      case ArrayType(StringType, _) if rules.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a FOLDABLE rule table (a literal array)")
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string> rules, got ${other.simpleString}")
    }

  // parsed once per plan; rides the task closure like a broadcast
  @transient private lazy val table: BpeMergeTable = {
    val arr = rules.eval(null).asInstanceOf[ArrayData]
    BpeMergeTable(Array.tabulate(arr.numElements()) { i =>
      val s = arr.getUTF8String(i).toString
      val cut = s.indexOf('\u001F')
      require(cut > 0 && cut < s.length - 1,
        s"bpe_encode rule needs nonempty sides around U+001F: '$s'")
      (s.substring(0, cut), s.substring(cut + 1))
    })
  }

  override def nullSafeEval(w: Any, r: Any): Any =
    table.encode(w.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMergeTable", table,
      classOf[BpeMergeTable].getName)
    nullSafeCodeGen(ctx, ev, (w, _) => s"${ev.value} = $ref.encode($w);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(word = newLeft, rules = newRight)
}

/** The parsed rule table + the encode kernel, shared by eval and
  * generated code. Parallel arrays keep the per-rule loop
  * allocation-free; `merged` doubles as the substring skip probe.
  *
  * Two kernels (VERDICT r13 #3 — the 32k-rule lever):
  *
  * - `encodeSequential`: one leftmost pass per rule in priority
  *   order — the defining semantics, O(R·|w|) per word. At 32k rules
  *   the per-word rule sweep dominates (32k substring probes for a
  *   ~10-char word).
  * - `encodeByRank`: the classic trained-tokenizer algorithm —
  *   repeatedly find the LOWEST-rank rule present among the word's
  *   adjacent pairs and apply its leftmost pass, O(|w|²) hash
  *   lookups, INDEPENDENT of rule count.
  *
  * The two are equal exactly when no rule's side token can be
  * (re)created by a rule of HIGHER rank: then once rank r has been
  * processed, no adjacency of rank ≤ r can ever reappear, so
  * processing present pairs in increasing rank order IS the
  * sequential pass with the no-op rounds skipped. `byRankSafe`
  * verifies that property at parse time (once per plan): every
  * multi-codepoint side of rule q must have its LAST creator
  * (max rank r with merged(r) == side) strictly below q — this also
  * rejects dead rules whose side only comes to exist later (the one
  * case where sequential no-ops but rank order would merge), and
  * makes duplicate rules safe (the later duplicate is dead on both
  * paths). Tables from BpeIterative training satisfy it unless the
  * corpus re-derives one merged string via two different splits and
  * re-learns a pair an earlier rank already consumed — the fallback
  * keeps THAT table correct too, just at sequential speed. */
final case class BpeMergeTable(pairs: Array[(String, String)])
    extends Serializable {
  private val as: Array[String] = pairs.map(_._1)
  private val bs: Array[String] = pairs.map(_._2)
  private val merged: Array[String] = pairs.map(p => p._1 + p._2)

  // rank lookup (a -> b -> first rank) + the parse-time safety proof
  // for the rank-order kernel; both built once per plan/task
  @transient private lazy val rankOf
      : java.util.HashMap[String, java.util.HashMap[String, Integer]] = {
    val m =
      new java.util.HashMap[String, java.util.HashMap[String, Integer]]()
    var r = 0
    while (r < as.length) {
      val inner = m.computeIfAbsent(as(r),
        _ => new java.util.HashMap[String, Integer]())
      if (!inner.containsKey(bs(r))) inner.put(bs(r), Integer.valueOf(r))
      r += 1
    }
    m
  }

  @transient private[graft] lazy val byRankSafe: Boolean = {
    val lastCreate = new java.util.HashMap[String, Integer]()
    var r = 0
    while (r < merged.length) {
      lastCreate.put(merged(r), Integer.valueOf(r)); r += 1
    }
    def sideOk(q: Int, s: String): Boolean =
      s.codePointCount(0, s.length) == 1 || {
        val lc = lastCreate.get(s)
        lc != null && lc.intValue() < q
      }
    var ok = true
    var q = 0
    while (ok && q < as.length) {
      ok = sideOk(q, as(q)) && sideOk(q, bs(q))
      q += 1
    }
    ok
  }

  def encode(w0: UTF8String): GenericArrayData = {
    val w = w0.toString
    // seed: one token per code point (Spark substring semantics)
    var len = 0
    val toks = new Array[String](w.length)
    var i = 0
    while (i < w.length) {
      val cc = Character.charCount(w.codePointAt(i))
      toks(len) = w.substring(i, i + cc)
      len += 1
      i += cc
    }
    len =
      if (byRankSafe) encodeByRank(toks, len)
      else encodeSequential(w, toks, len)
    val out = new Array[AnyRef](len)
    var k = 0
    while (k < len) { out(k) = UTF8String.fromString(toks(k)); k += 1 }
    new GenericArrayData(out)
  }

  /** One leftmost-non-overlapping pass of rule r over toks[0, len). */
  private def applyRule(toks: Array[String], len: Int, r: Int): Int = {
    val a = as(r); val b = bs(r); val ab = merged(r)
    var out = 0
    var j = 0
    while (j < len) {
      if (out > 0 && toks(j) == b && toks(out - 1) == a)
        toks(out - 1) = ab // fused token != a (b nonempty): no re-match
      else { toks(out) = toks(j); out += 1 }
      j += 1
    }
    out
  }

  private def encodeSequential(w: String, toks: Array[String],
      len0: Int): Int = {
    var len = len0
    var r = 0
    while (r < merged.length) {
      // skip rules whose fused token can't occur — tokens are
      // contiguous substrings of w, so adjacency implies containment
      if (len >= 2 && w.contains(merged(r)))
        len = applyRule(toks, len, r)
      r += 1
    }
    len
  }

  private def encodeByRank(toks: Array[String], len0: Int): Int = {
    var len = len0
    var continue = len >= 2
    while (continue) {
      var best = Int.MaxValue
      var i = 0
      while (i < len - 1) {
        val inner = rankOf.get(toks(i))
        if (inner != null) {
          val r = inner.get(toks(i + 1))
          if (r != null && r.intValue() < best) best = r.intValue()
        }
        i += 1
      }
      if (best == Int.MaxValue) continue = false
      else len = applyRule(toks, len, best)
      if (len < 2) continue = false
    }
    len
  }
}
