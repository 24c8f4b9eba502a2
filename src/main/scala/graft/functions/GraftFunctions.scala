package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.shim.ExpressionColumn

/** graft's native Catalyst expressions as typed Columns, plus the one
  * SQL-name table behind [[register]] and [[GraftExtensions]].
  *
  * Operators call the builders below: they need no session state, so
  * they work on any session (`newSession()` included). The SQL names
  * exist only for SQL text (`expr`, `spark.sql`) on a session that ran
  * [[register]] or was built with the extension. */
object GraftFunctions {
  private def col(e: Expression): Column = ExpressionColumn(e)
  private def ex(c: Column): Expression = ExpressionColumn.expression(c)

  /** 64-bit FNV-1a of a string's UTF-8 bytes. */
  def rollingHash(s: Column): Column = col(RollingHash64(ex(s)))
  /** 64-element MinHash signature of an array<bigint>. */
  def minhash64(set: Column): Column = col(MinHashSignature(ex(set), 64))
  /** Distinct hashed 8-byte shingles of a string. */
  def shingle8(s: Column): Column = col(ShingleHashes(ex(s), 8))
  /** Every hashed 8-byte shingle of a string, in position order. */
  def shingle8Seq(s: Column): Column =
    col(ShingleHashes(ex(s), 8, distinct = false))
  /** Winnowed 8-byte shingle fingerprints, window 8. */
  def winnow8_8(s: Column): Column = col(WinnowFingerprints(ex(s), 8, 8))
  /** Hashed unigram+bigram feature buckets; `buckets` a power of two. */
  def featureBuckets(s: Column, buckets: Int): Column =
    col(FeatureBuckets(ex(s), buckets))
  /** Distinct injectively packed 8-byte shingles. */
  def pack8(s: Column): Column = col(PackedShingles(ex(s), 8))
  /** Every packed 8-byte shingle, in position order. */
  def pack8Seq(s: Column): Column =
    col(PackedShingles(ex(s), 8, distinct = false))
  /** Packed 8-byte shingles at stride 4, in position order. */
  def pack8S4(s: Column): Column =
    col(PackedShingles(ex(s), 8, stride = 4, distinct = false))
  /** 64-bit SimHash over space tokens. */
  def simhash64(s: Column): Column = col(SimHash64(ex(s)))
  /** 64-bit SimHash with the replayable FNV-1a token hash. */
  def simhash64Fnv(s: Column): Column = col(SimHash64(ex(s), fnv = true))
  /** Double-precision dot product of two arrays. */
  def dotf(a: Column, b: Column): Column = col(DotProductF(ex(a), ex(b)))
  /** splitmix64 finalizer of a bigint. */
  def splitmix64(h: Column): Column = col(Splitmix64(ex(h)))
  /** Size of the intersection of two sorted distinct arrays. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    col(SortedIntersectCount(ex(a), ex(b)))
  /** Exact integer squared-L2 distance of two bigint arrays. */
  def l2mu(a: Column, b: Column): Column = col(L2MuSq(ex(a), ex(b)))
  /** Nearest centroid of `x` as struct<d2, cell>, min by (d2, id);
    * `cents` and `ids` must be array literals. */
  def cellArgmin(x: Column, cents: Column, ids: Column): Column =
    col(CellArgmin(ex(x), ex(cents), ex(ids)))
  /** Varint delta encoding of a sorted bigint array. */
  def varintDeltaPack(ids: Column): Column = col(VarintDeltaPack(ex(ids)))
  /** Intersection size of two varint-delta-packed sorted sets. */
  def sortedVarintIntersectCount(a: Column, b: Column): Column =
    col(SortedVarintIntersectCount(ex(a), ex(b)))
  /** BPE encoding of a word under priority-ordered merge rules. */
  def bpeEncode(word: Column, rules: Column): Column =
    col(BpeEncode(ex(word), ex(rules)))
  /** Per-element HALF_UP round of `x * factor` to bigint. */
  def scaleRound(arr: Column, factor: Long): Column =
    col(ScaleRound(ex(arr), factor))
  /** Space-joined word n-grams; `minOne` keeps a short text whole. */
  def wordGrams(s: Column, n: Int, minOne: Boolean): Column =
    col(WordGrams(ex(s), n, minOne))
  /** [[wordGrams]] over an already split token array. */
  def wordGramsArr(toks: Column, n: Int, minOne: Boolean): Column =
    col(WordGramsArr(ex(toks), n, minOne))
  /** Count of positions where two equal-length arrays agree. */
  def eqCount(a: Column, b: Column): Column = col(EqCount(ex(a), ex(b)))
  /** Hamming distance of two bigint/int arrays (popcount of xor). */
  def hammingCount(a: Column, b: Column): Column =
    col(HammingCount(ex(a), ex(b)))
  /** Count of space tokens of `s` in the string array literal `set`. */
  def tokenInSetCount(s: Column, set: Column): Column =
    col(TokenInSetCount(ex(s), ex(set)))

  private def int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()
  private def unary(f: Column => Column): Seq[Expression] => Expression =
    a => ex(f(col(a(0))))
  private def binary(f: (Column, Column) => Column): Seq[Expression] => Expression =
    a => ex(f(col(a(0)), col(a(1))))

  /** SQL name -> builder over the call's argument expressions. Literal
    * arguments (bucket count, scale factor, n, minOne) must be foldable. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "rolling_hash" -> unary(rollingHash),
    "minhash64" -> unary(minhash64),
    "shingle8" -> unary(shingle8),
    "shingle8_seq" -> unary(shingle8Seq),
    "winnow8_8" -> unary(winnow8_8),
    "feature_buckets" -> (a => ex(featureBuckets(col(a(0)), int(a(1))))),
    "pack8" -> unary(pack8),
    "pack8_seq" -> unary(pack8Seq),
    "pack8_s4" -> unary(pack8S4),
    "simhash64" -> unary(simhash64),
    "simhash64_fnv" -> unary(simhash64Fnv),
    "dotf" -> binary(dotf),
    "splitmix64" -> unary(splitmix64),
    "sorted_intersect_count" -> binary(sortedIntersectCount),
    "l2mu" -> binary(l2mu),
    "cell_argmin" -> (a => ex(cellArgmin(col(a(0)), col(a(1)), col(a(2))))),
    "varint_delta_pack" -> unary(varintDeltaPack),
    "sorted_varint_intersect_count" -> binary(sortedVarintIntersectCount),
    "bpe_encode" -> binary(bpeEncode),
    "scale_round" -> (a => ex(scaleRound(col(a(0)),
      a(1).eval().asInstanceOf[Number].longValue()))),
    "word_grams" -> (a => ex(wordGrams(col(a(0)), int(a(1)),
      a(2).eval().asInstanceOf[Boolean]))),
    "word_grams_arr" -> (a => ex(wordGramsArr(col(a(0)), int(a(1)),
      a(2).eval().asInstanceOf[Boolean]))),
    "eq_count" -> binary(eqCount),
    "hamming_count" -> binary(hammingCount),
    "token_in_set_count" -> binary(tokenInSetCount))

  /** Registers every [[sqlFunctions]] name on one session, for SQL
    * text; idempotent. Operators do not need it. */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "internal")
    }
}
