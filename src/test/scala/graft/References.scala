package graft

import graft.functions.BpeMergeTable
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions.{eqCount, rollingHash}
import graft.ops.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Plain-Scala and interpreted higher-order-function references that
  * the differential specs compare the native expressions against. */
object References {

  /** FNV-1a over the UTF-8 bytes: the `rolling_hash` reference. */
  def rollingHash64(s: String): Long = fnv1a(s.getBytes("UTF-8"))

  private def fnv1a(bytes: Seq[Byte]): Long =
    bytes.foldLeft(0xcbf29ce484222325L)((h, b) => (h ^ (b & 0xffL)) * 1099511628211L)

  /** The splitmix64 finalizer: the `splitmix64` reference. */
  def splitmix64(h0: Long): Long = {
    var h = h0
    h = (h ^ (h >>> 30)) * java.lang.Long.parseUnsignedLong("bf58476d1ce4e5b9", 16)
    h = (h ^ (h >>> 27)) * java.lang.Long.parseUnsignedLong("94d049bb133111eb", 16)
    h ^ (h >>> 31)
  }

  /** Distinct finalized FNV-1a hashes of the 8-byte windows, first
    * occurrence first; a shorter text is one window (`shingle8`). */
  def shingle8(s: String): Seq[Long] = {
    val b = s.getBytes("UTF-8").toSeq
    (0 until math.max(b.length - 7, 1))
      .map(i => splitmix64(fnv1a(b.slice(i, i + 8)))).distinct
  }

  /** 64-function MinHash signature of a shingle set (`minhash64`). */
  def minhash64(shingles: Seq[Long]): Seq[Long] = (1 to 64).map { j =>
    val seed = splitmix64(0x9e3779b97f4a7c15L * j)
    shingles.map(x => splitmix64(x ^ seed)).foldLeft(Long.MaxValue)(math.min)
  }

  /** Sequential BPE: apply each merge rule of `t`, in rank order, as
    * one left-to-right pass over the word's code points. */
  def bpeEncode(t: BpeMergeTable, w: String): Seq[String] = {
    var toks = w.codePoints().toArray.toSeq
      .map(cp => new String(Character.toChars(cp)))
    t.pairs.foreach { case (a, b) =>
      val out = scala.collection.mutable.ArrayBuffer[String]()
      toks.foreach { x =>
        if (out.nonEmpty && out.last == a && x == b)
          out(out.length - 1) = a + b
        else out += x
      }
      toks = out.toSeq
    }
    toks
  }

  /** Delta-varint packing of a sorted id set (`VarintGramSet`). */
  def varintPack(xs: Seq[Long]): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer[Byte]()
    var prev = 0L
    xs.foreach { x =>
      var v = x - prev
      prev = x
      while ((v & ~0x7fL) != 0L) { out += ((v & 0x7f) | 0x80).toByte; v >>>= 7 }
      out += v.toByte
    }
    out.toArray
  }

  /** dot(a, b) in double precision as zip_with/aggregate lambdas
    * (`DotProductF`). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** SimHash with the xxhash64 token hash (`simhash64`). */
  def simhash(textCol: String): Column = simhashHof(textCol, xxhash64(_))

  /** SimHash with the FNV+splitmix token hash (`simhash64_fnv`). */
  def simhashDet(textCol: String): Column = simhashHof(textCol, rollingHash)

  /** SimHash as interpreted HOF lambdas over `tokenHash` of each space
    * token: per bit position, +1/-1 votes summed over tokens, then the
    * bits whose sum is >= 0. The inner zip_with lambda reads the outer
    * aggregate lambda's token hash `h`. */
  private def simhashHof(textCol: String, tokenHash: Column => Column): Column = {
    val bits = sequence(lit(0), lit(63))
    val counts = aggregate(transform(split(col(textCol), " "), tokenHash),
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, bits, (a, i) =>
        a + when(call_function("shiftright", h, i).bitwiseAND(lit(1L)) === 1,
          lit(1)).otherwise(lit(-1))))
    aggregate(
      zip_with(counts, bits, (c, i) =>
        when(c >= 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** Verified near-dup pairs of a (doc_id, text, sig) frame by two
    * separate stages: the estimate joins each LSH candidate's two
    * signatures and prunes, then the verify joins each survivor's two
    * texts and keeps shingle-set Jaccard >= `minJaccard`. Four pair-side
    * joins, with the expressions written out here, against which
    * `Dedup.cachedNearDupPairs`' one join per side is compared. */
  def twoStageNearDupPairs(docs: DataFrame, minJaccard: Double): DataFrame = {
    def side(s: String, c: String) =
      docs.select(col("doc_id").as(s"doc_$s"), col(c).as(s"${c}_$s"))
    Dedup.lshCandidatePairs(docs, "doc_id")
      .join(side("a", "sig"), "doc_a").join(side("b", "sig"), "doc_b")
      .withColumn("est_j",
        eqCount(col("sig_a"), col("sig_b")).cast("double") / Dedup.NumHashes)
      .filter(col("est_j") >= minJaccard - 0.2)
      .select("doc_a", "doc_b")
      .join(side("a", "text"), "doc_a").join(side("b", "text"), "doc_b")
      .withColumn("sh_a", GraftFunctions.shingle8(col("text_a")))
      .withColumn("sh_b", GraftFunctions.shingle8(col("text_b")))
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }
}
