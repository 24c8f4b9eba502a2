package graft

import graft.ops.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Operators build graft's native expressions as typed Columns, so they
  * must run on a session that never registered the SQL names — a
  * `newSession()` per tenant has its own, empty function registry. */
class FreshSessionSpec extends SparkSpec {

  private val texts = Seq(
    (1L, "the catalyst optimizer rewrites logical plans into physical " +
      "plans of the engine and a broadcast join is the fast path"),
    (2L, "the catalyst optimizer rewrites logical plans into physical " +
      "plans of the engine and a shuffle join is the fast path"),
    (3L, "the quick brown fox jumps over a lazy dog and the day is long " +
      "and of the morning a walk to the river is the best of plans"),
    (4L, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"))

  private def docs(s: SparkSession): DataFrame =
    s.createDataFrame(texts).toDF("doc_id", "text")

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** 64-slot MinHash signatures: doc 2 shares 54 slots with doc 1,
    * doc 3 none. */
  private def sigs(s: SparkSession): DataFrame = s.createDataFrame(Seq(
      (1L, (0L until 64L).toArray),
      (2L, (0L until 64L).map(i => if (i < 10) i + 100 else i).toArray),
      (3L, (200L until 264L).toArray)))
    .toDF("doc_id", "sig")

  /** Each operator, run on the session it is given. */
  private val ops: Seq[(String, SparkSession => Seq[Row])] = Seq(
    "qualityScore" -> (s => rows(docs(s)
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text"))))),
    "dot" -> (s => rows(s.createDataFrame(Seq(
        (1L, Array(1.5f, -2.0f, 0.25f), Array(4.0f, 0.5f, -8.0f)),
        (2L, Array(0.1f, 0.2f, 0.3f), Array(0.3f, 0.2f, 0.1f))))
      .toDF("id", "a", "b")
      .select(col("id"), Similarity.dot(col("a"), col("b"))))),
    "simhashExpr" -> (s => rows(docs(s)
      .select(col("doc_id"), Dedup.simhashExpr("text")))),
    "estimatePrune" -> (s => rows(Dedup.estimatePrune(
      s.createDataFrame(Seq((1L, 2L), (1L, 3L), (2L, 3L)))
        .toDF("doc_a", "doc_b"),
      sigs(s), sigs(s), "doc_a", "doc_b", 0.7))),
    "curateObserved" -> { s =>
      val oc = Pipeline.curateObserved(docs(s), minQuality = 0.4,
        nearDupJaccard = 0.7)
      try rows(oc.curated.select(col("doc_id"), col("fingerprints"),
        col("content_hash")))
      finally oc.release()
    })

  test("operators run on a session that never registered the SQL names") {
    graft.functions.GraftFunctions.register(spark)
    ops.foreach { case (op, run) =>
      // a new session per operator: none can register names for another
      val fresh = spark.newSession()
      assert(!fresh.catalog.functionExists("token_in_set_count"),
        "a new session must start without graft's SQL names")
      val got = run(fresh)
      assert(got.nonEmpty, s"$op returned no rows")
      assert(got == run(spark), s"$op differs on the fresh session")
    }
  }

  test("register adds every name of the one SQL-name table") {
    val s = spark.newSession()
    val names = graft.functions.GraftFunctions.sqlFunctions.map(_._1)
    assert(names.distinct.size == 25)
    assert(names.forall(n => !s.catalog.functionExists(n)))
    graft.functions.GraftFunctions.register(s)
    assert(names.forall(s.catalog.functionExists))
    val row = s.sql("SELECT eq_count(array(1L, 2L), array(1L, 3L)), " +
      "size(word_grams('a b c', 2, false)), " +
      "size(feature_buckets('a b', 16))").head()
    assert(row.getInt(0) == 1 && row.getInt(1) == 2 && row.getInt(2) == 3)
  }
}
