package graft

import graft.ops.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Empty/degenerate-input robustness: operators must return empty
  * results, not throw, when a filter upstream removes everything —
  * at 100 TB some partition or day WILL be empty. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private def emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("minhash pipeline on an empty corpus returns no pairs") {
    assert(Dedup.nearDupPairs(emptyDocs, "doc_id", 0.5).count() == 0)
  }

  test("simhash near-dups on an empty corpus returns no pairs") {
    assert(Dedup.simhashNearDups(emptyDocs, "doc_id", 3).count() == 0)
  }

  test("incremental exact dedup and cluster propagation on empty inputs") {
    assert(Dedup.incrementalExactNew(emptyDocs, emptyDocs).count() == 0)
    import spark.implicits._
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.dedupClusters(noPairs, "doc_a", "doc_b").count() == 0)
  }

  test("substring dedup catches a chunk-boundary-straddling duplicate that passage dedup misses") {
    // docA: 20 unique tokens; docB embeds docA's tokens 5..16 (a
    // 12-token run) starting at its own token 7 — the run straddles
    // docA's w=8 chunk boundary and sits misaligned in docB, so
    // fixed-chunk passage dedup sees no equal chunk anywhere
    val aToks = (1 to 20).map(i => s"a$i")
    val bToks = (1 to 6).map(i => s"b$i") ++ aToks.slice(4, 16) ++
      (7 to 10).map(i => s"b$i")
    val docs = Seq((1L, aToks.mkString(" ")), (2L, bToks.mkString(" ")))
      .toDF("doc_id", "text")
    val passage = Dedup.passageDedupDocs(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    passage.foreach { case (_, (nChunks, nKept)) =>
      assert(nChunks == nKept, "passage dedup should miss the shifted dup")
    }
    val sub = Dedup.substringDedup(docs).collect()
    assert(sub.length == 1, s"expected only docB flagged, got ${sub.length}")
    val r = sub.head
    // one merged extent covering exactly the 12 shared tokens
    assert(r.getAs[Long]("doc_id") == 2L)
    assert(r.getAs[Long]("n_extents") == 1L)
    assert(r.getAs[Long]("n_dup_tokens") == 12L)
    assert(r.getAs[Long]("n_tokens") == 22L)
  }

  test("window novelty: copied span drops novelty by exactly its window count") {
    // corpus doc: 20 unique tokens; ingest doc: 6 own tokens + the
    // corpus's tokens 5..16 + 4 own tokens (the q119 straddle planted
    // shape). Shared windows = starts 6..10 (5 of 15) -> novel 10/15.
    val aToks = (1 to 20).map(i => s"a$i")
    val bToks = (1 to 6).map(i => s"b$i") ++ aToks.slice(4, 16) ++
      (7 to 10).map(i => s"b$i")
    val corpus = Seq((1L, aToks.mkString(" "))).toDF("doc_id", "text")
    val ingest = Seq(
      (401L, bToks.mkString(" ")),
      (402L, (1 to 12).map(i => s"c$i").mkString(" "))).toDF("doc_id", "text")
    val out = Dedup.windowNovelty(ingest, corpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_windows"), r.getAs[Long]("n_novel"),
          r.getAs[Long]("novelty_ppm"))).toMap
    // 22 tokens -> 15 windows; 5 matched -> 10 novel
    assert(out(401L) == ((15L, 10L, 666666L)), s"got ${out(401L)}")
    // fully novel doc: 12 tokens -> 5 windows, all novel
    assert(out(402L) == ((5L, 5L, 1000000L)), s"got ${out(402L)}")
  }

  test("substring dedup on empty corpus and dup-free corpus returns nothing") {
    assert(Dedup.substringDedup(emptyDocs).count() == 0)
    val unique = Seq((1L, (1 to 30).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    assert(Dedup.substringDedup(unique).count() == 0)
  }

  test("winnowing on empty and single-char docs yields one fingerprint") {
    val docs = Seq((1L, ""), (2L, "x")).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowed(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](2).size).toMap
    // a doc shorter than the shingle hashes its full content once
    assert(fps(1L) == 1 && fps(2L) == 1)
  }

  test("LSH embedding near-dup on empty input returns no pairs") {
    val empty = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.lshEmbeddingNearDups(empty, 0.9).count() == 0)
  }

  test("sequence sync maxId sentinel on an empty table") {
    // an empty copy has no MAX: the sync falls back to nextval = 1
    val ddl = scala.collection.mutable.ArrayBuffer.empty[String]
    val empty = Seq.empty[Long].toDF("id")
    val results = graft.etl.Transfer.migrate(Seq(Fixtures.analyticsEvent),
      exclude = Set.empty, execDdl = ddl += _, read = _ => empty,
      write = (_, df) => df.write.format("noop").mode("overwrite").save())
    assert(results.head.ok && results.head.rows == 0)
    assert(ddl.last.contains("setval(") && ddl.last.endsWith(", 1, false)"), ddl.last)
  }

  private def scdRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (Option(r.get(0)).map(_.toString).orNull,
      r.getString(1), r.getInt(2),
      if (r.isNullAt(3)) -1 else r.getInt(3), r.getBoolean(4))).toSet

  test("scd2Apply: change closes old version, re-upsert is idempotent, null key rejected") {
    import graft.etl.Transfer
    // history: k=1 open at t=10 with v=a; k=2 closed [5,8) + open at 8
    val history = Seq(
      ("1", "a", 10, None: Option[Int], true),
      ("2", "x", 5, Option(8), false),
      ("2", "y", 8, None: Option[Int], true)
    ).toDF("k", "v", "valid_from", "valid_to", "is_current")
    val batch = Seq(("1", "b", 20), ("3", "c", 20)).toDF("k", "v", "ts")
    val applied = Transfer.scd2Apply(history, batch, "k", "ts", Seq("v"))
    assert(scdRows(applied) == Set(
      ("1", "a", 10, 20, false),   // changed: old version closed at 20
      ("1", "b", 20, -1, true),    // ...and a new open version
      ("2", "x", 5, 8, false),     // closed history passes through
      ("2", "y", 8, -1, true),     // unmatched current carries over
      ("3", "c", 20, -1, true)))   // new key inserts open
    // re-applying the SAME batch is a no-op (idempotent re-upsert):
    // identical attributes → no close, no new version
    val again = Transfer.scd2Apply(applied, batch.withColumn("ts", lit(30)),
      "k", "ts", Seq("v"))
    assert(scdRows(again) == scdRows(applied))
    // a NULL key can never re-match its own current row → fail fast
    val nullKey = Seq((null: String, "z", 40)).toDF("k", "v", "ts")
    intercept[IllegalArgumentException] {
      Transfer.scd2Apply(applied, nullKey, "k", "ts", Seq("v"))
    }
    // duplicate-key batch rejected like mergeUpsert
    val dups = Seq(("1", "p", 40), ("1", "q", 40)).toDF("k", "v", "ts")
    intercept[IllegalArgumentException] {
      Transfer.scd2Apply(applied, dups, "k", "ts", Seq("v"))
    }
  }

  test("scd2FromChangeLog collapses consecutive duplicates, null-safe on attrs") {
    import graft.etl.Transfer
    val log = Seq(
      (1L, Option("a"), 1, 101L), (1L, Option("a"), 2, 102L), // dup collapsed
      (1L, None: Option[String], 3, 103L),                    // change to NULL opens a version
      (1L, Option("a"), 4, 104L)
    ).toDF("k", "v", "t", "seq")
    val hist = Transfer.scd2FromChangeLog(log, "k", "t", "seq", Seq("v"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        r.getInt(2), if (r.isNullAt(3)) -1 else r.getInt(3),
        r.getBoolean(4))).toSet
    assert(hist == Set(
      (1L, Option("a"), 1, 3, false),
      (1L, None, 3, 4, false),
      (1L, Option("a"), 4, -1, true)))
  }

  test("as-of join with an empty right side yields null matches") {
    val left = Seq((1L, 7L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("purchase_id", "user_id", "purchase_ts")
    val right = Seq.empty[(Long, Long, java.sql.Timestamp)]
      .toDF("event_id", "user_id", "ts")
    val row = graft.ops.AsOf.join(left, right, Seq("user_id"),
        "purchase_ts", "ts", Seq("event_id"), "event_id").head()
    assert(row.isNullAt(row.fieldIndex("asof_event_id")))
  }

  test("setSimJoin degenerate inputs: empty, single doc, all-identical") {
    import org.apache.spark.sql.functions.col
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.ops.Dedup.setSimJoin(empty, "doc_id", 700000L).count() == 0)
    val one = Seq((1L, "only doc here")).toDF("doc_id", "text")
    assert(graft.ops.Dedup.setSimJoin(one, "doc_id", 700000L).count() == 0)
    // n identical docs -> all C(n,2) pairs at exactly 1.0
    val same = (1L to 4L).map(i => (i, "identical content for everyone"))
      .toDF("doc_id", "text")
    val pairs = graft.ops.Dedup.setSimJoin(same, "doc_id", 700000L)
    assert(pairs.count() == 6)
    assert(pairs.filter(col("jaccard_ppm") =!= 1000000L).count() == 0)
  }

  test("setSimJoin rejects non-Latin-1 text (packing injectivity guard)") {
    // a codepoint >= U+0100 would overflow its byte slot in the
    // packed-long gram encoding — the guard must fail fast, not
    // silently inflate intersection counts
    val cyrillic = Seq((1L, "hello wБrld content"), (2L, "plain ascii text"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Dedup.setSimJoin(cyrillic, "doc_id", 700000L)
    }
    assert(e.getMessage.contains("Latin-1"))
    // Latin-1 accents are within the injective range and must pass
    val latin1 = Seq((1L, "café au lait près d'ici"), (2L, "plain text"))
      .toDF("doc_id", "text")
    assert(graft.ops.Dedup.setSimJoin(latin1, "doc_id", 700000L).count() == 0)
  }

  test("MAD screen degenerate groups: constant values, single row") {
    import org.apache.spark.sql.functions.col
    // constant group: med = value, MAD = 0, rule = "anything != med"
    // flags nothing; single-row group likewise
    val df = (Seq.fill(5)(("A", 700L)) :+ (("B", 42L))).toDF("l_returnflag", "c")
    val out = graft.ops.Profiling.madOutliersOf(df, 5L, 1L).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(out("A") == ((700L, 0L, 0L)), s"got $out")
    assert(out("B") == ((42L, 0L, 0L)), s"got $out")
  }

  test("vocab profile and diversity survive an empty corpus") {
    val empty = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "text", "source")
    assert(graft.ops.TextAnalysis.vocabProfile(empty).count() == 0)
    assert(graft.ops.TextAnalysis.tokenDiversityDocs(
      empty.select("doc_id", "text")).count() == 0)
  }

  test("round-7 doc ops on degenerate corpora: empty, null text, short docs") {
    import org.apache.spark.sql.functions.col
    val empty = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "source", "text")
    assert(graft.ops.TextAnalysis.filterCascadeDocs(empty).count() == 0)
    assert(graft.ops.Layout.chunkSpansDocs(
      empty.select("doc_id", "text")).count() == 0)
    assert(graft.ops.Layout.paddingWasteDocs(
      empty.select("doc_id", "text")).count() == 0)
    assert(graft.ops.Dedup.dedupSavingsDocs(empty).count() == 0)
    // null text: every per-row gate/count is null-safe (no rows leak
    // a null into an aggregate as a spurious pass); chunk spans emit
    // nothing for a null doc (size(split(null)) is null -> empty
    // generator), mirroring the DuckDB oracle's NULL propagation
    val withNull = Seq((1L, "s", null: String), (2L, "s", "a b c"))
      .toDF("doc_id", "source", "text")
    val cascade = graft.ops.TextAnalysis.filterCascadeDocs(withNull)
      .collect().head
    assert(cascade.getLong(1) == 2L && cascade.getLong(2) == 0L,
      s"null text must count in n_docs but pass no gate: $cascade")
    val spans = graft.ops.Layout.chunkSpansDocs(withNull
      .select(col("doc_id"), col("text"))).collect()
    assert(spans.map(_.getLong(0)).toSet == Set(2L),
      "null doc must emit no spans")
    // single-token doc flows through the fluency trigram frame as
    // zero rows (guarded transform), not a failure
    assert(graft.ops.Ranking.trigramFrame(
      Seq((1L, "solo")).toDF("doc_id", "text")).count() == 0)
  }
}
