package graft

import graft.ops.{Grouping, SetOps}
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("set ops partition correctly: union = intersect + both excepts") {
    val u = SetOps.unionBuyers(spark, sf).count()
    val i = SetOps.intersectBuyers(spark, sf).count()
    val fNotO = SetOps.exceptBuyers(spark, sf).count()
    val all = SetOps.unionBuyers(spark, sf)
    // |F ∪ O| = |F ∩ O| + |F \ O| + |O \ F|
    val oNotF = u - i - fNotO
    assert(oNotF >= 0 && i + fNotO + oNotF == u)
    assert(all.count() == all.distinct().count())
  }

  test("unionAll keeps duplicates, intersectAll/exceptAll multiset") {
    val a = Seq(1, 1, 2, 3).toDF("x")
    val b = Seq(1, 2, 2).toDF("x")
    assert(a.union(b).count() == 7)
    assert(a.intersectAll(b).count() == 2)      // {1, 2}
    assert(a.exceptAll(b).count() == 2)         // {1, 3}
    assert(a.intersect(b).count() == 2)         // distinct {1, 2}
  }

  test("rollup has per-group, subtotal, and grand-total rows") {
    val rows = Grouping.rollupPricing(spark, sf).collect()
    val grand = rows.filter(r => r.getAs[Long]("g_rf") == 1)
    assert(grand.length == 1)
    val totalN = grand.head.getAs[Long]("n")
    assert(totalN == Tables.lineitem(spark, sf).count())
    // cube adds the linestatus-only subtotals rollup lacks
    assert(Grouping.cubePricing(spark, sf).count() > rows.length)
  }

  test("HLL sketch rollup estimates match exact distinct users per type") {
    val rows = Grouping.hllSketchRollup(spark, sf).collect()
    assert(rows.nonEmpty)
    val exact = Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Long]("exact_distinct") == exact(t),
        s"$t: exact face ${r.getAs[Long]("exact_distinct")} != ${exact(t)}")
      // the oracle face's contract: native HLL estimate within 5%
      assert(r.getAs[Boolean]("est_within_5pct"),
        s"$t: HLL estimate drifted past 5% of ${exact(t)}")
    }
  }

  test("approx_count_distinct within 5% of exact (HLL scale path)") {
    val li = Tables.lineitem(spark, sf)
    val exact = li.select(countDistinct(col("l_partkey"))).head().getLong(0)
    val approx = li.select(approx_count_distinct(col("l_partkey"), 0.02))
      .head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05,
      s"approx=$approx exact=$exact")
  }

  test("PII redaction scrubs planted emails, IPs, and phone numbers") {
    import spark.implicits._
    import graft.etl.Sanitize
    val planted = Seq(
      (1L, "contact Jane.Doe+spam@example.co.uk for details"),
      (2L, "server at 192.168.1.254 port 8080"),
      (3L, "call 555-867-5309 today"),
      (4L, "clean text with numbers 12345 and a dot. end"),
      (5L, "multi: a@b.io then 10.0.0.1 then 020-1234-5678"))
      .toDF("doc_id", "text")
    val out = planted.select(col("doc_id"),
        Sanitize.redactPii(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "contact <EMAIL> for details")
    assert(out(2L) == "server at <IP> port 8080")
    assert(out(3L) == "call <PHONE> today")
    assert(out(4L) == "clean text with numbers 12345 and a dot. end")
    assert(out(5L) == "multi: <EMAIL> then <IP> then <PHONE>")
  }

  test("PII audit counts planted hits per type with exact doc rates") {
    import graft.etl.Sanitize
    // s1: 2 docs, one with 2 emails + 1 IP, one clean; s2: 1 doc with
    // a phone. The corpus itself has zero PII, so this fixture is the
    // only live exercise of the counting path.
    val docs = Seq(
      (1L, "a@b.io and c@d.org via 10.0.0.1", "s1"),
      (2L, "nothing to see here", "s1"),
      (3L, "call 555-867-5309 now", "s2"))
      .toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files.createTempDirectory("pii").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Sanitize.piiAudit(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got(("s1", "email")) == ((2L, 2L, 1L, 500000L)), s"$got")
    assert(got(("s1", "ip")) == ((2L, 1L, 1L, 500000L)))
    assert(got(("s1", "phone")) == ((2L, 0L, 0L, 0L)))
    assert(got(("s2", "phone")) == ((1L, 1L, 1L, 1000000L)))
    assert(got(("s2", "email")) == ((1L, 0L, 0L, 0L)))
  }

  test("incremental exact dedup keeps only first-seen new content") {
    import spark.implicits._
    val corpus = Seq((1L, "old content"), (2L, "shared content"))
      .toDF("doc_id", "text")
    val increment = Seq(
      (400L, "brand new"), (401L, "shared content"), // dup of corpus
      (402L, "brand new"),                           // dup within increment
      (403L, "also new"))
      .toDF("doc_id", "text")
    val kept = graft.ops.Dedup.incrementalExactNew(corpus, increment)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(400L, 403L))
  }

  test("dedup clusters: min-label propagation equals connected components") {
    import spark.implicits._
    import graft.ops.Dedup
    // triangle + chain + isolated pair
    val pairs = Seq((20L, 21L), (21L, 22L), (20L, 22L),
      (1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.dedupClusters(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    // a 40-node chain would need 40 rounds under plain 1-hop
    // propagation (over maxIter=20); pointer jumping must converge it
    // in O(log n) rounds
    val chain = (0 until 40).map(i => (i.toLong, i + 1L)).toDF("doc_a", "doc_b")
    val labels = Dedup.dedupClusters(chain, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.forall(_._2 == 0L), s"chain not fully converged: ${labels.toSeq.sortBy(_._1)}")
  }

  test("stratified sample: deterministic, near-rate, stable under growth") {
    import graft.ops.Sampling
    val docs = Tables.documents(spark, sf)
    val rates = Map("en" -> 0.5, "de" -> 0.25)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val s1 = ids(Sampling.stratifiedSample(docs, "doc_id", "lang", rates, 0.1))
    val s2 = ids(Sampling.stratifiedSample(docs, "doc_id", "lang", rates, 0.1))
    assert(s1 == s2, "sample not deterministic across runs")
    // per-stratum rate lands near target (loose: n_en ~ 193 at sf0.001)
    val en = docs.filter(col("lang") === "en")
    val enKept = Sampling.stratifiedSample(en, "doc_id", "lang", rates, 0.1).count()
    val enRate = enKept.toDouble / en.count()
    assert(math.abs(enRate - 0.5) < 0.15, s"en rate $enRate far from 0.5")
    // growth stability: sampling a subset = subset of the full sample
    val subset = docs.filter(col("doc_id") < 250)
    val subsetSample = ids(Sampling.stratifiedSample(subset, "doc_id", "lang", rates, 0.1))
    assert(subsetSample == s1.filter(_ < 250), "keep decision not id-stable")
  }

  test("group split: exact duplicates share a split; proportions near 80/10/10") {
    import graft.ops.Sampling
    graft.functions.GraftFunctions.register(spark)
    // duplicated text must land in one split regardless of doc_id
    val dup = (0L until 50L).map(i => (i, s"shared text ${i % 10}"))
      .toDF("doc_id", "text")
    val (_, split) = Sampling.groupSplit(col("text"))
    val perText = dup.select(col("text"), split.as("split"))
      .groupBy("text").agg(countDistinct("split").as("n"))
      .filter(col("n") > 1).count()
    assert(perText == 0, "a content group straddled splits")
    // on the real corpus the split fractions land near 80/10/10
    val docs = Tables.documents(spark, sf)
    val counts = Sampling.groupSplitDocs(spark, sf)
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = counts.values.sum.toDouble
    assert(math.abs(counts.getOrElse("train", 0L) / n - 0.8) < 0.1)
    assert(counts.keySet == Set("train", "val", "test"))
  }

  test("weighted sample: long docs always kept, keep rate tracks length") {
    import graft.ops.Sampling
    val docs = Tables.documents(spark, sf)
    val kept = Sampling.weightedSample(docs, "doc_id",
      least(col("n_chars"), lit(2000L)), 2000L)
    // weight 1 rows (n_chars >= cap) are all kept
    val longAll = docs.filter(col("n_chars") >= 2000).count()
    val longKept = kept.filter(col("n_chars") >= 2000).count()
    assert(longAll == longKept, "a weight-1.0 row was dropped")
    // overall keep rate ~ E[min(n_chars,cap)/cap]
    val expected = docs
      .agg(avg(least(col("n_chars"), lit(2000L)).cast("double") / 2000.0))
      .head().getDouble(0)
    val rate = kept.count().toDouble / docs.count()
    assert(math.abs(rate - expected) < 0.1, s"rate $rate vs expected $expected")
  }

  test("bm25: rarer term outweighs commoner term; tf saturates; non-matching docs drop") {
    import graft.ops.Ranking
    // 'data' appears in 3 docs, 'merge' in 1 → idf(merge) > idf(data);
    // all docs same length so the length normalizer cancels
    val docs = Seq(
      (1L, "data alpha beta gamma"),
      (2L, "data delta epsilon zeta"),
      (3L, "data data data data"),     // tf saturation: 4 occurrences
      (4L, "merge alpha beta gamma"),
      (5L, "other words only here"))
      .toDF("doc_id", "text")
    val got = Ranking.bm25Docs(docs, Seq("data", "merge"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(!got.contains(5L), "non-matching doc must not be scored")
    assert(got(4L) > got(1L),
      s"rare-term doc must outscore common-term doc: $got")
    // k1-saturation: 4× the tf must score < 4× the single-occurrence doc
    assert(got(3L) > got(1L) && got(3L) < 4 * got(1L),
      s"tf saturation violated: $got")
    assert(got(1L) == got(2L), "equal tf/dl docs must tie")
  }

  test("repetition stats flag degenerate docs and pass diverse ones") {
    import graft.ops.TextAnalysis
    val docs = Seq(
      (1L, "spam spam spam spam"),       // pure repetition
      (2L, "one two three four"),        // fully diverse
      (3L, "ab ab cd ab ab"))            // top bigram 'ab ab' ×2 of 4
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStatsDocs(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(got(1L) == ((4L, 0.25, 1.0, 1.0)), s"got ${got(1L)}")
    assert(got(2L) == ((4L, 1.0, 0.25, 0.333333)), s"got ${got(2L)}")
    // doc 3: 5 tokens, 2 distinct; 'ab'×4/5; bigrams: ab-ab, ab-cd,
    // cd-ab, ab-ab → top 'ab ab' 2/4
    assert(got(3L) == ((5L, 0.4, 0.8, 0.5)), s"got ${got(3L)}")
  }

  test("vocab profile: planted spectrum, hapax ppm, short-doc edge") {
    import graft.ops.TextAnalysis
    val docs = Seq(
      // s1: "abcdefgh" -> 1 gram k=1; "aaaaaaaaa" (9 a's) -> gram
      // "aaaaaaaa" twice -> k=2. types=2, occ=3, hapax=1
      (1L, "abcdefgh", "s1"),
      (2L, "aaaaaaaaa", "s1"),
      // s2: doc shorter than a shingle -> the whole text is the type
      (3L, "xy", "s2"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.vocabProfile(docs).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(got(("s1", 1L)) == ((1L, 2L, 3L, 500000L, 666666L)),
      s"got ${got(("s1", 1L))}")
    assert(got(("s1", 2L)) == ((1L, 2L, 3L, 500000L, 666666L)),
      s"got ${got(("s1", 2L))}")
    assert(got(("s2", 1L)) == ((1L, 1L, 1L, 1000000L, 1000000L)),
      s"got ${got(("s2", 1L))}")
    assert(got.size == 3)
  }

  test("token diversity: degenerate doc scores 0, fully diverse high") {
    import graft.ops.TextAnalysis
    val docs = Seq(
      (1L, "spam spam spam spam"),   // one type: impurity 0
      (2L, "one two three four"),    // all distinct: 1 - 4/16
      (3L, "ab ab cd cd"))           // two types evenly: 1 - 8/16
      .toDF("doc_id", "text")
    val got = TextAnalysis.tokenDiversityDocs(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(1L) == ((4L, 1L, 0L)), s"got ${got(1L)}")
    assert(got(2L) == ((4L, 4L, 750000L)), s"got ${got(2L)}")
    assert(got(3L) == ((4L, 2L, 500000L)), s"got ${got(3L)}")
  }

  test("incremental stats: merged partials equal one-pass recompute") {
    import graft.ops.Grouping
    val li = Tables.lineitem(spark, sf).select(col("l_returnflag"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
        .as("c"))
    def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val direct = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(d(col("c"))).cast("long").as("sum"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val merged = Grouping.incrementalStats(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(merged == direct, s"merge != recompute: $merged vs $direct")
  }

  test("passage dedup keeps first occurrence of a shared chunk only") {
    import graft.ops.Dedup
    val eight = "w1 w2 w3 w4 w5 w6 w7 w8"
    val docs = Seq(
      (1L, s"$eight u1 u2 u3"),          // chunk0 = eight, chunk1 = 'u1 u2 u3'
      (2L, s"$eight v1 v2 v3"),          // chunk0 duplicates doc 1's
      (3L, "v1 v2 v3"))                  // = doc2's truncated trailing chunk
      .toDF("doc_id", "text")
    val got = Dedup.passageDedupDocs(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == ((2L, 2L)), s"doc1 all kept: ${got(1L)}")
    assert(got(2L) == ((2L, 1L)), s"doc2 shared chunk dropped: ${got(2L)}")
    // a short final chunk joins to the same text as a short document —
    // chunk equality is by TEXT, so doc3's only chunk is a duplicate
    assert(got(3L) == ((1L, 0L)), s"doc3 chunk matches doc2 tail: ${got(3L)}")
  }

  test("ngram counts: repeated trigram dominates; distinct docs counted; short docs skipped") {
    import graft.ops.Ranking
    val docs = Seq(
      (1L, "a b c a b c"),   // 'a b c' twice, 'b c a'/'c a b' once each
      (2L, "a b c x y z"),   // 'a b c' again in a second doc
      (3L, "p q"))           // too short for a trigram
      .toDF("doc_id", "text")
    val got = Ranking.ngramCounts(docs, topK = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.head == (("a b c", 3L, 2L)), s"got ${got.toSeq}")
    assert(got.forall(_._1 != "p q"), "2-token doc produced a trigram")
    // ties (count 1) break on ngram text ascending
    assert(got.tail.map(_._1).toSeq == got.tail.map(_._1).toSeq.sorted)
  }

  test("tfidf keywords: corpus-wide term is worthless, rare term wins") {
    import graft.ops.Ranking
    val docs = Seq(
      (1L, "common rare1 common common"),
      (2L, "common rare2 other common"),
      (3L, "common filler words common"))
      .toDF("doc_id", "text")
    val got = Ranking.tfidfKeywords(docs, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getDouble(3))).toMap
    // 'common' is in every doc → idf = ln(1) = 0: it scores exactly
    // 0.0 and can only surface where a doc has nothing else to offer
    got.values.filter(_._1 == "common").foreach { case (_, s) =>
      assert(s == 0.0, s"corpus-wide term must score 0, got $s")
    }
    // doc 2: 'other' and 'rare2' tie on tfidf; term-asc tiebreak wins
    assert(got((1L, 1L))._1 == "rare1" && got((2L, 1L))._1 == "other" &&
      got((2L, 2L))._1 == "rare2")
    assert(got.filterKeys(_._2 == 1L).values.forall(_._2 > 0.0),
      s"rank-1 keyword with zero score: $got")
  }

  test("kmv sketch: estimate within 3 std errors of exact; splitmix expr matches reference") {
    import graft.ops.Grouping
    graft.functions.GraftFunctions.register(spark)
    // the expression agrees with the plain-Scala reference (and with
    // the HUGEINT replay the oracle uses, proven by the q84 oracle)
    val probe = Seq(0L, 1L, -1L, 42L, Long.MaxValue, Long.MinValue).toDF("x")
      .selectExpr("x", "splitmix64(x) AS s").collect()
    probe.foreach { r =>
      assert(r.getLong(1) == References.splitmix64(r.getLong(0)))
    }
    val rows = Grouping.kmvSketchRollup(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (est, exact) = (r.getDouble(2), r.getLong(3))
      // k=16 mins estimator: std error ~ n/sqrt(k) = 25% of n
      assert(math.abs(est - exact) <= 0.75 * exact,
        s"${r.getString(0)}: est $est vs exact $exact out of tolerance")
    }
  }

  test("deterministic simhash keeps the locality property: small edit = small hamming") {
    graft.functions.GraftFunctions.register(spark)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today again"),
      (2L, "the quick brown fox jumps over the lazy cat today again"), // 1 token
      (3L, "entirely different content with no shared tokens at all"))
      .toDF("doc_id", "text")
    val sims = docs.select(col("doc_id"),
        References.simhashDet("text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the native codegen form (what q83 runs) must equal the
    // interpreted HOF reference bit-for-bit, incl. empty-token edges
    val edgeDocs = docs.union(
      Seq((10L, ""), (11L, " double  space ")).toDF("doc_id", "text"))
    val diff = edgeDocs.select(
        expr("simhash64_fnv(text)").as("native"),
        References.simhashDet("text").as("interp"))
      .collect()
    diff.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"native ${r.getLong(0)} != interpreted ${r.getLong(1)}"))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val near = hamming(sims(1L), sims(2L))
    val far = hamming(sims(1L), sims(3L))
    assert(near < far, s"locality violated: near=$near far=$far")
    assert(near <= 16, s"one-token edit moved $near bits")
    // determinism: recomputation is bit-identical
    val again = docs.select(References.simhashDet("text"))
      .collect().map(_.getLong(0)).toSet
    assert(again == sims.values.toSet)
  }

  test("window distribution: quartiles split evenly, pct_rank spans [0,1], nth_value sees whole partition") {
    import graft.ops.Windows
    val rows = Windows.windowDistribution(spark, sf).collect()
    val byCust = rows.groupBy(_.getLong(0))
    val (_, some) = byCust.find(_._2.length >= 8).get
    // quartiles within a customer differ by at most 1 in size
    val sizes = some.groupBy(_.getLong(3)).view.mapValues(_.length).values
    assert(sizes.max - sizes.min <= 1, s"uneven quartiles: $sizes")
    // pct_rank: min row is 0, max row is 1
    val pr = some.map(_.getDouble(4))
    assert(pr.min == 0.0 && pr.max == 1.0)
    // second_price = the 2nd-cheapest price, constant across the partition
    val sorted = some.map(_.getDouble(2)).sorted
    assert(some.forall(r => r.getDouble(6) == sorted(1)))
  }

  test("fuzzy match blocks by first token and verifies by edit distance") {
    import graft.ops.Dedup
    val got = Dedup.fuzzyNameMatches(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.nonEmpty, "no fuzzy pairs found in the part vocabulary")
    // every pair shares its blocking token and respects the cutoff
    assert(got.forall { case (a, b, d) =>
      a.split(" ").head == b.split(" ").head && d >= 1 && d <= 3 })
    // spot-check a known near-pair shape: X bolt / X rod at distance 3
    assert(got.exists { case (a, b, d) =>
      a.endsWith(" bolt") && b.endsWith(" rod") && d == 3 }, s"${got.toSeq}")
  }

  test("sequence packing: greedy fill, boundary doc stays with its start, shards independent") {
    import graft.ops.Ranking
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      ("a", 1L, words(6)),  // seq 0: tokens 0-5
      ("a", 2L, words(3)),  // seq 0: tokens 6-8
      ("a", 3L, words(4)),  // starts at token 9 < 10 → seq 0 (spills)
      ("a", 4L, words(2)),  // starts at 13 → seq 1
      ("b", 5L, words(12))) // own shard: starts at 0 → seq 0
      .toDF("source", "doc_id", "text")
    val got = Ranking.packSequences(docs, seqLen = 10).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got(("a", 0L)) == ((3L, 13L, 1L, 3L)), s"got ${got(("a", 0L))}")
    assert(got(("a", 1L)) == ((1L, 2L, 4L, 4L)), s"got ${got(("a", 1L))}")
    assert(got(("b", 0L)) == ((1L, 12L, 5L, 5L)), s"got ${got(("b", 0L))}")
  }

  test("sq-ANN: query's own vector ranks first; int candidate cut preserves brute-force top-k") {
    import graft.ops.Similarity
    val top = Similarity.sqAnnTopK(spark, sf, queryId = 7, topK = 10,
      candidates = 50).collect()
    assert(top.head.getLong(0) == 7L && top.head.getDouble(2) == 1.0,
      "query vector must rank first at cos 1.0")
    // brute-force exact cosine top-10 (same rounding + tie order)
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 7).select("embedding")
      .head().getSeq[Float](0)
    val brute = emb.select(col("vec_id"),
        round(Similarity.cosine(col("embedding"),
          array(q.map(lit): _*)), 6).as("c"))
      .orderBy(col("c").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val got = top.map(_.getLong(0)).toSet
    val recall = brute.intersect(got).size.toDouble / brute.size
    assert(recall >= 0.8,
      s"int8 quantization recall $recall too low vs brute force")
  }

  test("fluency proxy: common constructions outrank one-off garble") {
    import spark.implicits._
    import graft.ops.Ranking
    // docs 1-4 share the same trigrams (high corpus frequency); doc 5
    // is all hapax trigrams — its mean trigram frequency must be the
    // strict minimum. doc 6 has <3 tokens and must be excluded.
    val docs = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumps"),
      (3L, "the quick brown fox jumps"),
      (4L, "the quick brown fox runs"),
      (5L, "zq xv jj pw qq kk"),
      (6L, "too short")).toDF("doc_id", "text")
    val got = Ranking.fluencyScores(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(!got.contains(6L), "sub-trigram doc must be excluded")
    assert(got(5L) < (got - 5L).values.min,
      s"garble must score strictly lowest: $got")
    assert(got(1L) == got(2L) && got(2L) == got(3L))
  }

  test("temperature mix: planted source sizes give exact sqrt weights and counts") {
    import spark.implicits._
    import graft.ops.Sampling
    // sources sized at perfect squares and one off-square: weights
    // are hand-computable (isqrt 100=10, 25=5, 10=3, 9=3), biggest
    // source keeps everything (rate 1e6), others scale by w/wmax
    val rows =
      (0L until 100L).map(i => (i, "big")) ++
      (100L until 125L).map(i => (i, "mid")) ++
      (125L until 135L).map(i => (i, "off")) ++
      (135L until 144L).map(i => (i, "tiny"))
    val dir = java.nio.file.Files.createTempDirectory("graft_tmix").toString
    rows.toDF("doc_id", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Sampling.temperatureMix(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("big")._2 == 10L && got("mid")._2 == 5L &&
      got("off")._2 == 3L && got("tiny")._2 == 3L, s"weights: $got")
    assert(got("big")._3 == 1000000L && got("mid")._3 == 500000L &&
      got("off")._3 == 300000L && got("tiny")._3 == 300000L)
    // exact kept counts: replay the mixer driver-side
    def kept(ids: Seq[Long], ratePpm: Long): Long = ids.count { id =>
      (((id % Sampling.Prime) * Sampling.Mult) % Sampling.Prime) *
        1000000L < ratePpm * Sampling.Prime
    }.toLong
    assert(got("big")._4 == 100L, "rate 1e6 must keep every row")
    assert(got("mid")._4 == kept((100L until 125L).toSeq, 500000L))
    assert(got("off")._4 == kept((125L until 135L).toSeq, 300000L))
    assert(got("tiny")._4 == kept((135L until 144L).toSeq, 300000L))
  }
}
