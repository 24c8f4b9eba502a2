package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Round-12 operators, starting with the planted q254 fixture the
  * round-11 snapshot registered without: the incremental boundary
  * stitch's cap-base-superset semantics (caps counted over the FULL
  * seen corpus while only batch-side rows join) deserve a planted
  * proof, not just the derived-cutoff oracle. */
class Round12OpsSpec extends SparkSpec {

  // q254: ids 1–7 are the prior corpus, 27–29 the ingest batch
  // (cutoff = (29+1)*9/10 = 27, the q191 newest-10%-of-ids split).
  //  - (1,2) stitch via o20a: prior↔prior, must be EXCLUDED
  //  - (3,27) via o20b: seen tail → batch head (direction 1)
  //  - (28,4) via o20c: batch tail → prior head (direction 2)
  //  - (29,7) would verify exactly (doc 29 IS doc 7's first 20
  //    chars) but its QQQQQQQQ boundary key is over the A-side cap
  //    ONLY when suffix frequencies count the full corpus: docs
  //    5/6/29 all end with it (3 > 2) — yet 5/6 are 72 chars, so
  //    the key sits outside their head64 and the B-side count stays
  //    at 2 (docs 7 and 29). The joined-side-only A base (doc 29
  //    alone, 1 ≤ 2) would admit the pair.
  private val o20a = "CONTINUED PAGE TAIL!"
  private val o20b = "NEXT PAGE BODY HERE!"
  private val o20c = "MORE STITCH CONTENT!"

  private def stitchDocs = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "a" * 20 + o20a), (2L, o20a + "b" * 20),
      (3L, "c" * 20 + o20b), (4L, o20c + "d" * 20),
      (5L, "e" * 64 + "QQQQQQQQ"), (6L, "f" * 64 + "QQQQQQQQ"),
      (7L, "m" * 12 + "QQQQQQQQ" + "n" * 8),
      (27L, o20b + "h" * 20), (28L, "i" * 20 + o20c),
      (29L, "m" * 12 + "QQQQQQQQ"))
      .toDF("doc_id", "text")
  }

  test("q254 incremental stitch: batch-touching pairs only, corpus-wide caps suppress a batch pair") {
    val docs = stitchDocs
    try {
      val out = Dedup
        .boundaryStitchesIncrementalOn(docs, col("doc_id") >= 27L,
          maxKeyFreq = 2L)
        .orderBy(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // prior-prior (1,2) and the capped (29,7) are both absent
      assert(out.toSeq == Seq((3L, 27L, 20L), (28L, 4L, 20L)),
        s"incremental: ${out.toSeq}")
    } finally Dedup.unpersistCaches()
  }

  test("q254 cap-base contrast: batch-only cap bases WOULD admit the suppressed pair") {
    val docs = stitchDocs
    try {
      // same join direction (batch tails × prior heads) but caps
      // counted over the joined sides themselves — (29,7) verifies,
      // proving the full-corpus cap base did the suppression above
      val selfCapped = Dedup.boundaryStitchesFromFeatures(
        Dedup.boundaryFeatures(docs.filter(col("doc_id") >= 27L)),
        Dedup.boundaryFeatures(docs.filter(col("doc_id") < 27L)),
        maxKeyFreq = 2L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(selfCapped.toSeq.contains((29L, 7L, 20L)),
        s"self-capped: ${selfCapped.toSeq}")
    } finally Dedup.unpersistCaches()
  }

  // ------------------------------------- array-free verify (VERDICT r11 #5)

  test("array-free verify (forced over-threshold) is bit-identical and never exchanges the gram sets") {
    val dir = "/root/testdata/sf0.001"
    graft.functions.GraftFunctions.register(spark)
    Dedup.unpersistCaches()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val base = rows(Dedup.setSimNearDups(spark, dir))
    Dedup.unpersistCaches()
    // force the over-threshold regime AND disable auto-broadcast so
    // the executed plan has the 100-TB shuffle shape, not the
    // test-scale broadcast shortcut (the q126 size-conditional test's
    // discipline)
    spark.conf.set("graft.setsim.broadcastBytes", "1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Dedup.setSimNearDups(spark, dir)
      assert(rows(df) == base && base.nonEmpty,
        s"inverted verify diverged from the broadcast path")
      // the 100-TB contract of the packed verify: NO exchange in the
      // whole executed plan carries an ArrayType column — the
      // per-candidate payload is the delta-varint BinaryType packing
      // (gv, ~4× smaller than the raw gram arrays whose exchange was
      // the 30× 224 s cliff)
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import org.apache.spark.sql.types.ArrayType
      val arrayCols = scala.collection.mutable.ArrayBuffer[String]()
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case s: ShuffleExchangeLike =>
          arrayCols ++= s.output
            .filter(_.dataType.isInstanceOf[ArrayType]).map(_.name)
          s.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      assert(arrayCols.isEmpty,
        s"an exchange carried array columns: $arrayCols")
    } finally {
      spark.conf.unset("graft.setsim.broadcastBytes")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      Dedup.unpersistCaches()
    }
  }

  test("q258 threshold sweep: hand-computed quartile cuts over three planted pair Js") {
    val s = spark
    import s.implicits._
    // three near-dup pairs with exact 8-gram Jaccards 1.0, 0.8
    // (ni=8, union 10 — the pair differs only in its last char) and
    // 7/11 = 636363 ppm (last two chars differ); letters disjoint
    // across pairs. Quartile cuts over [636363, 800000, 1000000]:
    // k=⌈.25·3⌉=1 → 636363 (3 pairs, mean 812121);
    // k=⌈.5·3⌉=2 → 800000 (2, 900000); k=⌈.75·3⌉=3 → 1000000 (1).
    val docs = Seq(
      (1L, "a" * 8 + "b" * 8), (2L, "a" * 8 + "b" * 8),
      (3L, "c" * 8 + "d" * 8), (4L, "c" * 8 + "d" * 7 + "x"),
      (5L, "e" * 8 + "f" * 8), (6L, "e" * 8 + "f" * 6 + "xy"))
      .toDF("doc_id", "text")
    try {
      val pairs = Dedup.setSimJoin(docs, "doc_id", 600000L)
      val out = Dedup.sweepQuartiles(pairs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      assert(out.toSeq == Seq(
        (25L, 636363L, 3L, 812121L), (50L, 800000L, 2L, 900000L),
        (75L, 1000000L, 1L, 1000000L)), s"sweep: ${out.toSeq}")
    } finally Dedup.unpersistCaches()
  }

  test("varint gram-set packing: pack + merge-count agree with unpacked set intersection") {
    import graft.functions.VarintGramSet
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val a = Seq.fill(rnd.nextInt(60))(rnd.nextInt(500000).toLong)
        .distinct.sorted
      val b = Seq.fill(rnd.nextInt(60))(rnd.nextInt(500000).toLong)
        .distinct.sorted
      val expect = a.toSet.intersect(b.toSet).size.toLong
      val got = VarintGramSet.intersectCount(
        References.varintPack(a), References.varintPack(b))
      assert(got == expect, s"a=$a b=$b got=$got expect=$expect")
    }
    // the Expression path (pack in Spark, intersect in Spark) agrees
    // with the driver reference on a planted frame incl. empty sets
    val s = spark
    import s.implicits._
    graft.functions.GraftFunctions.register(spark)
    val df = Seq(
      (Seq(1L, 5L, 1000L, 99999L), Seq(5L, 99999L)),
      (Seq.empty[Long], Seq(1L, 2L)),
      (Seq(0L, 127L, 128L, 16384L), Seq(0L, 128L, 16384L)))
      .toDF("a", "b")
      .select(call_function("sorted_varint_intersect_count",
        call_function("varint_delta_pack", col("a")),
        call_function("varint_delta_pack", col("b"))).as("n"))
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(2L, 0L, 3L))
  }

  // ---------------------------------------------- iterative BPE (q255/q256)

  test("q255 iterative trainer: hand-computed multi-char merge sequence") {
    val s = spark
    import s.implicits._
    // vocab: abc freq 3, aaaa freq 2. Round weights (counted BEFORE
    // application, overlapping positions included):
    //   r1: (a,a) 3·2=6 > (a,b) 3 = (b,c) 3 → merge (a,a):
    //       aaaa → [aa,aa] (leftmost-non-overlapping: NOT [aa,a,a])
    //   r2: (a,b) 3 beats (aa,aa) 2 → abc → [ab,c]
    //   r3: (ab,c) 3 → [abc]   — a MULTI-CHAR rule the single-pass
    //       char-pair ranking (q241's bpeMerges) can never produce
    //   r4: (aa,aa) 2 → [aaaa]
    //   r5: best pair weight < 2 → stop at 4 rules
    val docs = Seq((1L, "s", "abc abc aaaa"), (2L, "s", "abc aaaa"))
      .toDF("doc_id", "source", "text")
    val out = graft.ops.BpeIterative.trainTableDocs(docs, 128)
      .orderBy(col("rank")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "a", "a", 6L), (2L, "a", "b", 3L), (3L, "ab", "c", 3L),
      (4L, "aa", "aa", 2L)), s"merges: ${out.toSeq}")
  }

  test("q255/q256 persisted artifact is bit-identical to a fresh training run") {
    val dir = "/root/testdata/sf0.001"
    val fresh = graft.ops.BpeIterative
      .trainTableDocs(Tables.documents(spark, dir), 128)
      .collect().map(_.toSeq).toSeq
    val stored = graft.ops.BpeIterative.trainTableQuery(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(fresh.nonEmpty && fresh == stored,
      s"persisted/fresh diverged: ${fresh.take(3)} vs ${stored.take(3)}")
  }

  test("q257 frozen drift: unseen batch words encode through the stored rules") {
    val s = spark
    import s.implicits._
    // prior: vocab abc:2, abd:1 → r1 (a,b,3); r2 (ab,c,2); stop
    // (the (ab,d) pair is weight 1 < 2). Batch: abc re-encodes to 1
    // token through the frozen rules; abe (UNSEEN) partially merges
    // to [ab, e]; xd (unseen, no rule applies) stays char-level.
    val prior = Seq((1L, "abc abc abd")).toDF("doc_id", "text")
    val batch = Seq((9L, "abc abe xd")).toDF("doc_id", "text")
    val out = graft.ops.BpeIterative.frozenDriftOn(prior, batch, 16)
      .collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq == Seq(
      ("abc", true, 3L, 1L), ("abe", false, 3L, 2L),
      ("xd", false, 2L, 2L)), s"drift: ${out.toSeq}")
  }

  test("q257 persisted frozen tokenizer is bit-identical to the fresh-trained path") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir)
    val cutoff = (docs.agg(max(col("doc_id"))).head().getLong(0) + 1L) *
      9L / 10L
    val fresh = graft.ops.BpeIterative.frozenDriftOn(
      docs.filter(col("doc_id") < cutoff),
      docs.filter(col("doc_id") >= cutoff), 16)
      .collect().map(_.toSeq).toSeq
    val stored = graft.ops.BpeIterative.frozenDriftQuery(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(fresh.nonEmpty && fresh == stored,
      s"persisted/fresh drift diverged: ${fresh.take(3)} vs ${stored.take(3)}")
  }

  test("q256 contract: monotone and lossless over the full vocab, prefix counts exceed final") {
    val out = graft.ops.BpeIterative
      .encodeContractQuery(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getBoolean(3) && r.getBoolean(4)),
      "contract booleans must hold on the real corpus")
  }

  test("q254 reconciliation: incremental equals the full q237 run filtered to batch-touching pairs") {
    val docs = stitchDocs
    try {
      val inc = Dedup
        .boundaryStitchesIncrementalOn(docs, col("doc_id") >= 27L,
          maxKeyFreq = 2L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val full = Dedup.boundaryStitchesDocs(docs, maxKeyFreq = 2L)
        .filter(col("doc_a") >= 27L || col("doc_b") >= 27L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(inc == full, s"inc=$inc full=$full")
    } finally Dedup.unpersistCaches()
  }
}
