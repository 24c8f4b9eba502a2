package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Runs a curation whose sink collects the curated rows: the sink's
    * one action. */
  private def collected(curate: (DataFrame => Unit) => Pipeline.CurationReport)
      : (Array[Row], Pipeline.CurationReport) = {
    var rows = Array.empty[Row]
    val report = curate(df => rows = df.collect())
    (rows, report)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def caches = org.apache.spark.sql.shim.CachedEntries(spark)

  test("curation funnel removes planted low-quality and duplicate docs") {
    val good = "the catalyst optimizer rewrites logical plans into " +
      "physical plans of the engine and a broadcast join is the fast path"
    val docs = Seq(
      (1L, good),
      (2L, good),                                   // exact dup of 1
      (3L, good.replace("broadcast", "shuffle")),   // near dup of 1
      (4L, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"), // punctuation garbage
      (5L, "the quick brown fox jumps over a lazy dog and the day is long " +
        "and of the morning a walk to the river is the best of plans"))
      .toDF("doc_id", "text")
    val (curated, report) = collected(Pipeline.curate(docs,
      minQuality = 0.4, nearDupJaccard = 0.7))
    val ids = curated.map(_.getAs[Long]("doc_id")).toSet
    assert(report.input == 5)
    assert(!ids.contains(4L), "garbage doc survived the quality filter")
    assert(!ids.contains(2L), "exact duplicate survived")
    assert(!ids.contains(3L), "near duplicate survived")
    assert(ids.contains(1L) && ids.contains(5L))
    assert(report.afterQuality >= report.afterExact &&
      report.afterExact >= report.afterNear)
    // survivors carry fingerprints + content hash
    assert(curated.count(_.getAs[Seq[Long]]("fingerprints").isEmpty) == 0)
    assert(curated.count(_.getAs[String]("content_hash").length != 64) == 0)
  }

  test("curation drops an empty and a NULL text at the quality filter") {
    // an empty text has no characters to divide punctuation by: it must
    // score NULL and fall out at the quality filter, not fail the job
    val good = "the quick brown fox jumps over a lazy dog and the day is " +
      "long and of the morning a walk to the river is the best of plans"
    val docs = Seq((1L, Some(good)), (2L, Some("")), (3L, None))
      .toDF("doc_id", "text")
    val (curated, report) = collected(Pipeline.curate(docs))
    assert(report.input == 3)
    assert(report.afterQuality == 1)
    assert(curated.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L))
  }

  test("exact dedup keeps one row per content hash under a repeated doc_id") {
    // (1, t1) and (2, t1) are exact copies and doc_id 1 is used twice:
    // keeping "the lowest doc_id" by joining it back on doc_id would
    // return both rows that carry doc_id 1 for each of their hashes
    val t1 = "the catalyst optimizer rewrites logical plans into " +
      "physical plans of the engine and a broadcast join is the fast path"
    val tA = "the quick brown fox jumps over a lazy dog and the day is long " +
      "and of the morning a walk to the river is the best of plans"
    val tB = "a column store keeps each attribute in its own file and the " +
      "scan reads only the columns that the query of the day needs"
    val docs = Seq((1L, t1), (1L, tA), (2L, t1), (3L, tB)).toDF("doc_id", "text")
    val (curated, report) = collected(Pipeline.curate(docs, minQuality = 0.0))
    assert(report.input == 4 && report.afterExact == 3, report)
    val out = curated.map(_.getAs[Long]("doc_id")).groupBy(identity)
      .map { case (id, ids) => id -> ids.length }
    val in = Map(1L -> 2, 2L -> 1, 3L -> 1)
    assert(out.forall { case (id, n) => n <= in.getOrElse(id, 0) }, out)
  }

  test("PPJoin setSimJoin and LSH nearDupPairs find the same planted near pairs") {
    // the exact prefix join answers the same question as the MinHash
    // generator over the same shingle sets; on planted fixtures the
    // two pair sets must agree
    val good = "the catalyst optimizer rewrites logical plans into " +
      "physical plans of the engine and a broadcast join is the fast path"
    val docs = Seq(
      (1L, good),
      (2L, good),                                   // exact dup of 1
      (3L, good.replace("broadcast", "shuffle")),   // near dup of 1
      (5L, "the quick brown fox jumps over a lazy dog and the day is long " +
        "and of the morning a walk to the river is the best of plans"))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      val ex = pairs(ops.Dedup.setSimJoin(docs, "doc_id", 700000L))
      val lsh = pairs(ops.Dedup.nearDupPairs(docs, "doc_id", 0.7))
      assert(ex == lsh, s"exact=$ex lsh=$lsh")
      assert(ex == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    } finally ops.Dedup.unpersistCaches()
  }

  test("curation scrubs PII and applies deterministic stratified sampling") {
    val docs = Tables.documents(spark, sf)
    val r = Pipeline.curate(docs,
      sampleRates = Map("en" -> 0.5), defaultSampleRate = 0.2)(noop)
    assert(r.afterSample < r.afterNear, "sampling removed nothing")
    val r2 = Pipeline.curate(docs,
      sampleRates = Map("en" -> 0.5), defaultSampleRate = 0.2)(noop)
    assert(r2.afterSample == r.afterSample, "sample not deterministic")
    // planted email is scrubbed before anything downstream sees it
    val pii = Seq((9001L, "the of and a to reach me at bob@example.com " +
      "for the plan of the day and the rest of the story of the trip"))
      .toDF("doc_id", "text")
    val (c3, _) = collected(Pipeline.curate(pii, minQuality = 0.0))
    val text = c3.head.getAs[String]("text")
    assert(text.contains("<EMAIL>") && !text.contains("bob@example.com"))
  }

  test("balanced mixing caps every source in the curated output") {
    val docs = Tables.documents(spark, sf)
    var perSource = Array.empty[Row]
    val r = Pipeline.curate(docs, maxPerSource = 5) { curated =>
      perSource = curated.groupBy("source").count().collect()
    }
    assert(perSource.forall(_.getAs[Long]("count") <= 5L),
      "a source exceeded the mixing cap")
    assert(r.afterSample < r.afterNear, "the cap removed nothing")
    val r2 = Pipeline.curate(docs, maxPerSource = 5)(noop)
    assert(r2.afterSample == r.afterSample, "mixing cap not deterministic")
  }

  test("pipeline is idempotent: curating a curated corpus removes nothing") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("curated").toString
    val r1 = Pipeline.curate(docs)(
      _.write.mode("overwrite").parquet(dir))
    val r2 = Pipeline.curate(spark.read.parquet(dir).select("doc_id", "text",
      "lang", "source", "n_chars"))(noop)
    assert(r2.input == r1.afterNear)
    assert(r2.afterNear == r2.input, "second pass removed documents")
  }

  test("a curation whose sink throws leaves no cache behind") {
    // the sink's action fails on one row: doc 3's text raises inside
    // the cached exact-dedup plan, so the exact-dedup cache is already
    // registered when the sink throws
    val good = "the catalyst optimizer rewrites logical plans into " +
      "physical plans of the engine and a broadcast join is the fast path"
    val docs = Seq((1L, good), (2L, good.replace("broadcast", "shuffle")),
        (3L, good.replace("fast", "slow")))
      .toDF("doc_id", "text").repartition(2) // not a LocalRelation fold
      .withColumn("text", when(col("doc_id") === 3L,
        raise_error(lit("planted failure"))).otherwise(col("text")))
    val before = caches
    val e = intercept[Exception](Pipeline.curate(docs, minQuality = 0.0)(noop))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("planted failure")), e)
    assert(caches == before, s"${caches - before} caches left behind")
  }

  test("a curation whose sink runs no action fails within the bounded wait") {
    val docs = Seq((1L, "the quick brown fox jumps over a lazy dog and the " +
      "day is long and of the morning a walk to the river is the best of " +
      "plans")).toDF("doc_id", "text")
    val before = caches
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](Pipeline.curate(docs)(_ => ()))
    val waitedS = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.startsWith("curate: no observed metrics after 30s"), e)
    assert(waitedS < 45, s"waited ${waitedS}s")
    assert(caches == before, s"${caches - before} caches left behind")
  }

  test("curate starts exactly the jobs of its sink over the observed frame") {
    val docs = Tables.documents(spark, sf)
    val sc = spark.sparkContext
    def jobs(group: String)(run: => Unit): Int = {
      sc.setJobGroup(group, group)
      try run finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val viaCurate = jobs("curate-jobs-curate") {
      Pipeline.curate(docs)(noop)
    }
    val viaObserved = jobs("curate-jobs-observed") {
      val oc = Pipeline.curateObserved(docs)
      try noop(oc.curated) finally oc.release()
    }
    assert(viaCurate == viaObserved && viaCurate > 0, (viaCurate, viaObserved))
  }

  test("curation of a corpus that leaves the exact-dedup cache empty reports its funnel") {
    // an empty exact-dedup cache drops out of the adaptive plan, with the
    // three counts observed inside it
    val garbage = Seq((1L, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
      (2L, "### $$$ %%% ^^^ &&& *** ((( ))) !!! ???")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    Seq(garbage -> Pipeline.CurationReport(2, 0, 0, 0, 0),
        empty -> Pipeline.CurationReport(0, 0, 0, 0, 0)).foreach {
      case (docs, expected) =>
        val before = caches
        val (curated, report) = collected(Pipeline.curate(docs))
        assert(report == expected)
        assert(curated.isEmpty)
        assert(caches == before, s"${caches - before} caches left behind")
    }
  }

  test("fused near-dup pairs equal the two-stage estimate-then-verify pairs") {
    // one join per pair side (signature and text together) against the
    // separate estimate and verify joins, on the sf0.01 documents: at
    // 0.4 both the estimate and the verify drop candidates, at 0.9
    // (curation's default) the estimate passes only verified pairs
    import graft.functions.GraftFunctions.{minhash64, shingle8}
    val cache = Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("text"),
        minhash64(shingle8(col("text"))).as("sig"))
      .persist()
    try {
      val sigs = cache.select("doc_id", "sig")
      val candidates = ops.Dedup.lshCandidatePairs(cache, "doc_id")
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)]
          .collect().toSet
      Seq(0.4, 0.9).foreach { t =>
        val fused = pairs(ops.Dedup.cachedNearDupPairs(cache, "doc_id", t))
        assert(fused.nonEmpty, s"no near pairs at $t")
        assert(fused == pairs(References.twoStageNearDupPairs(cache, t)), t)
      }
      val estimated = ops.Dedup.estimatePrune(candidates, sigs, sigs,
        "doc_a", "doc_b", 0.4).count()
      assert(estimated < candidates.count(), "the estimate pruned nothing")
      assert(pairs(ops.Dedup.cachedNearDupPairs(cache, "doc_id", 0.4)).size <
        estimated, "the verify dropped nothing")
    } finally cache.unpersist()
  }

  test("observed curation: funnel metrics from ONE action equal the counted funnel") {
    // plant exact copies (new ids) so the exact-dedup stage has work
    val base = Tables.documents(spark, sf)
    val docs = base.unionByName(base.filter(col("doc_id") % 25 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L))
    // the funnel's first two stages, counted here with their own actions
    graft.functions.GraftFunctions.register(spark)
    val scored = docs
      .withColumn("text", graft.etl.Sanitize.redactPii(col("text")))
      .filter(ops.TextAnalysis.qualityScore(col("text")) >= 0.5)
    val obs = Pipeline.curateObserved(docs)
    try {
      // the single action — everything (persists included) materializes
      // under it and the observe nodes fire exactly once
      obs.curated.write.format("noop").mode("overwrite").save()
      def rows(o: org.apache.spark.sql.Observation): Long =
        o.get("rows").asInstanceOf[Long]
      assert(rows(obs.input) == docs.count())
      assert(rows(obs.afterQuality) == scored.count())
      assert(rows(obs.afterExact) ==
        scored.select(sha2(col("text"), 256)).distinct().count())
      assert(rows(obs.afterNear) == obs.curated.count())
      assert(rows(obs.afterExact) < rows(obs.afterQuality), "exact dedup removed nothing")
      assert(rows(obs.afterNear) < rows(obs.afterExact), "near-dedup removed nothing")
      // the bonus data-quality metric rides the same action
      assert(obs.afterQuality.get("avg_quality").asInstanceOf[Double] >= 0.5)
    } finally obs.release()
  }
}
