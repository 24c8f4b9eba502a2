package graft

import graft.functions.GraftFunctions.{minhash64, shingle8, winnow8_8}
import graft.ops.{Dedup, Sampling, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation pipeline — the north-star use of
  * this engine at 100 TB: ingest → PII scrub → quality filter →
  * language ID → exact dedup → near-dedup → fingerprint →
  * stratified sample → curated corpus + stats.
  *
  * Every stage is one of the engine's tested operators; the pipeline
  * composes them into a single Catalyst job graph per output. Stage
  * order is the scale-correct one: cheap narrow filters (quality,
  * lang) shrink the corpus BEFORE the shuffling stages (dedup), and
  * the near-dup stage moves signatures and texts only for LSH
  * candidate pairs.
  */
object Pipeline {

  final case class CurationReport(
      input: Long, afterQuality: Long, afterExact: Long, afterNear: Long,
      afterSample: Long)

  /** Curate a document corpus into `sink` and return its funnel. The
    * owner of [[curateObserved]]'s frame (same precondition: unique
    * `doc_id`s): it adds the optional mixing stage (per-language
    * sampling, per-source cap; both read only doc_id, lang and source)
    * and a fifth count to that plan, runs `sink` as the one action,
    * waits for the counts with `migrate`'s bounded wait (`sink` must run
    * exactly one Spark action over its frame), and releases the
    * exact-dedup cache whatever happens.
    *
    * Adaptive execution drops the scan of an empty exact-dedup cache,
    * and the three counts observed inside it. On that path only (an
    * empty corpus, or no document of quality), one more action, an
    * aggregate over the scored input, counts the input and the quality
    * survivors. */
  def curate(docs: DataFrame, minQuality: Double = 0.5,
      nearDupJaccard: Double = 0.9,
      sampleRates: Map[String, Double] = Map.empty,
      defaultSampleRate: Double = 1.0,
      maxPerSource: Int = Int.MaxValue)(sink: DataFrame => Unit): CurationReport = {
    val (oc, oS) = (curateObserved(docs, minQuality, nearDupJaccard), Observation())
    try {
      // 5. dataset mixing: deterministic per-language sampling (rand-free
      // keep decision — retries and corpus growth can't change it)
      val rateSampled =
        if (sampleRates.isEmpty && defaultSampleRate >= 1.0) oc.curated
        else Sampling.stratifiedSample(oc.curated, "doc_id", "lang",
          sampleRates, defaultSampleRate)
      // balanced mixing: cap any over-represented source (deterministic
      // hash order, so retries and other-source growth can't change it)
      val sampled =
        if (maxPerSource == Int.MaxValue) rateSampled
        else Sampling.capPerGroup(rateSampled, "doc_id", "source",
          maxPerSource).drop("pick_rank")
      sink(sampled.observe(oS, count(lit(1)).as("rows")))
      val Seq(in, q, e, n, s) = Seq(oc.input, oc.afterQuality, oc.afterExact,
        oc.afterNear, oS).map(Observed.metrics(_, "curate", "sink")
        .get("rows").map(_.asInstanceOf[Long]))
      if (e.isDefined) CurationReport(in.get, q.get, e.get, n.get, s.get)
      else { // an empty exact-dedup cache: see above
        val r = scrubAndScore(docs).agg(count(lit(1)),
          count_if(col("quality_score") >= minQuality)).head()
        CurationReport(r.getLong(0), r.getLong(1), 0, 0, 0)
      }
    } finally oc.release()
  }

  /** What [[curateObserved]] returns. */
  final case class ObservedCuration(curated: DataFrame,
      input: Observation,
      afterQuality: Observation,
      afterExact: Observation,
      afterNear: Observation,
      release: () => Unit)

  /** The curation funnel's frame builder, with ZERO extra actions:
    * every stage count is an `observe()` metric collected WHILE the
    * single output action runs — the production shape, where a 100 TB
    * curation run cannot afford four extra passes just to report its
    * funnel. The one persist remains (a shared subplan — the LSH bands,
    * the two pair-side joins, each fetching signature and text at once,
    * and the survivors all read the exact-dedup result) but nothing
    * forces it early; it materializes inside the one action, firing the
    * observe nodes exactly once. Its caller owns the action, the reads
    * of the observations and the `release()` of the cache; [[curate]]
    * is that owner.
    *
    * Precondition: `doc_id`s are unique. The left-anti join drops EVERY
    * row whose `doc_id` equals a verified pair's `doc_b`, so two texts
    * sharing a `doc_id` both go when one is a near duplicate. */
  def curateObserved(docs: DataFrame, minQuality: Double = 0.5,
      nearDupJaccard: Double = 0.9): ObservedCuration = {
    val (oIn, oQ, oE, oN) =
      (Observation(), Observation(), Observation(), Observation())
    def rows = count(lit(1)).as("rows")
    // The first three observe()s sit BELOW the `exact` persist, so they
    // land inside the cached plan and fire exactly once per
    // materialization even though `exact` feeds several branches.
    // 1. narrow stages first: PII scrub (pure regexp projections) and
    // quality filter (shared scoring expression) shrink/clean the
    // corpus before anything shuffles. The input count sits between
    // the scoring projection and the filter (a projection keeps the
    // row count): CollectMetrics stops filter pushdown, which would
    // otherwise inline the score — and the scrub under it — into a
    // Filter below the scrub, running the PII regexes and the score
    // again for every document.
    val scored = scrubAndScore(docs)
      .observe(oIn, rows)
      .filter(col("quality_score") >= minQuality)
      .observe(oQ, rows,
        round(avg(col("quality_score")), 6).as("avg_quality"))
    // 2. exact dedup: per content hash, the row with the lowest doc_id
    // (none if all are NULL); no join back, so no fan-out on a repeat.
    // The MinHash signature is computed above the aggregate, inside
    // this one cache, so the shuffle does not carry it and the LSH
    // stages read it from here. The cache is this run's own, untracked
    // by Dedup's global registry, so a concurrent unpersistCaches
    // cannot strip it mid-flight.
    val exact = scored.groupBy(sha2(col("text"), 256))
      .agg(min_by(struct(scored.columns.map(col): _*), col("doc_id")).as("row"))
      .where(col("row").isNotNull)
      .select(col("row.*"), minhash64(shingle8(col("row.text"))).as("sig"))
      .observe(oE, rows)
      .persist()
    // 3. near-dedup (MinHash-LSH): drop the higher doc_id of each
    // verified pair (an anti join ignores repeats, so no distinct);
    // 4. fingerprint the survivors (downstream incremental dedup key)
    val curated = exact
      .join(Dedup.cachedNearDupPairs(exact, "doc_id", nearDupJaccard),
        col("doc_id") === col("doc_b"), "left_anti")
      .select(scored.columns.map(col) :+
        winnow8_8(col("text")).as("fingerprints") :+
        sha2(col("text"), 256).as("content_hash"): _*)
      .observe(oN, rows)
    ObservedCuration(curated, oIn, oQ, oE, oN,
      () => exact.unpersist(): Unit)
  }

  private def scrubAndScore(docs: DataFrame): DataFrame = docs
    .withColumn("text", graft.etl.Sanitize.redactPii(col("text")))
    .withColumn("quality_score", TextAnalysis.qualityScore(col("text")))

  /** Demo main: curate the documents table, print the funnel, write
    * the curated corpus.
    *   sbt "runMain graft.Pipeline /root/testdata/sf0.01 /tmp/curated"
    */
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_curated"
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val report = curate(Tables.documents(spark, sfDir))(
      _.write.mode("overwrite").parquet(outDir))
    println(s"""{"input":${report.input},"after_quality":${report.afterQuality},""" +
      s""""after_exact_dedup":${report.afterExact},"after_near_dedup":${report.afterNear},""" +
      s""""after_sample":${report.afterSample},"out":"$outDir"}""")
    spark.stop()
  }
}
