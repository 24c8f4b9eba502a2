package graft.perfbench

import graft.Pipeline
import graft.etl.Sanitize
import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** `curate`: the LLM-data curation funnel (PII scrub → quality →
  * exact dedup → MinHash near-dedup → winnow) over letter-permuted
  * shards of one base corpus, plus one parquet write of the curated
  * corpus per pass. The base corpus is the same for every seed, as the
  * fixture corpus is; the seed picks the shard permutations. */
object Curate extends Workload {
  val BaseDocs = 1000
  val BaseSeed = 1L
  val Shards = 2

  /** Funnel (input, after quality, after exact, after near) and output
    * digest for the default seed, as measured on the engine at the
    * benchmark's introduction. */
  val DefaultSeedExpected: (Seq[Long], (Long, Long)) =
    (Seq(2000L, 1598L, 1590L, 1518L), (1518L, 18840904535L))

  private def rows(o: org.apache.spark.sql.Observation): Long =
    o.get("rows").asInstanceOf[Long]

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Writes the seeded corpus to `dir` and returns it. */
  def corpus(ctx: Ctx, dir: String): DataFrame = {
    val base = Data.frame(ctx.spark, Data.documents(BaseSeed, BaseDocs))
    Data.docShards(base, ctx.seed, Shards).write.parquet(dir)
    ctx.spark.read.parquet(dir)
  }

  /** The funnel's layers, each called once and standalone on `docs`,
    * plus the funnel counts of one observed curation. */
  def layers(ctx: Ctx, docs: DataFrame): Map[String, Double] = {
    val tracer = ctx.tracer
    tracer.enabled = true
    graft.functions.GraftFunctions.register(ctx.spark)
    tracer.span("etl.sanitize")(noop(docs.select(Sanitize.redactPii(col("text")))))
    tracer.span("ops.text.quality")(noop(docs.select(
      TextAnalysis.qualityScore(col("text")))))
    tracer.span("ops.text.winnow")(noop(TextAnalysis.winnowed(docs)))
    val sigs = Dedup.signatureTable(docs, "doc_id", track = false)
    tracer.span("ops.dedup.signature")(sigs.count())
    val cand = Dedup.estimatePrune(Dedup.lshCandidatePairs(sigs, "doc_id"),
      sigs, sigs, "doc_a", "doc_b", 0.9).persist()
    val nCand = tracer.span("ops.dedup.candidates")(cand.count())
    val nNear = tracer.span("ops.dedup.verify")(Dedup.exactVerify(cand, docs,
      "doc_id", "doc_a", docs, "doc_id", "doc_b", 0.9).count())
    cand.unpersist()
    sigs.unpersist()
    tracer.enabled = false
    val oc = Pipeline.curateObserved(docs)
    noop(oc.curated)
    val funnel = Seq(oc.afterQuality, oc.afterExact, oc.afterNear).map(rows)
    oc.release()
    Map(
      "etl.sanitize_ms" -> tracer.totalMs("etl.sanitize"),
      "ops.text.quality_ms" -> tracer.totalMs("ops.text.quality"),
      "ops.text.winnow_ms" -> tracer.totalMs("ops.text.winnow"),
      "ops.dedup.signature_ms" -> tracer.totalMs("ops.dedup.signature"),
      "ops.dedup.candidates_ms" -> tracer.totalMs("ops.dedup.candidates"),
      "ops.dedup.verify_ms" -> tracer.totalMs("ops.dedup.verify"),
      "ops.dedup.candidate_pairs" -> nCand.toDouble,
      "ops.dedup.near_pairs" -> nNear.toDouble,
      "ops.dedup.verify_yield" -> (if (nCand == 0) 0.0 else nNear.toDouble / nCand),
      "pipeline.after_quality" -> funnel(0).toDouble,
      "pipeline.after_exact" -> funnel(1).toDouble,
      "pipeline.after_near" -> funnel(2).toDouble)
  }

  /** The corpus is written once per set-up rep and read back. */
  type State = DataFrame

  def setup(ctx: Ctx, rep: Int): DataFrame = corpus(ctx, s"${ctx.work}/corpus$rep")

  def run(ctx: Ctx, docs: DataFrame): Outcome = {
    val spark = ctx.spark
    val tracer = ctx.tracer
    val inputDocs = docs.count()
    var funnel = Seq.empty[Long]
    var first: Option[(Seq[Long], (Long, Long))] = None

    def out(i: Int) = s"${ctx.work}/curated$i"

    def pass(i: Int): Unit = {
      val oc = tracer.span("pipeline.build")(Pipeline.curateObserved(docs))
      tracer.span("pipeline.write")(oc.curated.write.parquet(out(i)))
      funnel = tracer.span("pipeline.observe")(
        Seq(oc.input, oc.afterQuality, oc.afterExact, oc.afterNear).map(rows))
      tracer.span("pipeline.release")(oc.release())
    }

    /** Untimed: the funnel and an order-independent digest of the
      * written corpus must repeat on every pass (and match the stored
      * values for the default seed); then release this pass's caches
      * and output. */
    def check(i: Int): Boolean = {
      Dedup.unpersistCaches()
      val written = spark.read.parquet(out(i))
      val d = written.agg(count(lit(1)),
          sum(xxhash64(written.columns.map(col): _*) % 1000000007L))
        .head()
      val got = (funnel, (d.getLong(0), d.getLong(1)))
      val path = new org.apache.hadoop.fs.Path(out(i))
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
      if (first.isEmpty) first = Some(got)
      val ok = first.contains(got) &&
        (ctx.seed != Main.DefaultSeed || got == DefaultSeedExpected)
      if (!ok) System.err.println(s"[perfbench] curate pass $i: $got, " +
        s"expected ${first.get}" +
        (if (ctx.seed == Main.DefaultSeed) s" and $DefaultSeedExpected" else ""))
      ok
    }

    val loop = PassLoop(ctx)(pass)(check)
    // serve is not among the workloads BENCHMARK.json lists, so a traced
    // curate run also serves one window of requests for serve's layers
    val served = if (ctx.traced) Some(Serve.run(ctx, Serve.setup(ctx, 0)))
      else None
    val layers =
      if (ctx.traced)
        Curate.layers(ctx, docs) ++ (served.get.layers - "trace.overhead_share")
      else Map.empty[String, Double]
    val docsPerS = inputDocs / (Stats.median(loop.untracedMs) / 1000.0)
    Outcome(loop.untracedMs, loop.tracedMs, loop.tracedMs.size, docsPerS,
      Seq(("curate_docs_per_s", docsPerS, "docs/s")),
      attempted = loop.attempted + served.fold(0L)(_.attempted),
      failed = loop.failed + served.fold(0L)(_.failed),
      heapPeakMb = loop.heapPeakMb, layers = layers)
  }
}
