package graft.ops

import graft.Tables
import graft.functions.GraftFunctions.{featureBuckets, rollingHash, splitmix64}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for dataset mixing — the training-data
  * primitive behind "x% of source A, y% of source B" corpus recipes.
  *
  * The keep decision is a pure arithmetic function of the row id
  * (multiplicative hash mod a prime), NOT rand(): task retries and
  * AQE re-planning cannot change the sample, reruns are reproducible
  * across engines (the DuckDB oracle replays the same arithmetic),
  * and the sample is stable under corpus growth — adding documents
  * never flips the decision for existing ids. At scale this is a
  * stateless narrow filter: no shuffle, no driver state, pushdown-
  * friendly.
  */
object Sampling {

  /** Modulus (prime) and multiplier for the id mixer. The double-mod
    * keeps every intermediate below 2^63 for any nonnegative id. */
  val Prime = 1000003L
  val Mult = 2654435761L // Knuth's 2^32 / phi

  /** Uniform-ish bucket in [0, Prime) from a nonnegative integer id —
    * plain integer arithmetic so any engine reproduces it. */
  def idBucket(id: Column): Column = pmod(pmod(id, lit(Prime)) * Mult, lit(Prime))

  /** SQL text of the same bucket (for oracles / SQL users). */
  def idBucketSql(idExpr: String): String =
    s"(($idExpr % $Prime) * $Mult) % $Prime"

  /** Second, independent id mixer (different multiplier) for
    * within-shard shuffle ORDER (Layout.trainingOrder): ordering by
    * [[idBucket]] itself would correlate position with shard
    * membership, since the shard is idBucket mod nShards. */
  val Mult2 = 1566083941L // Borosh–Niederreiter LCG multiplier

  def idShuffleKey(id: Column): Column =
    pmod(pmod(id, lit(Prime)) * Mult2, lit(Prime))

  def idShuffleKeySql(idExpr: String): String =
    s"(($idExpr % $Prime) * $Mult2) % $Prime"

  /** Keep a per-stratum fraction of rows: row kept iff its id bucket
    * falls below rate * Prime for its stratum's rate. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, r)) =>
      when(col(strataCol) === k, lit(r)).otherwise(acc)
    }
    df.filter(idBucket(col(idCol)).cast("double") < rate * Prime)
  }

  /** Query entry: language-stratified document sample (half the
    * English docs, a quarter of German, 10% of the rest) with the keep
    * bucket exposed for auditability. */
  def stratifiedDocSample(spark: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.documents(spark, dir), "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
      .select(col("doc_id"), col("lang"),
        idBucket(col("doc_id")).as("keep_bucket"))
      .orderBy(col("doc_id"), col("lang"), col("keep_bucket"))

  /** Leakage-safe train/val/test assignment: the split decision is a
    * function of a GROUP key (here the document's content hash), not
    * the row id, so exact duplicates — and, with a cluster id as the
    * key, whole near-dup clusters — can never straddle train and
    * test. FNV-1a alone is non-uniform in its low/high bits on short
    * strings (the q84 lesson), so the bucket goes through the
    * splitmix64 finalizer; the sign bit is dropped the same way on
    * both engines before the mod.
    *
    * Scale: a narrow stateless projection — no shuffle, no sampling
    * state, stable under corpus growth, and trivially re-runnable on
    * any subset (a retry can never flip an assignment). */
  def groupSplit(groupKey: Column, trainPct: Int = 80, valPct: Int = 10): (Column, Column) = {
    val bucket = pmod(
      splitmix64(rollingHash(groupKey))
        .bitwiseAND(lit(Long.MaxValue)), lit(100L))
    val split = when(bucket < trainPct, lit("train"))
      .when(bucket < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
    (bucket, split)
  }

  /** Query entry (q89): content-group split of documents. */
  def groupSplitDocs(spark: SparkSession, dir: String): DataFrame = {
    val (bucket, split) = groupSplit(col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), bucket.as("grp_bucket"), split.as("split"))
      .orderBy(col("doc_id"), col("grp_bucket"), col("split"))
  }

  /** Cluster-consistent train/val/test split (q171): the eval-hygiene
    * upgrade of q89 — the split key is the NEAR-DUP CLUSTER id (q65's
    * min-reachable-id label over the cos ≥ 0.2 graph), so not just
    * exact duplicates but whole near-duplicate families land in one
    * split; a val doc can never have a train-side near-copy (the
    * leakage mode group-by-content-hash misses, and the reason
    * dedup-aware corpora split AFTER clustering). Vectors with no
    * near-dup edge are their own cluster (coalesce to self).
    *
    * Bucket = splitmix64 of the cluster id (an INTEGER key — FNV's
    * short-string non-uniformity doesn't apply, but the finalizer
    * still decorrelates adjacent ids), sign dropped, mod 100 — the
    * q89 convention on a different key.
    *
    * Scale shape: clustering cost is q65's (amortized — a dedup
    * pipeline has the labels already); the split itself is a narrow
    * stateless projection + one keyed left join of labels, stable
    * under retries and corpus growth.
    *
    * τ defaults to the q166 tighter 0.35: at the q65 default 0.2 the
    * bundled 200-node graph is ONE component (a vacuous split —
    * everything lands together); 0.35 yields real multi-member
    * clusters among singletons at every SF. */
  def clusterSplit(spark: SparkSession, dir: String,
      trainPct: Int = 80, valPct: Int = 10,
      minCos: Double = 0.35): DataFrame = {
    clusterSplitOn(
      Tables.embeddings(spark, dir)
        .filter(col("vec_id") < 200L).select(col("vec_id")),
      Similarity.embeddingNearDups(spark, dir, minCos = minCos),
      trainPct, valPct)
  }

  /** Frame-based core of [[clusterSplit]]: `allVecs` is the vec_id
    * universe, `edges` the near-dup graph (vec_a, vec_b) from ANY
    * generator — the exact all-pairs oracle tool at test scale, the
    * LSH path ([[Similarity.lshEmbeddingNearDups]]) at corpus scale
    * (the q65/q166 edge-parity convention; the 10x rehearsal entry
    * point). */
  def clusterSplitOn(allVecs: DataFrame, edges: DataFrame,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val clusters = Dedup.dedupClusters(edges, "vec_a", "vec_b")
      .select(col("node").as("vec_id"), col("cluster_id"))
    val allv = allVecs
    val bucket = pmod(
      splitmix64(col("cluster_id"))
        .bitwiseAND(lit(Long.MaxValue)), lit(100L))
    val split = when(bucket < trainPct, lit("train"))
      .when(bucket < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
    allv.join(clusters, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
      .select(col("vec_id"), col("cluster_id"),
        bucket.as("grp_bucket"), split.as("split"))
      .orderBy(col("vec_id"), col("cluster_id"), col("grp_bucket"),
        col("split"))
  }

  /** Token-budget greedy selection (q182): per source, keep the
    * highest-quality documents until that source's TOKEN budget is
    * exhausted — the selection step every mix recipe ends with once
    * shares (q148/q152) are converted to absolute token counts. The
    * quality signal is the q35 composite rebuilt in PURE INTEGER ppm
    * (length, punctuation and stopword terms with truncating
    * division), so rank order and the budget cut replay exactly in
    * DuckDB — no float threshold anywhere. The cut is prefix-greedy:
    * documents ranked (score desc, doc_id) accumulate tokens; kept =
    * cumulative ≤ budget, and the first overflow ends the source's
    * intake (no best-fit backfill — deterministic and
    * growth-monotone: adding worse docs never flips existing keeps).
    *
    * Scale shape: one narrow projection + one window PARTITIONED by
    * source (never global) carrying the running sum — the q172
    * tercile shape with a budget instead of a rank boundary; a
    * skewed mega-source is the documented AQE-skew case. */
  def budgetSelect(spark: SparkSession, dir: String,
      budgetTokens: Long = 20000L): DataFrame =
    budgetSelectDocs(Tables.documents(spark, dir), budgetTokens)

  /** Frame-based core of [[budgetSelect]] (needs doc_id, source,
    * text). */
  def budgetSelectDocs(docs: DataFrame,
      budgetTokens: Long = 20000L): DataFrame = {
    val t = col("text")
    val nTok = size(split(t, " ")).cast("long")
    val punct = expr(
      "size(regexp_extract_all(text, '[^a-z0-9 ]', 0))").cast("long")
    val stop = TextAnalysis.stopCount(t).cast("long")
    val scored = docs.select(col("doc_id"), col("source"),
        nTok.as("n_tokens"), punct.as("punct"), stop.as("stop"),
        length(t).cast("long").as("n_chars"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr("least(n_tokens, 100L) * 4000L" +
          " + (1000000L - punct * 1000000L div nullif(n_chars, 0L))" +
          "   * 3L div 10L" +
          " + least(stop * 5000000L div n_tokens, 1000000L)" +
          "   * 3L div 10L").as("score_ppm"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score_ppm").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("score_ppm"), col("cum_tokens"),
        (col("cum_tokens") <= budgetTokens).as("kept"))
      .orderBy(col("doc_id"), col("source"), col("n_tokens"),
        col("score_ppm"), col("cum_tokens"), col("kept"))
  }

  /** DuckDB oracle for [[budgetSelect]] — same integer score, same
    * per-source running sum. */
  def budgetSelectOracleSql(budgetTokens: Long = 20000L): String =
    s"""WITH s AS (
       |  SELECT doc_id, source,
       |    LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
       |    LEN(regexp_extract_all(text, '[^a-z0-9 ]')) AS punct,
       |    LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
       |      x -> x IN ('the', 'a', 'and', 'of', 'to'))) AS stop,
       |    LENGTH(text) AS n_chars
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       |    CAST(LEAST(n_tokens, 100) * 4000
       |      + (1000000 - punct * 1000000 // NULLIF(n_chars, 0))
       |        * 3 // 10
       |      + LEAST(stop * 5000000 // n_tokens, 1000000)
       |        * 3 // 10 AS BIGINT) AS score_ppm
       |  FROM s),
       |r AS (
       |  SELECT doc_id, source, n_tokens, score_ppm,
       |    SUM(n_tokens) OVER (PARTITION BY source
       |      ORDER BY score_ppm DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM sc)
       |SELECT doc_id, source, n_tokens, score_ppm,
       |  CAST(cum AS BIGINT) AS cum_tokens,
       |  cum <= $budgetTokens AS kept
       |FROM r
       |ORDER BY doc_id, source, n_tokens, score_ppm, cum_tokens,
       |  kept""".stripMargin

  /** Arrival-order budget intake (q193): per source, admit documents
    * in ARRIVAL order (doc_id — the monotonic-ingest convention)
    * until the source's token budget fills, then stop — the online
    * counterpart of [[budgetSelect]]'s quality-ranked cut: an
    * ingesting pipeline cannot rank against future documents, so its
    * real admission rule is greedy-by-arrival, and THIS op is what
    * the streaming twin (DocStream.budgetIntakeStateful, stream ==
    * batch parity spec) maintains incrementally with one O(1)
    * counter per source.
    *
    * Scale shape: one per-source running-sum window — q182's plan
    * with arrival order instead of the score rank. */
  def budgetIntake(spark: SparkSession, dir: String,
      budgetTokens: Long = 20000L): DataFrame =
    budgetIntakeDocs(Tables.documents(spark, dir), budgetTokens)

  /** Frame-based core of [[budgetIntake]] (needs doc_id, source,
    * text). */
  def budgetIntakeDocs(docs: DataFrame,
      budgetTokens: Long = 20000L): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"),
        (col("cum_tokens") <= budgetTokens).as("kept"))
      .orderBy(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), col("kept"))
  }

  /** DuckDB oracle for [[budgetIntake]]. */
  def budgetIntakeOracleSql(budgetTokens: Long = 20000L): String =
    s"""WITH s AS (
       |  SELECT doc_id, source,
       |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, source, n_tokens,
       |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM s)
       |SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_tokens,
       |  cum <= $budgetTokens AS kept
       |FROM r
       |ORDER BY doc_id, source, n_tokens, cum_tokens, kept""".stripMargin

  /** Weighted deterministic Bernoulli sample: keep probability is a
    * rational weight num/den per row (here min(n_chars, cap)/cap —
    * long documents always kept, short ones proportionally). The keep
    * test is pure integer arithmetic (bucket·den < num·Prime), so
    * there is no float threshold to drift between engines and the
    * decision is retry/AQE-stable like every sampler here. */
  def weightedSample(df: DataFrame, idCol: String, weightNum: Column,
      weightDen: Long): DataFrame =
    df.filter(idBucket(col(idCol)) * weightDen < weightNum * Prime)

  /** Query entry (q90): length-weighted document sample. */
  def weightedDocSample(spark: SparkSession, dir: String): DataFrame = {
    val cap = 2000L
    weightedSample(Tables.documents(spark, dir), "doc_id",
        least(col("n_chars"), lit(cap)), cap)
      .select(col("doc_id"), col("n_chars"),
        idBucket(col("doc_id")).as("keep_bucket"))
      .orderBy(col("doc_id"), col("n_chars"), col("keep_bucket"))
  }

  /** Balanced domain mixing: at most `cap` documents per source,
    * chosen in deterministic pseudorandom order (the idBucket hash,
    * doc_id tie-break) — the "cap the over-represented domain" step of
    * training-mix construction, stable under retries and corpus
    * growth by anything except the capped domain itself.
    *
    * Scale shape: one row_number window keyed on source; at cluster
    * scale a skewed mega-source is exactly the AQE-skew/salting case
    * documented in SCALE.md — the rank cut only ever KEEPS `cap`
    * rows, so downstream stages see bounded per-source volume. */
  def balancedSourceMix(spark: SparkSession, dir: String,
      cap: Int = 60): DataFrame =
    capPerGroup(Tables.documents(spark, dir).select(col("doc_id"),
        col("source")), "doc_id", "source", cap)
      .select(col("doc_id"), col("source"),
        col("pick_rank").cast("long").as("pick_rank"))
      .orderBy(col("doc_id"), col("source"), col("pick_rank"))

  /** The generic cap: at most `cap` rows per group, deterministic
    * hash order (idBucket, id tie-break); adds `pick_rank`. Shared by
    * [[balancedSourceMix]] and the Pipeline mixing stage. */
  def capPerGroup(df: DataFrame, idCol: String, groupCol: String,
      cap: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(idBucket(col(idCol)).asc, col(idCol).asc)
    df.withColumn("pick_rank", row_number().over(w))
      .filter(col("pick_rank") <= cap)
  }

  /** Temperature-balanced source mixing at α = 1/2 (q148): sampling
    * weight per source ∝ n_s^α — the standard move (multilingual
    * BERT/XLM-R, Gopher) that up-weights small sources relative to
    * proportional sampling without letting any source dominate.
    * α = 1/2 is the one temperature whose power is EXACTLY computable
    * in integers: weight = ⌊√n_s⌋ via a float-seeded, ±1-adjusted
    * integer sqrt (the q94 decimal-exact-adjustment trick — the double
    * sqrt seeds, the integer compare corrects, so both engines agree
    * bit-exactly for any n < 2^53). Keep rates come out in integer
    * ppm, and the keep decision per doc is the idBucket mixer against
    * the scaled rate — rand()-free, retry-stable, oracle-replayable.
    *
    * Output: one row per source — size, integer weight, the ppm rate
    * that equalizes EXPECTED kept rows toward the α-mix, and the
    * exact kept count under the deterministic mixer. The largest
    * source's rate is 1e6 (never discard from the biggest; everything
    * else scales by √(n_s/n_max) — the convention that makes the mix
    * a pure DOWN-sample).
    *
    * Scale shape: one keyed count, one 1-row max broadcast, one
    * narrow keep-filter aggregate — no shuffle beyond the source
    * counts. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame =
    temperatureMixOn(Tables.documents(spark, dir))

  /** Exact ⌊√n⌋: double-sqrt seed, one ±1 integer adjustment —
    * bit-identical in Spark, JVM and the DuckDB replay (shared by the
    * temperature mix q148 and the curriculum schedule q152). */
  private[ops] def isqrt(n: Column): Column = {
    val s = floor(sqrt(n.cast("double"))).cast("long")
    val s1 = s - when(s * s > n, 1L).otherwise(0L)
    s1 + when((s1 + 1L) * (s1 + 1L) <= n, 1L).otherwise(0L)
  }

  /** The [[isqrt]] adjustment as DuckDB SQL over a column expression
    * `n` (assumes a prior CTE exposes `s` = FLOOR(SQRT(n))). */
  private[ops] def isqrtSql(n: String, s: String): String =
    s"""(($s - (CASE WHEN $s * $s > $n THEN 1 ELSE 0 END))
       |      + (CASE WHEN ($s - (CASE WHEN $s * $s > $n THEN 1 ELSE 0 END) + 1)
       |              * ($s - (CASE WHEN $s * $s > $n THEN 1 ELSE 0 END) + 1)
       |              <= $n THEN 1 ELSE 0 END))""".stripMargin

  /** Frame-based core of [[temperatureMix]] (needs doc_id + source) —
    * the 10x rehearsal entry point. */
  def temperatureMixOn(docsIn: DataFrame): DataFrame = {
    val docs = docsIn.select(col("doc_id"), col("source"))
    val counts = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", isqrt(col("n_docs")))
    val rates = counts
      .crossJoin(broadcast(counts.agg(max(col("w")).as("wmax"))))
      .select(col("source"), col("n_docs"), col("w"),
        expr("w * 1000000 div wmax").as("rate_ppm"))
    val kept = docs.join(broadcast(rates), Seq("source"))
      .filter(idBucket(col("doc_id")) * 1000000L <
        col("rate_ppm") * lit(Prime))
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("w"), col("rate_ppm"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("source"), col("n_docs"), col("w"), col("rate_ppm"),
        col("n_kept"))
  }

  /** Water-filling budget allocation (q208): realize a weighted
    * mixing target under per-source supply caps — given each source's
    * token supply s and weight w (here the q148 temperature weight
    * ⌊√s⌋) and a total budget T, allocate a_i = min(s_i, λ·w_i) with
    * Σ a_i = T: sources whose cap sits below the water level λ
    * saturate (take all their supply), the rest share the remainder
    * in proportion to weight. The planner between q148 (which gives
    * target SHARES) and q182 (which selects the actual documents).
    *
    * Deterministic contract: sources order by the 1e12-scaled
    * truncated ratio (s·1e12 div w, source) — both engines replay the
    * same total order, so the result is bit-stable even where true
    * ratios tie at that granularity; the saturated set is the prefix
    * up to the FIRST failing cross-multiplied level test (prefix-
    * closed by construction). Unsaturated sources get the truncating
    * proportional floor, and the ≤ |unsat| leftover units distribute
    * +1 each in source order (a_i < s_i always holds for unsaturated
    * floors, so caps survive the bonus). If T ≥ Σ s, everything
    * saturates and T − Σ s stays unallocated (there is nothing left
    * to buy). Budget T = Σ s div 2 — a data-dependent parameter the
    * oracle derives the same way (the autoK rule).
    *
    * Scale shape: everything after the per-source supply aggregate is
    * |sources|-sized — the windows are over the persisted tiny frame,
    * never the corpus. */
  def waterfillAlloc(spark: SparkSession, dir: String): DataFrame = {
    val supplies = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("supply"))
      .withColumn("weight", isqrt(col("supply")))
    waterfillAllocOn(supplies)
  }

  /** Frame-based core of [[waterfillAlloc]] over (source, supply,
    * weight) rows; budget defaults to Σ supply div 2 when not given. */
  def waterfillAllocOn(srcFrame: DataFrame,
      budget: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base0 = srcFrame.select(col("source"),
      col("supply").cast("long").as("supply"),
      col("weight").cast("long").as("weight"))
    val totals = base0.agg(
      sum(col("supply")).as("tot_s"), sum(col("weight")).as("tot_w"))
    val w1 = Window.orderBy(col("ratio_key"), col("source"))
    val base = Dedup.register(base0
      .withColumn("ratio_key", expr(
        "CAST(CAST(supply AS DECIMAL(38,0)) * 1000000000000 DIV weight AS BIGINT)"))
      .crossJoin(broadcast(totals))
      .withColumn("t_budget",
        budget.map(lit(_)).getOrElse(expr("tot_s div 2")))
      .withColumn("ord", row_number().over(w1))
      .withColumn("cum_s_before", coalesce(sum(col("supply")).over(
        w1.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("cum_w_before", coalesce(sum(col("weight")).over(
        w1.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("level_ok", expr(
        """CAST(supply AS DECIMAL(38,0)) * (tot_w - cum_w_before)
          |  <= CAST(weight AS DECIMAL(38,0)) * (t_budget - cum_s_before)"""
          .stripMargin))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val firstFail = base.agg(
      min(when(!col("level_ok"), col("ord"))).as("first_fail"))
    val flagged = base.crossJoin(broadcast(firstFail))
      .withColumn("saturated",
        col("first_fail").isNull || col("ord") < col("first_fail"))
    val unsatTot = flagged.filter(!col("saturated"))
      .agg(coalesce(sum(col("weight")), lit(0L)).as("w_unsat"),
        coalesce(sum(col("supply")), lit(0L)).as("s_unsat"))
    val satTot = flagged.filter(col("saturated"))
      .agg(coalesce(sum(col("supply")), lit(0L)).as("s_sat"))
    val floors = flagged
      .crossJoin(broadcast(unsatTot)).crossJoin(broadcast(satTot))
      .withColumn("t_fin", col("t_budget") - col("s_sat"))
      .withColumn("a0", when(col("saturated"), col("supply"))
        .otherwise(expr(
          """CAST(CAST(t_fin AS DECIMAL(38,0)) * weight
            |  DIV w_unsat AS BIGINT)""".stripMargin)))
    val leftover = floors.filter(!col("saturated"))
      .agg(coalesce(first(col("t_fin")) - sum(col("a0")), lit(0L))
        .as("leftover"))
    val bonusW = Window.partitionBy(col("saturated")).orderBy(col("source"))
    floors.crossJoin(broadcast(leftover))
      .withColumn("bonus_rank",
        when(!col("saturated"), row_number().over(bonusW)))
      .select(col("source"), col("supply"), col("weight"),
        (col("a0") + when(!col("saturated") &&
          col("bonus_rank") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc"),
        col("saturated"))
      .orderBy(col("source"), col("supply"), col("weight"),
        col("alloc"), col("saturated"))
  }

  /** DuckDB oracle for [[waterfillAlloc]] — the same supply/isqrt
    * CTEs, the same scaled-ratio order, prefix-closed level test,
    * truncating floors and source-ordered bonus. */
  def waterfillAllocOracleSql: String =
    s"""WITH c AS (
       |  SELECT source,
       |    CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS supply
       |  FROM documents GROUP BY source),
       |w0 AS (
       |  SELECT source, supply,
       |    CAST(FLOOR(SQRT(CAST(supply AS DOUBLE))) AS BIGINT) AS s
       |  FROM c),
       |sw AS (
       |  SELECT source, supply,
       |    ${isqrtSql("supply", "s")} AS weight
       |  FROM w0),
       |tot AS (
       |  SELECT CAST(SUM(supply) AS BIGINT) AS tot_s,
       |    CAST(SUM(weight) AS BIGINT) AS tot_w,
       |    CAST(SUM(supply) // 2 AS BIGINT) AS t_budget
       |  FROM sw),
       |ordd AS (
       |  SELECT source, supply, weight,
       |    CAST(CAST(supply AS HUGEINT) * 1000000000000 // weight
       |      AS BIGINT) AS ratio_key
       |  FROM sw),
       |cum AS (
       |  SELECT source, supply, weight,
       |    ROW_NUMBER() OVER (ORDER BY ratio_key, source) AS ord,
       |    COALESCE(SUM(supply) OVER (ORDER BY ratio_key, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS cum_s_before,
       |    COALESCE(SUM(weight) OVER (ORDER BY ratio_key, source
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS cum_w_before
       |  FROM ordd),
       |tested AS (
       |  SELECT cum.*,
       |    (CAST(supply AS HUGEINT) * (t.tot_w - cum_w_before)
       |      <= CAST(weight AS HUGEINT) * (t.t_budget - cum_s_before))
       |      AS level_ok
       |  FROM cum CROSS JOIN tot t),
       |ff AS (
       |  SELECT MIN(CASE WHEN NOT level_ok THEN ord END) AS first_fail
       |  FROM tested),
       |flagged AS (
       |  SELECT tested.*,
       |    (f.first_fail IS NULL OR ord < f.first_fail) AS saturated
       |  FROM tested CROSS JOIN ff f),
       |agg AS (
       |  SELECT
       |    COALESCE(SUM(weight) FILTER (NOT saturated), 0) AS w_unsat,
       |    COALESCE(SUM(supply) FILTER (saturated), 0) AS s_sat
       |  FROM flagged),
       |floors AS (
       |  SELECT flagged.*, t.t_budget - a.s_sat AS t_fin,
       |    CASE WHEN saturated THEN supply
       |      ELSE CAST(CAST(t.t_budget - a.s_sat AS HUGEINT) * weight
       |        // a.w_unsat AS BIGINT) END AS a0
       |  FROM flagged CROSS JOIN agg a CROSS JOIN tot t),
       |lo AS (
       |  SELECT COALESCE(ANY_VALUE(t_fin) - SUM(a0), 0) AS leftover
       |  FROM floors WHERE NOT saturated),
       |bonus AS (
       |  SELECT floors.*,
       |    CASE WHEN NOT saturated THEN ROW_NUMBER()
       |      OVER (PARTITION BY saturated ORDER BY source) END AS brk
       |  FROM floors)
       |SELECT source, supply, weight,
       |  CAST(a0 + (CASE WHEN NOT saturated AND brk <= l.leftover
       |    THEN 1 ELSE 0 END) AS BIGINT) AS alloc,
       |  saturated
       |FROM bonus CROSS JOIN lo l
       |ORDER BY source, supply, weight, alloc, saturated""".stripMargin
  def temperatureMixOracleSql: String =
    s"""WITH c AS (
       |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
       |w0 AS (
       |  SELECT source, n_docs,
       |    CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT) AS s
       |  FROM c),
       |w AS (
       |  SELECT source, n_docs,
       |    (s - (CASE WHEN s * s > n_docs THEN 1 ELSE 0 END))
       |      + (CASE WHEN (s - (CASE WHEN s * s > n_docs THEN 1 ELSE 0 END) + 1)
       |              * (s - (CASE WHEN s * s > n_docs THEN 1 ELSE 0 END) + 1)
       |              <= n_docs THEN 1 ELSE 0 END) AS w
       |  FROM w0),
       |r AS (
       |  SELECT source, n_docs, w,
       |    CAST(w * 1000000 // (SELECT MAX(w) FROM w) AS BIGINT) AS rate_ppm
       |  FROM w),
       |k AS (
       |  SELECT d.source, COUNT(*) AS n_kept
       |  FROM documents d JOIN r ON d.source = r.source
       |  WHERE ${idBucketSql("d.doc_id")} * 1000000 < r.rate_ppm * $Prime
       |  GROUP BY d.source)
       |SELECT r.source, r.n_docs, CAST(r.w AS BIGINT) AS w, r.rate_ppm,
       |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
       |FROM r LEFT JOIN k ON r.source = k.source
       |ORDER BY r.source, r.n_docs, w, rate_ppm, n_kept""".stripMargin

  /** DSIR-style target-affinity data selection (q146): score every
    * RAW document by how much its hashed n-gram profile looks like
    * the TARGET distribution, keep the top share. The shape follows
    * Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169) — hashed unigram+bigram features into B
    * buckets, per-bucket target vs raw distributions, per-doc
    * selection score — with ONE deliberate substitution: the paper's
    * log-probability-ratio weight becomes the exact integer
    * difference-of-rates kernel
    *   score(doc) = Σ_b c_b(doc) · (ppm_target[b] − ppm_raw[b]),
    * so every number in play is a BIGINT and the DuckDB oracle
    * replays the full pipeline bit-exactly (the repo-wide integer-ppm
    * discipline; a float log-ratio would need rounding rules at every
    * fold). Positive score ⇒ the doc leans toward the target's
    * feature mass; the kept set is the top `topPermille`/1000 by
    * (score, doc_id) — deterministic under ties.
    *
    * Feature hash: `rolling_hash` (FNV-1a, the engine's replayable
    * token hash); bucket = low log2(B) bits via pmod — B is a power
    * of two, so Spark's signed pmod and the oracle's unsigned mod
    * agree on exactly those bits. FNV's LOW bits mix well on short
    * strings (the round-3 non-uniformity caveat concerns the HIGH
    * bits / order statistics, not modulo buckets).
    *
    * Scale shape: feature explode (narrow) → two keyed aggregates
    * (bucket counts; B=1024 rows each, broadcast back) → one keyed
    * per-doc aggregate → the top-share rank. The rank's scale swap is
    * CODE (round-8, the autoK precedent): below `binWalkMinDocs` the
    * one-phase global window ranks directly (measured faster at bench
    * scale — the round-4 q128/q135 lesson that two-phase only pays on
    * big inputs); at or above the cutoff it becomes the q100
    * two-phase bin-walk — a coarse score histogram
    * (bin = score >> 16, arithmetic shift = floor-by-2¹⁶, exact for
    * negatives), a cumulative walk over the tiny bin table to the
    * boundary bin, and an exact (score desc, doc_id) rank ONLY inside
    * the boundary bin, so no single task ever sorts more than one
    * bin. Both branches produce IDENTICAL `sel` verdicts (bins
    * partition the rank order; SamplingSpec asserts equality with the
    * cutoff forced to 0). The doc count feeding the rule is a
    * parquet-metadata read. Target convention matches q51: source
    * src0 is the target set. */
  def dsirAffinitySelect(spark: SparkSession, dir: String,
      buckets: Int = 1024, topPermille: Int = 100,
      binWalkMinDocs: Long = 100000000L): DataFrame =
    dsirAffinitySelectOn(Tables.documents(spark, dir), buckets,
      topPermille, binWalkMinDocs)

  /** Frame-based core of [[dsirAffinitySelect]] (needs doc_id,
    * source, text) — the 10x rehearsal entry point. */
  def dsirAffinitySelectOn(docs: DataFrame,
      buckets: Int = 1024, topPermille: Int = 100,
      binWalkMinDocs: Long = 100000000L): DataFrame = {
    require((buckets & (buckets - 1)) == 0, "buckets must be a power of two")
    // split once into its own projection (CollapseProject keeps it —
    // non-cheap, referenced thrice), hash unigram + bigram features,
    // bucket to low bits. The exploded bucket table feeds THREE
    // consumers (target rates, raw rates, per-doc counts), so it is
    // persisted via the dedup cache registry — unregistered it
    // re-evaluates the explode+hash per branch (the q65 lesson), which
    // tripled this query's bench time.
    // r15: one native pass (graft.functions.FeatureBuckets) — the
    // interpreted transform built a concat STRING per bigram and ran
    // pmod(rolling_hash) per element through the lambda interpreter;
    // FNV-1a is sequential, so the native form continues each bigram
    // hash from the left token's state (zero string allocation).
    // Bit-identical values AND order (FeatureBucketsSpec).
    val feats = Dedup.register(docs
      .select(col("doc_id"), col("source"),
        explode(featureBuckets(col("text"), buckets)).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val target = feats.filter(col("source") === "src0")
    val raw = feats.filter(col("source") =!= "src0")
    def ratesPpm(f: DataFrame, name: String): DataFrame = {
      val k = f.groupBy(col("b")).agg(count(lit(1)).as("k"))
      k.crossJoin(broadcast(k.agg(sum(col("k")).as("n"))))
        .select(col("b"), expr("k * 1000000 div n").as(name))
    }
    val diff = ratesPpm(raw, "pr")
      .join(ratesPpm(target, "pt"), Seq("b"), "left")
      .select(col("b"),
        (coalesce(col("pt"), lit(0L)) - col("pr")).as("d"))
    // per-doc scores feed multiple consumers in BOTH rank branches
    // (count + rank one-phase; bin assignment + bin histogram +
    // decided/boundary splits two-phase — measured 9.7 s vs 2.8 s at
    // 10x unpersisted, the q65/q146-explode lesson at one level up):
    // register-persisted, narrow (doc_id, n_feats, score) rows
    val scored = Dedup.register(raw.groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(diff), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_feats"),
        sum(col("c") * col("d")).as("score"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nRaw = scored.agg(count(lit(1)).as("nd"))
    // Branch sizing from plan statistics (zero action — the previous
    // eager docs.count() here was a full Spark job per invocation; the
    // round-7 rule prefers leaf stats, measured +0.4 s/run for an
    // eager sizing aggregate): estimated docs = the plan's rowCount
    // when known, else leaf bytes div 64 — a conservative 64-byte/doc
    // floor that OVERestimates docs and flips to the bin-walk branch
    // early, the safe direction at scale. A plan with no measurable
    // leaf also takes the scale branch. Forced cutoffs
    // (0 / Long.MaxValue, the Round8OpsSpec equality fixture) behave
    // exactly as before.
    val estDocs = PlanStats.estRows(docs)
    val ranked =
      if (estDocs < binWalkMinDocs) {
        scored.crossJoin(broadcast(nRaw))
          .withColumn("rk",
            row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
          .select(col("doc_id"), col("n_feats"), col("score"),
            (col("rk") <= expr(s"nd * $topPermille div 1000")).as("sel"))
      } else {
        // q100 two-phase: coarse bins decide everything except the ONE
        // boundary bin, which gets the only exact rank — and that rank
        // runs over a single bin's rows, never the corpus
        val binned = scored.withColumn("bin", shiftright(col("score"), 16))
        val binMeta = binned.groupBy(col("bin")).agg(count(lit(1)).as("bn"))
          .crossJoin(broadcast(nRaw))
          .withColumn("cum_above", coalesce(sum(col("bn")).over(
            Window.orderBy(col("bin").desc)
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("cutoff", expr(s"nd * $topPermille div 1000"))
          .select(col("bin"), col("bn"), col("cum_above"), col("cutoff"))
        val withMeta = binned.join(broadcast(binMeta), Seq("bin"))
        val decided = withMeta
          .filter(col("cum_above") + col("bn") <= col("cutoff") ||
            col("cum_above") >= col("cutoff"))
          .select(col("doc_id"), col("n_feats"), col("score"),
            (col("cum_above") + col("bn") <= col("cutoff")).as("sel"))
        val wB = org.apache.spark.sql.expressions.Window
          .partitionBy(col("bin"))
          .orderBy(col("score").desc, col("doc_id"))
        val boundary = withMeta
          .filter(col("cum_above") < col("cutoff") &&
            col("cum_above") + col("bn") > col("cutoff"))
          .withColumn("rib", row_number().over(wB).cast("long"))
          .select(col("doc_id"), col("n_feats"), col("score"),
            (col("rib") + col("cum_above") <= col("cutoff")).as("sel"))
        decided.unionByName(boundary)
      }
    ranked.orderBy(col("doc_id"), col("n_feats"), col("score"), col("sel"))
  }

  /** Curriculum mixing schedule (q152): per training phase, the
    * per-source sampling shares, annealing LINEARLY from
    * size-proportional (phase 0 — natural distribution, the standard
    * pre-training start) to temperature-balanced α=1/2 (final phase —
    * the q148 mix, upweighting small/rare sources late in training,
    * the data-scheduling shape of curriculum/annealed mixtures à la
    * DoReMi-style reweighting schedules).
    *
    * Integer-exact: phase-p weight is the integer interpolation
    *   w_p(s) = (P−1−p)·n_s + p·⌊√n_s⌋·K
    * (K = ⌊√n_max⌋ rescales the sqrt leg to the proportional leg's
    * magnitude so the interpolation mixes comparable units), and the
    * reported share is w·1e6 div Σ_s w — every fold a BIGINT, so the
    * DuckDB oracle replays the schedule bit-exactly.
    *
    * Scale shape: one keyed source count (the only pass over data),
    * then all schedule arithmetic on |sources|×P rows — driver-scale
    * frames; a 1-row broadcast for n_max. No global step over docs. */
  def curriculumSchedule(spark: SparkSession, dir: String,
      phases: Int = 4): DataFrame =
    curriculumScheduleOn(Tables.documents(spark, dir), phases)

  /** Frame-based core of [[curriculumSchedule]]. */
  def curriculumScheduleOn(docsIn: DataFrame, phases: Int = 4): DataFrame = {
    require(phases >= 2, "need at least a start and an end phase")
    val counts = docsIn.select(col("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("sq", isqrt(col("n_docs")))
    val withK = counts.crossJoin(broadcast(
      counts.agg(max(col("n_docs")).as("n_max"))))
      .withColumn("k", isqrt(col("n_max")))
    val sched = withK
      .select(col("source"), col("n_docs"), col("sq"), col("k"),
        explode(sequence(lit(0L), lit((phases - 1).toLong))).as("phase"))
      .withColumn("w",
        (lit((phases - 1).toLong) - col("phase")) * col("n_docs") +
          col("phase") * col("sq") * col("k"))
    val tot = Window.partitionBy(col("phase"))
    sched
      .withColumn("tw", sum(col("w")).over(tot))
      .select(col("phase"), col("source"), col("n_docs"), col("w"),
        expr("CAST(w * 1000000 div tw AS BIGINT)").as("share_ppm"))
      .orderBy(col("phase"), col("source"), col("n_docs"), col("w"),
        col("share_ppm"))
  }

  /** DuckDB oracle for [[curriculumSchedule]]: same isqrt adjustment,
    * same integer interpolation, same ppm division. */
  def curriculumScheduleOracleSql(phases: Int = 4): String =
    s"""WITH c AS (
       |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
       |c0 AS (
       |  SELECT source, n_docs,
       |    CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT) AS s
       |  FROM c),
       |cq AS (
       |  SELECT source, n_docs, ${isqrtSql("n_docs", "s")} AS sq FROM c0),
       |m0 AS (
       |  SELECT MAX(n_docs) AS n_max,
       |    CAST(FLOOR(SQRT(CAST(MAX(n_docs) AS DOUBLE))) AS BIGINT) AS s
       |  FROM c),
       |mk AS (SELECT ${isqrtSql("n_max", "s")} AS k FROM m0),
       |sched AS (
       |  SELECT p.phase, cq.source, cq.n_docs,
       |    (${phases - 1} - p.phase) * cq.n_docs + p.phase * cq.sq * mk.k AS w
       |  FROM cq CROSS JOIN mk
       |  CROSS JOIN (SELECT UNNEST(range(0, $phases)) AS phase) p),
       |tot AS (SELECT phase, SUM(w) AS tw FROM sched GROUP BY phase)
       |SELECT CAST(s.phase AS BIGINT) AS phase, s.source, s.n_docs,
       |  CAST(s.w AS BIGINT) AS w,
       |  CAST(s.w * 1000000 // t.tw AS BIGINT) AS share_ppm
       |FROM sched s JOIN tot t USING (phase)
       |ORDER BY phase, source, n_docs, w, share_ppm""".stripMargin
}
