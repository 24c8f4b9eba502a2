package graft.ops

import graft.Tables
import graft.functions.GraftFunctions.{bpeEncode, pack8Seq, rollingHash,
  shingle8Seq, tokenInSetCount, winnow8_8}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: quality
  * scoring, language ID, token counting, fingerprinting. All pure
  * column expressions over the documents table — narrow, codegen'd,
  * linearly scalable; the only shuffles are the final orderBys.
  */
object TextAnalysis {

  private def tokens(c: Column): Column = split(c, " ")

  /** Marker stopwords per language for the n-gram/stopword-scoring
    * heuristic. Deliberately tiny and deterministic so the DuckDB
    * oracle can replicate the exact scoring. */
  val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "des"),
    "es" -> Seq("el", "los", "las", "y", "una"),
    "zh" -> Seq("的", "了", "是", "在", "我"))

  /** "marker ∈ token set" as a codegen'd substring test on the
    * space-padded text (token boundaries become ' m ' matches) —
    * replaces size(array_intersect(split(...), markers)), which
    * materialized the token array per language profile and ran
    * interpreted. Counts distinct markers present, like the
    * array_intersect form. */
  private def markerScore(text: Column, ms: Seq[String]): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    ms.map(m => when(padded.contains(lit(s" $m ")), 1L).otherwise(0L))
      .reduce(_ + _)
  }

  /** Composite quality score in [0,1] — THE scoring expression, shared
    * by qualityStats (rounded, oracle-checked) and
    * Pipeline.curateObserved (raw, as a filter) so the two can't drift. */
  /** English stopword-token count — `size(filter(split(text, ' '),
    * tk -> tk IN (markers)))` as the native token_in_set_count kernel
    * (NativeCountsSpec differential; the per-token isin lambda ran
    * interpreted on every quality-gated corpus scan — r16 census
    * rule). */
  private[graft] def stopCount(t: Column): Column =
    tokenInSetCount(t,
      array(markers.toMap.apply("en").map(lit): _*))

  def qualityScore(t: Column): Column = {
    val nTokens = size(tokens(t)).cast("double")
    val punct = size(regexp_extract_all(t, lit("[^a-z0-9 ]"), lit(0)))
      .cast("double")
    val stop = stopCount(t).cast("double")
    // try_divide: an empty text scores NULL (dropped by any quality
    // filter) instead of failing the job with ANSI DIVIDE_BY_ZERO;
    // DuckDB's division by zero is NULL too
    lit(0.4) * least(nTokens / 100.0, lit(1.0)) +
      lit(0.3) * (lit(1.0) - try_divide(punct, length(t).cast("double"))) +
      lit(0.3) * least(stop / nTokens * 5.0, lit(1.0))
  }

  /** DuckDB expression mirroring [[qualityScore]] rounded to 6
    * decimals — the q35 oracle's scoring term, extracted so q201's
    * keep-best selection scores with the SAME expression (single
    * source of truth; the q198 bigramProfiles move). */
  val qualityScoreSqlExpr: String =
    """ROUND(0.4 * LEAST(CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) / 100.0, 1.0) +
      |    0.3 * (1.0 - CAST(LEN(REGEXP_EXTRACT_ALL(text, '[^a-z0-9 ]')) AS DOUBLE) /
      |      CAST(LENGTH(text) AS DOUBLE)) +
      |    0.3 * LEAST(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
      |        t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE) /
      |      CAST(LEN(STRING_SPLIT(text, ' ')) AS DOUBLE) * 5.0, 1.0), 6)""".stripMargin

  /** Quality scoring: length, token stats, punctuation + stopword
    * ratios, composite score in [0,1]. */
  def qualityStats(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val nTokens = size(tokens(t)).cast("long")
    val punct = expr("size(regexp_extract_all(text, '[^a-z0-9 ]', 0))").cast("long")
    val stop = stopCount(t).cast("long")
    val punctRatio = try_divide(punct.cast("double"), length(t).cast("double"))
    val stopRatio = stop.cast("double") / nTokens.cast("double")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        length(t).cast("long").as("n_chars_m"),
        nTokens.as("n_tokens"),
        // Σ token lengths = length(text) − (n_tokens − 1): tokens are
        // the runs between single-space separators, so total chars =
        // token chars + separator count — the aggregate(transform(…))
        // fold this replaces ran interpreted per token (r16 census);
        // the int arithmetic is exact, same INT sum as the old fold
        round((length(t) - (size(tokens(t)) - lit(1)))
          .cast("double") / nTokens.cast("double"), 4).as("avg_token_len"),
        round(punctRatio, 6).as("punct_ratio"),
        round(stopRatio, 6).as("stop_ratio"),
        round(qualityScore(t), 6).as("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Language ID by marker-stopword scoring with fixed precedence.
    * Honest heuristic: the synthetic corpus draws every doc from the
    * same English-ish vocabulary, so predictions mostly land on 'en' /
    * 'und' regardless of the (random) lang label — accuracy on real
    * multilingual text is exercised in LangIdSpec fixtures instead. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val scored = Tables.documents(spark, dir).select(
      col("doc_id") +: col("lang").as("lang_label") +:
        markers.map { case (l, ms) => markerScore(t, ms).as(s"s_$l") }: _*)
    val m = greatest(markers.map { case (l, _) => col(s"s_$l") }: _*)
    val pred = markers.foldLeft(when(m === 0, "und")) {
      case (acc, (l, _)) => acc.when(col(s"s_$l") === m, l)
    }
    scored
      .withColumn("lang_pred", coalesce(pred, lit("und")))
      .orderBy(col("doc_id"))
  }

  /** Characteristic character-bigram profiles per language (tiny and
    * deterministic so the oracle can replicate the scoring). */
  val bigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("th", "he", "in", "er", "an"),
    "de" -> Seq("ch", "ei", "ie", "sc", "un"),
    "fr" -> Seq("es", "le", "ou", "qu", "ai"),
    "es" -> Seq("de", "la", "os", "el", "ón"))

  /** Language ID via character-n-gram profile scoring: count how many
    * of each language's characteristic bigrams appear in the text's
    * bigram set; argmax with fixed precedence. The second (n-gram)
    * signal next to the marker-word scorer in [[langId]]. */
  def langIdNgram(spark: SparkSession, dir: String): DataFrame =
    langIdNgramDocs(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Core of [[langIdNgram]] over any (doc_id, text, lang) frame —
    * shared with [[langidConfusion]] so prediction rules can't drift. */
  def langIdNgramDocs(docs: DataFrame): DataFrame = {
    // "profile bigram ∈ text's bigram set" is exactly contains(text,
    // bigram) — scoring as a sum of codegen'd contains() calls instead
    // of materializing the distinct-bigram array per row (the
    // transform/array_intersect form runs interpreted and re-built the
    // array once per language profile: 4 passes over every document)
    val t = col("text")
    val scored = docs.select(
      col("doc_id") +: col("lang").as("lang_label") +:
        bigramProfiles.map { case (l, ps) =>
          ps.map(bg => when(t.contains(lit(bg)), 1L).otherwise(0L))
            .reduce(_ + _).as(s"g_$l")
        }: _*)
    val m = greatest(bigramProfiles.map { case (l, _) => col(s"g_$l") }: _*)
    val pred = bigramProfiles.foldLeft(when(m === 0, "und")) {
      case (acc, (l, _)) => acc.when(col(s"g_$l") === m, l)
    }
    scored.withColumn("lang_pred_ngram", coalesce(pred, lit("und")))
  }

  /** Classifier evaluation (q121): confusion matrix of the n-gram
    * language identifier against the corpus's labeled `lang` column,
    * one row per (label, prediction) cell with the cell count, row
    * and column totals, and the cell's row/column shares in integer
    * ppm — on the diagonal those ARE per-class recall and precision.
    * The eval loop every curation pipeline runs when it tunes a
    * heuristic classifier against a labeled sample; everything is
    * exact integers, so the oracle replays bit-for-bit.
    *
    * Scale shape: the prediction is a codegen'd scan projection; the
    * matrix is one (label, pred) partial-aggregated groupBy — cells
    * bounded by |langs|², so the windows run over ≤ dozens of rows
    * regardless of corpus size. */
  def langidConfusion(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = langIdNgramDocs(docs)
      .select(col("lang_label"), col("lang_pred_ngram").as("lang_pred"))
      .groupBy(col("lang_label"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    cells
      .withColumn("label_total",
        sum(col("n")).over(Window.partitionBy(col("lang_label"))))
      .withColumn("pred_total",
        sum(col("n")).over(Window.partitionBy(col("lang_pred"))))
      .select(col("lang_label"), col("lang_pred"), col("n"),
        col("label_total"), col("pred_total"),
        expr("n * 1000000 div label_total").as("row_share_ppm"),
        expr("n * 1000000 div pred_total").as("col_share_ppm"))
      .orderBy(col("lang_label"), col("lang_pred"), col("n"),
        col("label_total"), col("pred_total"), col("row_share_ppm"),
        col("col_share_ppm"))
  }

  /** Query entry (q121). */
  def langidConfusionQuery(spark: SparkSession, dir: String): DataFrame =
    langidConfusion(Tables.documents(spark, dir))

  /** Per-source language-label noise (q198): the share of a source's
    * documents whose n-gram prediction DISAGREES with the declared
    * `lang` label — q121's confusion matrix sliced the way curation
    * acts on it (which ingest SOURCE ships noisy labels and needs
    * re-identification before per-language mixing trusts its
    * counts). "und" (no bigram signal) is reported separately, not
    * as a mismatch. Reuses [[langIdNgramDocs]] verbatim so the
    * prediction rule cannot drift from q55/q121.
    *
    * Scale shape: the codegen'd scoring projection + one narrow
    * doc_id join for the source label + one source rollup. */
  def langMismatch(spark: SparkSession, dir: String): DataFrame =
    langMismatchDocs(Tables.documents(spark, dir))

  /** Frame-based core of [[langMismatch]] (needs doc_id, source,
    * lang, text). */
  def langMismatchDocs(docs: DataFrame): DataFrame =
    langIdNgramDocs(docs)
      .select(col("doc_id"), col("lang_label"), col("lang_pred_ngram"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("count_if(lang_pred_ngram <> 'und'" +
          " AND lang_pred_ngram <> lang_label)").as("n_mismatch"),
        expr("count_if(lang_pred_ngram = 'und')").as("n_und"))
      .select(col("source"), col("n_docs"), col("n_mismatch"),
        col("n_und"),
        expr("n_mismatch * 1000000 div n_docs").as("mismatch_ppm"))
      .orderBy(col("source"), col("n_docs"), col("n_mismatch"),
        col("n_und"), col("mismatch_ppm"))

  /** DuckDB oracle for [[langMismatch]] — the q55/q121 scoring CTE
    * generated from [[bigramProfiles]] (single source of truth) with
    * the same fixed-precedence argmax. */
  def langMismatchOracleSql: String =
    s"""WITH $predScoringCtes
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(COUNT(*) FILTER (lang_pred <> 'und'
       |    AND lang_pred <> lang_label) AS BIGINT) AS n_mismatch,
       |  CAST(COUNT(*) FILTER (lang_pred = 'und') AS BIGINT) AS n_und,
       |  CAST(COUNT(*) FILTER (lang_pred <> 'und'
       |    AND lang_pred <> lang_label) * 1000000 // COUNT(*)
       |    AS BIGINT) AS mismatch_ppm
       |FROM pred GROUP BY source
       |ORDER BY source, n_docs, n_mismatch, n_und, mismatch_ppm""".stripMargin

  /** Scoring + fixed-precedence-argmax CTEs (`scored`, `pred` with
    * (source, lang_label, lang_pred)) generated from
    * [[bigramProfiles]] — the single source of truth shared by the
    * q198 and q205 oracles. */
  def predScoringCtes: String = {
    val scoredCols = bigramProfiles.map { case (l, ps) =>
      val items = ps.map(p => s"'$p'").mkString(", ")
      s"""CAST(LEN(LIST_INTERSECT(LIST_DISTINCT([SUBSTR(text, i, 2)
         |      FOR i IN RANGE(1, GREATEST(LENGTH(text) - 1, 1) + 1)]),
         |      [$items])) AS BIGINT) AS g_$l""".stripMargin
    }.mkString(",\n    ")
    val gCols = bigramProfiles.map { case (l, _) => s"g_$l" }
      .mkString(", ")
    val whens = bigramProfiles.map { case (l, _) =>
      s"WHEN g_$l = GREATEST($gCols) THEN '$l'"
    }.mkString("\n         ")
    val n = bigramProfiles.size
    s"""scored AS (
       |  SELECT doc_id, source, lang AS lang_label,
       |    $scoredCols
       |  FROM documents),
       |pred AS (
       |  SELECT source, lang_label,
       |    CASE WHEN GREATEST($gCols) = 0 THEN 'und'
       |         $whens
       |         ELSE 'und' END AS lang_pred,
       |    CASE WHEN GREATEST($gCols) = 0 THEN -1
       |         ELSE LIST_SORT([$gCols])[$n]
       |            - LIST_SORT([$gCols])[${n - 1}]
       |         END AS margin
       |  FROM scored)""".stripMargin
  }

  /** Confidence-calibration audit (q214): the reliability diagram of
    * the q55 n-gram language identifier, in exact integers. The
    * classifier's "confidence" is its argmax MARGIN (best score −
    * runner-up; a tie = margin 0, no bigram signal at all = the
    * separate −1 row); per margin bin the audit reports document
    * count, correct count and accuracy ppm. A well-calibrated
    * heuristic shows accuracy rising monotonically with margin —
    * that monotone curve is what justifies q151-style threshold
    * gates on the score; an inversion means the score is NOT
    * evidence and gating on it filters noise. Next to q121
    * (confusion: WHERE the errors go) and q205 (kappa: how much
    * beats chance), this is the third leg: whether the score
    * magnitude carries information.
    *
    * Scale shape: the codegen'd scoring projection plus one
    * map-side-combined groupBy over ≤ |score range| + 1 bins. */
  def calibrationAudit(spark: SparkSession, dir: String): DataFrame =
    calibrationDocs(Tables.documents(spark, dir))

  /** Frame-based core of [[calibrationAudit]] (needs lang, text). */
  def calibrationDocs(docs: DataFrame): DataFrame =
    calibrationFromCounts(calibrationCounts(docs))

  /** Additive (margin, n_docs, n_correct) counts — the mergeable
    * state shared by the batch audit and the streaming twin
    * (per-doc rows are independent, so per-margin counts merge by
    * sum and are chunking-invariant). */
  def calibrationCounts(docs: DataFrame): DataFrame = {
    val n = bigramProfiles.size
    val gCols = bigramProfiles.map { case (l, _) => col(s"g_$l") }
    val sorted = sort_array(array(gCols: _*))
    val maxS = element_at(sorted, n)
    langIdNgramDocs(docs)
      .select(col("lang_label"), col("lang_pred_ngram"),
        when(maxS === 0L, lit(-1L))
          .otherwise((maxS - element_at(sorted, n - 1)).cast("long"))
          .as("margin"))
      .groupBy(col("margin"))
      .agg(count(lit(1)).as("n_docs"),
        expr("count_if(lang_pred_ngram = lang_label)").as("n_correct"))
  }

  /** The read over [[calibrationCounts]]-shaped state: derive the
    * accuracy ppm and the total order. */
  def calibrationFromCounts(counts: DataFrame): DataFrame =
    counts
      .select(col("margin"), col("n_docs"), col("n_correct"),
        expr("n_correct * 1000000 div n_docs").as("acc_ppm"))
      .orderBy(col("margin"), col("n_docs"), col("n_correct"),
        col("acc_ppm"))

  /** DuckDB oracle for [[calibrationAudit]] — the shared scoring CTEs
    * (margin included there so the bin rule has one source of
    * truth). */
  def calibrationOracleSql: String =
    s"""WITH $predScoringCtes
       |SELECT CAST(margin AS BIGINT) AS margin,
       |  COUNT(*) AS n_docs,
       |  CAST(COUNT(*) FILTER (lang_pred = lang_label) AS BIGINT)
       |    AS n_correct,
       |  CAST(COUNT(*) FILTER (lang_pred = lang_label) * 1000000
       |    // COUNT(*) AS BIGINT) AS acc_ppm
       |FROM pred GROUP BY margin
       |ORDER BY margin, n_docs, n_correct, acc_ppm""".stripMargin

  /** Zipf tail profile (q217): the corpus token-frequency spectrum
    * in log₂ frequency-doubling bins — per bin the type count, token
    * mass, and the DECAY ratio vs the previous bin (ppm). For a
    * Zipf-law corpus with exponent s ≈ 1 the type count roughly
    * halves per frequency doubling (decay ≈ 500000 ppm); a decay
    * ratio drifting toward 1e6 in the tail means the vocabulary is
    * heavier-tailed than natural text (boilerplate/template mass —
    * the signal q74's repetition rules act on, here as one corpus
    * fingerprint). Log₂ via LENGTH(BIN(f)) − 1 — the q184 idiom, no
    * floats anywhere.
    *
    * Scale shape: explode + one (token) aggregate + one tiny-bin
    * aggregate; the lag window runs over ≤ 64 bin rows. */
  def zipfProfile(spark: SparkSession, dir: String): DataFrame =
    zipfProfileDocs(Tables.documents(spark, dir))

  /** Frame-based core of [[zipfProfile]] (needs text; q37's
    * whitespace tokens, empties dropped). */
  def zipfProfileDocs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bins = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
      .groupBy((length(bin(col("f"))) - 1).cast("long").as("log2_freq"))
      .agg(count(lit(1)).as("n_types"), sum(col("f")).as("n_tokens"))
    bins
      .withColumn("prev_types",
        lag(col("n_types"), 1).over(Window.orderBy(col("log2_freq"))))
      .select(col("log2_freq"), col("n_types"), col("n_tokens"),
        coalesce(expr("n_types * 1000000 div prev_types"), lit(0L))
          .as("decay_ppm"))
      .orderBy(col("log2_freq"), col("n_types"), col("n_tokens"),
        col("decay_ppm"))
  }

  /** DuckDB oracle for [[zipfProfile]] — same tokens, same
    * LENGTH(BIN())−1 binning, same lag ratio. */
  val zipfProfileOracleSql: String =
    """WITH tok AS (
      |  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents),
      |f AS (
      |  SELECT tok, COUNT(*) AS f FROM tok
      |  WHERE LENGTH(tok) > 0 GROUP BY tok),
      |b AS (
      |  SELECT CAST(LENGTH(BIN(f)) - 1 AS BIGINT) AS log2_freq,
      |    CAST(COUNT(*) AS BIGINT) AS n_types,
      |    CAST(SUM(f) AS BIGINT) AS n_tokens
      |  FROM f GROUP BY 1),
      |w AS (
      |  SELECT log2_freq, n_types, n_tokens,
      |    LAG(n_types) OVER (ORDER BY log2_freq) AS prev_types
      |  FROM b)
      |SELECT log2_freq, n_types, n_tokens,
      |  CAST(COALESCE(n_types * 1000000 // prev_types, 0) AS BIGINT)
      |    AS decay_ppm
      |FROM w
      |ORDER BY log2_freq, n_types, n_tokens, decay_ppm""".stripMargin

  /** Release-diff card (q221): the q165 corpus card's two-sided
    * sibling — compare two sources (standing in for two corpus
    * releases) as (metric, value) rows: document-count ratio,
    * language-mix TVD, length-distribution TVD (log₂ char bins) and
    * vocabulary Jaccard, all exact integer ppm (TVD cross-multiplied
    * in DECIMAL(38,0), never a float share). The one-look answer to
    * "did the new crawl change the corpus?" before any mixing
    * weights are re-derived.
    *
    * Scale shape: one two-source projection persisted for its four
    * consumers; everything downstream is |langs|/|bins|/|vocab|-keyed
    * aggregates folding to 4 rows. */
  def releaseDiff(spark: SparkSession, dir: String,
      srcA: String = "src0", srcB: String = "src1"): DataFrame =
    releaseDiffDocs(Tables.documents(spark, dir), srcA, srcB)

  /** Frame-based core of [[releaseDiff]] (needs source, lang,
    * n_chars, text). */
  def releaseDiffDocs(docs0: DataFrame, srcA: String,
      srcB: String): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    val docs = Dedup.register(docs0
      .filter(col("source").isin(srcA, srcB))
      .select(col("source"), col("lang"), col("n_chars"), col("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val totals = docs.agg(
      sum(when(col("source") === srcA, 1L).otherwise(0L)).as("na"),
      sum(when(col("source") === srcB, 1L).otherwise(0L)).as("nb"))
    val ratio = totals.select(lit("doc_ratio_ppm").as("metric"),
      expr("nb * 1000000 div na").as("value"))
    def tvd(cells: DataFrame, name: String): DataFrame =
      cells.crossJoin(broadcast(totals))
        .agg(sum(abs(d(col("ca")) * d(col("nb")) -
          d(col("cb")) * d(col("na")))).as("num"),
          max(col("na")).as("na"), max(col("nb")).as("nb"))
        .select(lit(name).as("metric"),
          expr("CAST((num * 1000000) div (2 * CAST(na AS DECIMAL(38,0))" +
            " * CAST(nb AS DECIMAL(38,0))) AS BIGINT)").as("value"))
    def sideCounts(g: Column, n: String) = docs.groupBy(g.as(n))
      .agg(sum(when(col("source") === srcA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("source") === srcB, 1L).otherwise(0L)).as("cb"))
    val langTvd = tvd(sideCounts(col("lang"), "lang"), "lang_tvd_ppm")
    val lenTvd = tvd(sideCounts(
      (length(bin(col("n_chars"))) - 1).cast("long"), "b"),
      "len_tvd_ppm")
    val vocab = docs
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0).distinct()
      .groupBy(col("tok"))
      .agg(max(when(col("source") === srcA, 1L).otherwise(0L)).as("ia"),
        max(when(col("source") === srcB, 1L).otherwise(0L)).as("ib"))
      .agg(sum(when(col("ia") === 1L && col("ib") === 1L, 1L)
        .otherwise(0L)).as("inter"), count(lit(1)).as("uni"))
      .select(lit("vocab_jaccard_ppm").as("metric"),
        expr("inter * 1000000 div uni").as("value"))
    ratio.union(langTvd).union(lenTvd).union(vocab)
      .orderBy(col("metric"), col("value"))
  }

  /** DuckDB oracle for [[releaseDiff]] — same four metrics, HUGEINT
    * TVD folds. */
  def releaseDiffOracleSql(srcA: String = "src0",
      srcB: String = "src1"): String =
    s"""WITH d AS (
       |  SELECT source, lang, n_chars, text FROM documents
       |  WHERE source IN ('$srcA', '$srcB')),
       |t AS (
       |  SELECT CAST(COUNT(*) FILTER (source = '$srcA') AS BIGINT) AS na,
       |    CAST(COUNT(*) FILTER (source = '$srcB') AS BIGINT) AS nb
       |  FROM d),
       |lc AS (
       |  SELECT lang, COUNT(*) FILTER (source = '$srcA') AS ca,
       |    COUNT(*) FILTER (source = '$srcB') AS cb
       |  FROM d GROUP BY lang),
       |ltvd AS (
       |  SELECT SUM(ABS(CAST(ca AS HUGEINT) * t.nb
       |    - CAST(cb AS HUGEINT) * t.na)) AS num
       |  FROM lc CROSS JOIN t),
       |bc AS (
       |  SELECT CAST(LENGTH(BIN(n_chars)) - 1 AS BIGINT) AS b,
       |    COUNT(*) FILTER (source = '$srcA') AS ca,
       |    COUNT(*) FILTER (source = '$srcB') AS cb
       |  FROM d GROUP BY 1),
       |btvd AS (
       |  SELECT SUM(ABS(CAST(ca AS HUGEINT) * t.nb
       |    - CAST(cb AS HUGEINT) * t.na)) AS num
       |  FROM bc CROSS JOIN t),
       |tk AS (
       |  SELECT DISTINCT source, tok FROM (
       |    SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS tok
       |    FROM d) WHERE LENGTH(tok) > 0),
       |v AS (
       |  SELECT tok,
       |    MAX(CASE WHEN source = '$srcA' THEN 1 ELSE 0 END) AS ia,
       |    MAX(CASE WHEN source = '$srcB' THEN 1 ELSE 0 END) AS ib
       |  FROM tk GROUP BY tok),
       |vj AS (
       |  SELECT CAST(SUM(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS inter, COUNT(*) AS uni
       |  FROM v)
       |SELECT * FROM (
       |  SELECT 'doc_ratio_ppm' AS metric,
       |    CAST(nb * 1000000 // na AS BIGINT) AS value FROM t
       |  UNION ALL
       |  SELECT 'lang_tvd_ppm', CAST(num * 1000000
       |    // (2 * CAST(t.na AS HUGEINT) * t.nb) AS BIGINT)
       |  FROM ltvd CROSS JOIN t
       |  UNION ALL
       |  SELECT 'len_tvd_ppm', CAST(num * 1000000
       |    // (2 * CAST(t.na AS HUGEINT) * t.nb) AS BIGINT)
       |  FROM btvd CROSS JOIN t
       |  UNION ALL
       |  SELECT 'vocab_jaccard_ppm',
       |    CAST(inter * 1000000 // uni AS BIGINT) FROM vj)
       |ORDER BY metric, value""".stripMargin

  /** Vocabulary growth curve (q227): Heaps'-law profile — bucket the
    * corpus into ten id-ordered ingest deciles and report, per
    * decile, the token mass, the NEW types first seen there, the
    * cumulative types/tokens, and the cumulative type-token ratio
    * (ppm). The capacity-planning read before a vocabulary-dependent
    * artifact (BPE merges, OOV tables, hash-vocab sizing) freezes:
    * natural text grows types ∝ tokens^β with β ≈ 0.5 (TTR keeps
    * falling); a flattening curve says the vocabulary has saturated.
    * Deciles come from doc_id against the corpus count (one 1-row
    * broadcast — the autoK trick, NOT a global sort; ids stand in
    * for arrival order exactly as in q193).
    *
    * Scale shape: explode → one (token) min-decile aggregate + one
    * (decile, token-mass) aggregate; the cumulative window runs over
    * 10 rows. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame =
    vocabGrowthDocs(Tables.documents(spark, dir))

  /** Frame-based core of [[vocabGrowth]] (needs doc_id, text). */
  def vocabGrowthDocs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val total = docs.agg(count(lit(1)).as("nd"))
    val toks = Dedup.register(docs.crossJoin(broadcast(total))
      .select(least(expr("doc_id * 10 div nd"), lit(9L)).as("decile"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val newTypes = toks.groupBy(col("tok"))
      .agg(min(col("decile")).as("decile"))
      .groupBy(col("decile")).agg(count(lit(1)).as("new_types"))
    val mass = toks.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_tokens"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mass.join(newTypes, Seq("decile"), "left")
      .select(col("decile"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      .withColumn("cum_types", sum(col("new_types")).over(w))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(col("decile"), col("n_tokens"), col("new_types"),
        col("cum_types"), col("cum_tokens"),
        expr("cum_types * 1000000 div cum_tokens").as("ttr_ppm"))
      .orderBy(col("decile"), col("n_tokens"), col("new_types"),
        col("cum_types"), col("cum_tokens"), col("ttr_ppm"))
  }

  /** DuckDB oracle for [[vocabGrowth]] — the decile rule derived
    * from the corpus's own count (scalar subquery), same prefix
    * accumulation. */
  val vocabGrowthOracleSql: String =
    """WITH nd AS (SELECT COUNT(*) AS nd FROM documents),
      |tk AS (
      |  SELECT LEAST(doc_id * 10 // nd.nd, 9) AS decile,
      |    UNNEST(STRING_SPLIT(text, ' ')) AS tok
      |  FROM documents CROSS JOIN nd),
      |t2 AS (SELECT decile, tok FROM tk WHERE LENGTH(tok) > 0),
      |nt AS (
      |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS new_types
      |  FROM (SELECT tok, MIN(decile) AS decile FROM t2 GROUP BY tok)
      |  GROUP BY decile),
      |ms AS (
      |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_tokens
      |  FROM t2 GROUP BY decile),
      |c AS (
      |  SELECT ms.decile, ms.n_tokens,
      |    CAST(COALESCE(nt.new_types, 0) AS BIGINT) AS new_types
      |  FROM ms LEFT JOIN nt ON nt.decile = ms.decile),
      |w AS (
      |  SELECT decile, n_tokens, new_types,
      |    CAST(SUM(new_types) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cum_types,
      |    CAST(SUM(n_tokens) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cum_tokens
      |  FROM c)
      |SELECT decile, n_tokens, new_types, cum_types, cum_tokens,
      |  CAST(cum_types * 1000000 // cum_tokens AS BIGINT) AS ttr_ppm
      |FROM w
      |ORDER BY decile, n_tokens, new_types, cum_types, cum_tokens,
      |  ttr_ppm""".stripMargin

  /** Quality–length confounder audit (q234): mean q35 quality score
    * per log₂ document-length bin — the trap check before any
    * score-thresholded filter ships: if quality correlates with
    * LENGTH, a flat quality cut silently becomes a length cut and
    * skews the surviving mix (the known failure mode of
    * stopword/punct-ratio heuristics on short docs). Shares the
    * scorer with q201 ([[qualityScore]], round-6dp → ppm) and the
    * binning idiom with q184/q217.
    *
    * Scale shape: one codegen'd scoring projection + one
    * map-side-combined groupBy into ≤ 64 bins. */
  def qualityLengthBias(spark: SparkSession, dir: String): DataFrame =
    qualityLengthBiasDocs(Tables.documents(spark, dir))

  /** Frame-based core of [[qualityLengthBias]] (needs text,
    * n_chars). */
  def qualityLengthBiasDocs(docs: DataFrame): DataFrame = {
    docs
      .select((length(bin(col("n_chars"))) - 1).cast("long")
        .as("len_bin"),
        round(round(qualityScore(col("text")), 6) * 1000000d, 0)
          .cast("long").as("q_ppm"))
      .groupBy(col("len_bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("q_ppm")).as("sq"))
      .select(col("len_bin"), col("n_docs"),
        expr("sq div n_docs").as("mean_q_ppm"))
      .orderBy(col("len_bin"), col("n_docs"), col("mean_q_ppm"))
  }

  /** DuckDB oracle for [[qualityLengthBias]] — same scorer
    * expression, same bins. */
  def qualityLengthBiasOracleSql: String =
    s"""WITH q AS (
       |  SELECT CAST(LENGTH(BIN(n_chars)) - 1 AS BIGINT) AS len_bin,
       |    CAST(ROUND($qualityScoreSqlExpr * 1000000) AS BIGINT)
       |      AS q_ppm
       |  FROM documents)
       |SELECT len_bin, COUNT(*) AS n_docs,
       |  CAST(SUM(q_ppm) // COUNT(*) AS BIGINT) AS mean_q_ppm
       |FROM q GROUP BY len_bin
       |ORDER BY len_bin, n_docs, mean_q_ppm""".stripMargin

  /** Per-source quality percentile normalization (q240): each doc's
    * q35 quality score converted to its WITHIN-SOURCE percentile
    * (exact integer ppm of rank over n−1) — the CCNet move: a flat
    * score threshold cuts different fractions of different domains
    * (q234 shows why: score correlates with length, and length mixes
    * differ by source), so production filters cut at a PERCENTILE
    * per source. This op materializes exactly that cut key,
    * deterministic ((q_ppm, doc_id) rank ties) and comparable across
    * sources by construction.
    *
    * Scale shape: the scoring projection + one rank window
    * PARTITIONED by source (never corpus-global) over the scored
    * table; output is corpus-sized by design (it's a per-doc
    * feature, like q110). */
  def sourceQualityRank(spark: SparkSession, dir: String): DataFrame =
    sourceQualityRankDocs(Tables.documents(spark, dir))

  /** Frame-based core of [[sourceQualityRank]] (needs doc_id,
    * source, text). */
  def sourceQualityRankDocs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs.select(col("doc_id"), col("source"),
      round(round(qualityScore(col("text")), 6) * 1000000d, 0)
        .cast("long").as("q_ppm"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("q_ppm"), col("doc_id"))
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy(col("source"))))
      .select(col("doc_id"), col("source"), col("q_ppm"),
        expr("(rn - 1) * 1000000 div greatest(n - 1, 1)")
          .as("pct_ppm"))
      .orderBy(col("doc_id"), col("source"), col("q_ppm"),
        col("pct_ppm"))
  }

  /** DuckDB oracle for [[sourceQualityRank]] — same scorer, same
    * deterministic rank. */
  def sourceQualityRankOracleSql: String =
    s"""WITH s AS (
       |  SELECT doc_id, source,
       |    CAST(ROUND($qualityScoreSqlExpr * 1000000) AS BIGINT)
       |      AS q_ppm
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, source, q_ppm,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY q_ppm, doc_id) AS BIGINT) AS rn,
       |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
       |  FROM s)
       |SELECT doc_id, source, q_ppm,
       |  CAST((rn - 1) * 1000000 // GREATEST(n - 1, 1) AS BIGINT)
       |    AS pct_ppm
       |FROM r
       |ORDER BY doc_id, source, q_ppm, pct_ppm""".stripMargin

  /** Distributed heavy-hitter union contract (q222): the mergeable
    * heavy-hitter pattern with its completeness theorem hash-checked.
    * Each shard (deterministic id-mixer buckets) emits every token
    * whose LOCAL frequency clears local_total/C; the union of shard
    * candidates then provably contains EVERY global token with
    * frequency ≥ total/C (pigeonhole: f < tᵢ/C on every shard sums
    * to f < total/C). Output: each global heavy hitter with its
    * exact count, share ppm, the candidate-set size (the sketch
    * overhead a coordinator would ship), and `in_candidates` — TRUE
    * by the theorem, so a broken shard threshold fails the hash
    * compare (the q57/q195 contract pattern).
    *
    * Scale shape: one (shard, token) aggregate + one (token)
    * aggregate off it — the second stage re-aggregates the first's
    * output, never rescans the corpus; candidates are ≤ S·C rows. */
  def hhUnionContract(spark: SparkSession, dir: String,
      nShards: Int = 8, c: Int = 100): DataFrame =
    hhUnionContractDocs(Tables.documents(spark, dir), nShards, c)

  /** Frame-based core of [[hhUnionContract]] (needs doc_id, text). */
  def hhUnionContractDocs(docs: DataFrame, nShards: Int = 8,
      c: Int = 100): DataFrame =
    hhUnionFromLocal(Dedup.register(docs
      .select(pmod(Sampling.idBucket(col("doc_id")),
        lit(nShards.toLong)).as("shard"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("shard"), col("tok"))
      .agg(count(lit(1)).as("f"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)), c)

  /** The contract over already-sharded (shard, tok, f) local counts
    * — the planted spec feeds these directly. */
  def hhUnionFromLocal(local: DataFrame, c: Int): DataFrame = {
    val shardTot = local.groupBy(col("shard"))
      .agg(sum(col("f")).as("st"))
    val cands = local.join(shardTot, Seq("shard"))
      .filter(col("f") * c >= col("st"))
      .select(col("tok")).distinct()
    val candCount = cands.agg(count(lit(1)).as("n_candidates"))
    val global = local.groupBy(col("tok")).agg(sum(col("f")).as("freq"))
    val total = global.agg(sum(col("freq")).as("total"))
    global.crossJoin(broadcast(total))
      .filter(col("freq") * c >= col("total"))
      .join(cands.select(col("tok"), lit(true).as("hit")),
        Seq("tok"), "left")
      .crossJoin(broadcast(candCount))
      .select(col("tok"), col("freq"),
        expr("freq * 1000000 div total").as("share_ppm"),
        col("n_candidates"),
        coalesce(col("hit"), lit(false)).as("in_candidates"))
      .orderBy(col("tok"), col("freq"), col("share_ppm"),
        col("n_candidates"), col("in_candidates"))
  }

  /** DuckDB oracle for [[hhUnionContract]] — same shard mixer, same
    * cross-multiplied thresholds. */
  def hhUnionContractOracleSql(nShards: Int = 8,
      c: Int = 100): String =
    s"""WITH lt AS (
       |  SELECT CAST(${Sampling.idBucketSql("doc_id")} % $nShards
       |      AS BIGINT) AS shard,
       |    UNNEST(STRING_SPLIT(text, ' ')) AS tok
       |  FROM documents),
       |local AS (
       |  SELECT shard, tok, CAST(COUNT(*) AS BIGINT) AS f
       |  FROM lt WHERE LENGTH(tok) > 0 GROUP BY shard, tok),
       |st AS (
       |  SELECT shard, CAST(SUM(f) AS BIGINT) AS st
       |  FROM local GROUP BY shard),
       |cands AS (
       |  SELECT DISTINCT tok FROM local JOIN st USING (shard)
       |  WHERE f * $c >= st),
       |cc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates
       |       FROM cands),
       |g AS (
       |  SELECT tok, CAST(SUM(f) AS BIGINT) AS freq
       |  FROM local GROUP BY tok),
       |t AS (SELECT CAST(SUM(freq) AS BIGINT) AS total FROM g)
       |SELECT g.tok, g.freq,
       |  CAST(g.freq * 1000000 // t.total AS BIGINT) AS share_ppm,
       |  cc.n_candidates,
       |  (c2.tok IS NOT NULL) AS in_candidates
       |FROM g CROSS JOIN t CROSS JOIN cc
       |LEFT JOIN cands c2 ON c2.tok = g.tok
       |WHERE g.freq * $c >= t.total
       |ORDER BY g.tok, freq, share_ppm, n_candidates,
       |  in_candidates""".stripMargin

  /** Cohen's kappa per source (q205): chance-corrected agreement
    * between the declared `lang` label and the q55 n-gram prediction
    * — the calibration number behind q198's raw mismatch rate (a
    * source whose labels merely FOLLOW the majority class can show a
    * low mismatch ppm yet κ ≈ 0; kappa separates real labeling from
    * class-prior luck). 'und' is a class of its own here (it inflates
    * disagreement AND the chance term, the standard treatment).
    *
    * All-integer: with per-source n docs, agreement count a and
    * per-class marginals na(c)/nb(c), κ = (a·n − Σ na·nb)·1e6 div
    * (n² − Σ na·nb), every product in DECIMAL(38,0) and ONE
    * truncating division (both engines truncate integer/decimal
    * operands toward zero, the round-5 rule — κ can be negative).
    * The degenerate n² = Σ na·nb case (all mass in one agreeing
    * class) is pinned to 1000000 by CASE in both engines.
    *
    * Scale shape: the prediction is a codegen'd scan projection; the
    * (source, label, pred) cell table is corpus-aggregated once and
    * register-persisted for its three consumers (totals + both
    * marginals); everything after is |sources|·|classes|-sized. */
  def kappaAgreement(spark: SparkSession, dir: String): DataFrame =
    kappaAgreementDocs(Tables.documents(spark, dir))

  /** Frame-based core of [[kappaAgreement]] (needs doc_id, source,
    * lang, text). */
  def kappaAgreementDocs(docs: DataFrame): DataFrame = {
    val cells = Dedup.register(langIdNgramDocs(docs)
      .select(col("doc_id"), col("lang_label"),
        col("lang_pred_ngram").as("lang_pred"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"), col("lang_label"), col("lang_pred"))
      .agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val tot = cells.groupBy(col("source"))
      .agg(sum(col("cnt")).as("n"),
        sum(when(col("lang_label") === col("lang_pred"), col("cnt"))
          .otherwise(0L)).as("n_agree"))
    val na = cells.groupBy(col("source"), col("lang_label").as("cls"))
      .agg(sum(col("cnt")).as("na"))
    val nb = cells.groupBy(col("source"), col("lang_pred").as("cls"))
      .agg(sum(col("cnt")).as("nb"))
    val pe = na.join(nb, Seq("source", "cls"))
      .groupBy(col("source"))
      .agg(sum(col("na").cast("decimal(38,0)") * col("nb")).as("pe_n2"))
    tot.join(pe, Seq("source"))
      .select(col("source"), col("n").as("n_docs"),
        col("n_agree"),
        col("pe_n2").cast("long").as("pe_n2"),
        when(col("n").cast("decimal(38,0)") * col("n") === col("pe_n2"),
          lit(1000000L))
          .otherwise(expr(
            """CAST((CAST(n_agree AS DECIMAL(38,0)) * n - pe_n2) * 1000000
              |  DIV (CAST(n AS DECIMAL(38,0)) * n - pe_n2) AS BIGINT)"""
              .stripMargin))
          .as("kappa_ppm"))
      .orderBy(col("source"), col("n_docs"), col("n_agree"),
        col("pe_n2"), col("kappa_ppm"))
  }

  /** DuckDB oracle for [[kappaAgreement]] — the shared
    * [[predScoringCtes]] + the same integer kappa. */
  def kappaAgreementOracleSql: String =
    s"""WITH $predScoringCtes,
       |cells AS (
       |  SELECT source, lang_label, lang_pred,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM pred GROUP BY 1, 2, 3),
       |tot AS (
       |  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n,
       |    CAST(COALESCE(SUM(cnt) FILTER (lang_label = lang_pred), 0)
       |      AS BIGINT) AS n_agree
       |  FROM cells GROUP BY source),
       |na AS (SELECT source, lang_label AS cls,
       |         CAST(SUM(cnt) AS BIGINT) AS na FROM cells GROUP BY 1, 2),
       |nb AS (SELECT source, lang_pred AS cls,
       |         CAST(SUM(cnt) AS BIGINT) AS nb FROM cells GROUP BY 1, 2),
       |pe AS (
       |  SELECT source,
       |    SUM(CAST(na AS HUGEINT) * nb) AS pe_n2
       |  FROM na JOIN nb USING (source, cls) GROUP BY source)
       |SELECT t.source, t.n AS n_docs, t.n_agree,
       |  CAST(p.pe_n2 AS BIGINT) AS pe_n2,
       |  CASE WHEN CAST(t.n AS HUGEINT) * t.n = p.pe_n2 THEN 1000000
       |    ELSE CAST((CAST(t.n_agree AS HUGEINT) * t.n - p.pe_n2)
       |      * 1000000 // (CAST(t.n AS HUGEINT) * t.n - p.pe_n2)
       |      AS BIGINT) END AS kappa_ppm
       |FROM tot t JOIN pe p ON p.source = t.source
       |ORDER BY t.source, n_docs, n_agree, pe_n2, kappa_ppm""".stripMargin

  /** Collocation mining (q202): the top-`topK` adjacent token pairs
    * by integer LIFT — `n_xy · N · 1e6 div (n_x · n_y)` over bigram
    * positions (N = total bigrams, n_x/n_y = occurrences as
    * left/right element) — the PMI ranking with the log stripped
    * (log is monotone, so lift order IS PMI order) and the division
    * done once in DECIMAL(38,0), truncating identically in both
    * engines. `minCount` suppresses the rare-pair lift explosion the
    * PMI literature warns about. Surfaces the corpus's fixed phrases
    * (template fragments, code idioms) — the n>1 generalization of
    * q134's heavy-hitter tokens and a direct boilerplate signal.
    *
    * Scale shape: ONE corpus scan explodes bigrams into a
    * map-side-combined (w1, w2) count; the pair-count table (vocab²
    * bounded, frequency-filtered) is persisted for its three
    * consumers (marginals + N are derived from it, never from a
    * second scan); top-K rides TakeOrderedAndProject. */
  def collocations(spark: SparkSession, dir: String,
      minCount: Long = 5, topK: Int = 20): DataFrame =
    collocationsDocs(Tables.documents(spark, dir), minCount, topK)

  /** Frame-based core of [[collocations]] (needs text). */
  def collocationsDocs(docs: DataFrame, minCount: Long = 5,
      topK: Int = 20): DataFrame =
    collocationsFromPairs(pairCountsOf(docs), minCount, topK)

  /** The bigram pair-count table of a docs frame — additive (pure
    * counts), so micro-batch partials merge by sum: the streaming
    * twin's state is exactly this table. The bigram explode is a
    * native arrays_zip of the two shifted slices (pairs (ts[i],
    * ts[i+1]) — identical rows to the transform/element_at lambda it
    * replaces, which ran INTERPRETED per element on the hottest scan
    * of the query; r16 census rule). */
  def pairCountsOf(docs: DataFrame): DataFrame = docs
    .select(split(col("text"), " ").as("ts"))
    .filter(size(col("ts")) >= 2)
    .select(explode(arrays_zip(
      expr("slice(ts, 1, size(ts) - 1)"),
      expr("slice(ts, 2, size(ts) - 1)"))).as("b"))
    .groupBy(col("b.0").as("w1"), col("b.1").as("w2"))
    .agg(count(lit(1)).as("n_xy"))

  /** Lift ranking over any (w1, w2, n_xy) pair-count table (corpus
    * build or streaming state). */
  def collocationsFromPairs(pairsRaw: DataFrame, minCount: Long = 5,
      topK: Int = 20): DataFrame = {
    // NO persist (r16, VERDICT r15 #1 — the q141 ReuseExchange rule):
    // all four consumers sit on the SAME canonicalized (w1, w2)
    // aggregate exchange, so AQE reuses one shuffle stage AND
    // right-sizes its reduce partitions from actual bytes; the cache
    // pinned the tiny pair table at shuffle.partitions partitions
    // (32 at the bench core count), and every downstream stage then
    // ran core-count tasks over ~1k rows — the suite's one measured
    // anti-scaling (8-core/32-core ratio 0.52, driver r15)
    val pairCounts = pairsRaw
    val left = pairCounts.groupBy(col("w1"))
      .agg(sum(col("n_xy")).as("n_x"))
    val right = pairCounts.groupBy(col("w2"))
      .agg(sum(col("n_xy")).as("n_y"))
    val total = pairCounts.agg(sum(col("n_xy")).as("n_total"))
    pairCounts.filter(col("n_xy") >= minCount)
      .join(left, Seq("w1"))
      .join(right, Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("n_xy"), col("n_x"),
        col("n_y"),
        expr("(CAST(n_xy AS DECIMAL(38,0)) * n_total * 1000000)" +
          " div (CAST(n_x AS DECIMAL(38,0)) * n_y)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(topK)
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"),
        col("n_xy"), col("n_x"), col("n_y"))
  }

  /** DuckDB oracle for [[collocations]]. */
  def collocationsOracleSql(minCount: Long = 5, topK: Int = 20): String =
    s"""WITH t AS (
       |  SELECT STRING_SPLIT(text, ' ') AS ts FROM documents
       |  WHERE LEN(STRING_SPLIT(text, ' ')) >= 2),
       |pos AS (
       |  SELECT ts, UNNEST(GENERATE_SERIES(1, LEN(ts) - 1)) AS i
       |  FROM t),
       |pc AS (
       |  SELECT ts[i] AS w1, ts[i + 1] AS w2,
       |    CAST(COUNT(*) AS BIGINT) AS n_xy
       |  FROM pos GROUP BY 1, 2),
       |mx AS (SELECT w1, CAST(SUM(n_xy) AS BIGINT) AS n_x
       |       FROM pc GROUP BY w1),
       |my AS (SELECT w2, CAST(SUM(n_xy) AS BIGINT) AS n_y
       |       FROM pc GROUP BY w2),
       |tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n_total FROM pc)
       |SELECT w1, w2, n_xy, n_x, n_y,
       |  CAST(CAST(n_xy AS HUGEINT) * n_total * 1000000
       |    // (CAST(n_x AS HUGEINT) * n_y) AS BIGINT) AS lift_ppm
       |FROM pc JOIN mx USING (w1) JOIN my USING (w2) CROSS JOIN tot
       |WHERE n_xy >= $minCount
       |QUALIFY ROW_NUMBER() OVER (ORDER BY lift_ppm DESC, w1, w2)
       |  <= $topK
       |ORDER BY lift_ppm DESC, w1, w2, n_xy, n_x, n_y""".stripMargin

  /** BPE merge-candidate statistics (q207): the first iteration of
    * byte-pair-encoding tokenizer induction — adjacent-symbol pair
    * counts over the corpus, computed the way every BPE trainer
    * actually does it: aggregate the corpus to its VOCABULARY first
    * (word, freq), then count in-word adjacent pairs weighted by word
    * frequency. The iteration loop (merge argmax → re-pair → repeat)
    * walks that vocab-bounded table, never the corpus again — which
    * is why BPE training is feasible at 100 TB at all; this op is the
    * per-iteration kernel plus the deterministic merge ranking
    * ((count desc, pair asc) — the tie rule trainers must fix or two
    * runs produce different tokenizers). Top-K via
    * TakeOrderedAndProject, re-sorted over all columns for the oracle
    * hash.
    *
    * Scale shape: one corpus scan → map-side-combined word counts
    * (vocab-bounded) → in-word pair explode over the VOCAB (avg word
    * length × |vocab| rows, not corpus tokens) → pair aggregate. */
  def bpePairStats(spark: SparkSession, dir: String,
      topK: Int = 20): DataFrame =
    bpePairStatsDocs(Tables.documents(spark, dir), topK)

  /** Frame-based core of [[bpePairStats]] (needs text). */
  def bpePairStatsDocs(docs: DataFrame, topK: Int = 20): DataFrame =
    bpePairCounts(docs)
      .orderBy(col("n_weighted").desc, col("sym_a"), col("sym_b"))
      .limit(topK)
      .orderBy(col("n_weighted").desc, col("sym_a"), col("sym_b"))

  /** The UNTRUNCATED weighted pair table (sym_a, sym_b, n_weighted) —
    * additive across document chunks (it is a sum over word
    * occurrences), so it doubles as the streaming twin's state
    * ([[graft.streaming.DocStream.bpePairStream]]); the merge RANKING
    * is a read over it. */
  private[graft] def bpePairCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(w) - 1)," +
          " i -> struct(substr(w, cast(i as int), 1) AS a," +
          " substr(w, cast(i as int) + 1, 1) AS b))")).as("p"))
      .groupBy(col("p.a").as("sym_a"), col("p.b").as("sym_b"))
      .agg(sum(col("freq")).as("n_weighted"))

  /** DuckDB oracle for [[bpePairStats]]. */
  def bpePairStatsOracleSql(topK: Int = 20): String =
    s"""WITH w AS (
       |  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents),
       |v AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM w WHERE LENGTH(w) >= 2 GROUP BY w),
       |pos AS (
       |  SELECT w, freq,
       |    UNNEST(GENERATE_SERIES(1, LENGTH(w) - 1)) AS i
       |  FROM v),
       |pc AS (
       |  SELECT SUBSTR(w, i, 1) AS sym_a, SUBSTR(w, i + 1, 1) AS sym_b,
       |    CAST(SUM(freq) AS BIGINT) AS n_weighted
       |  FROM pos GROUP BY 1, 2)
       |SELECT sym_a, sym_b, n_weighted FROM pc
       |QUALIFY ROW_NUMBER() OVER
       |  (ORDER BY n_weighted DESC, sym_a, sym_b) <= $topK
       |ORDER BY n_weighted DESC, sym_a, sym_b""".stripMargin

  // ----------------------------------------------------- BPE encode

  /** The learned merge table: the top `nMerges` adjacent-char pairs
    * of [[bpePairStats]] in their deterministic priority order
    * ((n_weighted desc, sym_a, sym_b) — rank 1 = highest priority).
    * Driver-state-sized by construction (nMerges rows — the Ivf
    * centroid-collect precedent); a production tokenizer's merge
    * table is likewise a driver/broadcast artifact, never data-sized. */
  private[graft] def bpeMerges(docs: DataFrame,
      nMerges: Int): Seq[(String, String)] = {
    val m = bpePairStatsDocs(docs, nMerges).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    // Spark's chr() masks its argument to 8 bits while DuckDB's is
    // full Unicode: a merge symbol above U+00FF would silently become
    // a DIFFERENT character in the generated Spark SQL and diverge
    // from the oracle (ADVICE r11) — fail loudly, the latin1Guard
    // discipline. Driver-side over ≤ nMerges rows, so it's free.
    val bad = m.flatMap { case (a, b) => Seq(a, b) }
      .filter(s => s.length != 1 || s.head > 0xFF)
    require(bad.isEmpty,
      "BPE merge symbols above U+00FF are not chr()-encodable on the " +
        s"Spark side: ${bad.distinct.mkString(", ")} — pre-filter or " +
        "transliterate the corpus first.")
    m
  }

  /** SQL expression encoding word column `wcol` under `merges`: start
    * from the chr(31)-separated char sequence, then ONE sequential
    * fold per merge rule in priority order. Each fold walks the
    * current token list left to right; a single-char token equal to
    * sym_a (i.e. the accumulator ends with SEP+a) followed by a
    * single-char token equal to sym_b fuses — leftmost-non-overlapping
    * by construction, because the fused 2-char token can never match
    * either side of a CHAR-pair rule again. For char-pair rules this
    * sequential per-rule application IS full BPE encoding: applying a
    * rule only removes single-char tokens, so no higher-priority rule
    * can become applicable later. Merge symbols are injected as
    * chr(<code>) literals so the generated SQL is quoting-proof, and
    * the DuckDB oracle replays the identical fold via list_reduce —
    * the merge table itself is re-derived inside the oracle (the
    * autoK data-dependent-parameter rule), so the hash compare proves
    * BOTH the ranking and the encode. */
  private[graft] def bpeEncodeSqlExpr(wcol: String,
      merges: Seq[(String, String)]): String = {
    val init = s"concat_ws(chr(31), transform(sequence(1, " +
      s"length($wcol)), i -> substring($wcol, i, 1)))"
    merges.foldLeft(init) { case (s, (a, b)) =>
      val aL = s"chr(${a.head.toInt})"
      val bL = s"chr(${b.head.toInt})"
      s"substring(aggregate(split($s, chr(31)), '', (acc, x) -> " +
        s"CASE WHEN endswith(acc, chr(31) || $aL) AND x = $bL " +
        s"THEN acc || x ELSE acc || chr(31) || x END), 2)"
    }
  }

  /** Per-word-occurrence BPE token stats: (doc_id, source, w) rows
    * joined with the VOCAB-level encoding (each distinct word is
    * encoded once — the same vocab-bounded discipline as the trainer
    * kernel; the per-occurrence join carries two longs, never the
    * encoded string). */
  private[graft] def bpeWordStats(docs: DataFrame,
      nMerges: Int): DataFrame = {
    val merges = bpeMerges(docs, nMerges)
    val words = bpeWords(docs)
    words.join(encodedVocabOf(words, merges), Seq("w"))
  }

  private def bpeWords(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)

  /** Encode the distinct vocabulary of a word frame under `merges` ->
    * (w, n_chars, n_tok). NATIVE since round 13: one codegen'd
    * graft.functions.BpeEncode call replaces the nMerges-deep
    * interpreted [[bpeEncodeSqlExpr]] fold chain — bit-identical
    * (Round11OpsSpec pins the chain's semantics, Round13OpsSpec the
    * native == chain equality). */
  private def encodedVocabOf(words: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    words.select(col("w")).distinct()
      .withColumn("enc", bpeEncode(col("w"),
        lit(merges.map { case (a, b) => a + "\u001F" + b }.toArray)))
      .select(col("w"),
        length(col("w")).cast("long").as("n_chars"),
        size(col("enc")).cast("long").as("n_tok"))
  }

  // ------------------------------------ persisted tokenizer artifact

  /** A trained tokenizer loaded from fingerprint-keyed parquet: the
    * priority-ordered merge table (driver-sized) plus the corpus
    * vocabulary's encodings (w, n_chars, n_tok) -- the "train once,
    * apply everywhere" artifact every real tokenizer is (the
    * Ivf.persistedIndex / Dedup.persistedSetSimIndex pattern). The
    * vocab covers every word of the corpus it was trained on by
    * construction; unseen words (a new ingest) encode through the
    * same [[bpeEncodeSqlExpr]] fold under the STORED merges. */
  final case class BpeTokenizer(merges: Seq[(String, String)],
      vocab: DataFrame)

  /** Train + write the tokenizer artifact for a corpus. */
  def writeBpeTokenizer(docs: DataFrame, nMerges: Int,
      path: String): Unit = {
    val merges = bpeMerges(docs, nMerges)
    val sess = docs.sparkSession
    import sess.implicits._
    merges.zipWithIndex.map { case ((a, b), i) => (i + 1, a, b) }
      .toDF("rank", "sym_a", "sym_b")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/merges")
    encodedVocabOf(bpeWords(docs), merges)
      .write.mode("overwrite").parquet(s"$path/vocab")
  }

  /** Load a persisted tokenizer. */
  def readBpeTokenizer(spark: SparkSession, path: String): BpeTokenizer =
    BpeTokenizer(
      spark.read.parquet(s"$path/merges").orderBy(col("rank"))
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq,
      spark.read.parquet(s"$path/vocab"))

  /** The persisted tokenizer for a corpus dir: trained + written on
    * first use, read from parquet after (including across JVMs when
    * the source fingerprint matches -- the vocab/_SUCCESS probe,
    * via the shared graft.Artifacts resolver). "bpe1|n<nMerges>"
    * versions the artifact schema AND the merge count. */
  def persistedBpeTokenizer(spark: SparkSession, dir: String,
      nMerges: Int = 12,
      root: String = sys.props("java.io.tmpdir") + "/graft_bpe")
      : BpeTokenizer =
    readBpeTokenizer(spark, graft.Artifacts.resolve(root, dir,
      Tables.sourceFingerprint(dir, Seq("documents")), s"bpe1|n$nMerges")(
      p => new java.io.File(s"$p/vocab/_SUCCESS").exists()) { (p, _) =>
      writeBpeTokenizer(Tables.documents(spark, dir), nMerges, p)
    })

  /** [[bpeWordStats]] riding the persisted tokenizer -- the per-query
    * cost is one word explode + one vocab join; training amortizes
    * across q241/q242/q243 and across JVMs. Bit-identical to the
    * fresh form: the stored vocab is exactly [[encodedVocabOf]] on
    * this corpus (differential spec). */
  private[graft] def bpeWordStatsIndexed(spark: SparkSession,
      dir: String, nMerges: Int): DataFrame = {
    val tok = persistedBpeTokenizer(spark, dir, nMerges)
    bpeWords(Tables.documents(spark, dir)).join(tok.vocab, Seq("w"))
  }

  /** BPE encode stats (q241): per document, whitespace-word count,
    * char count, and the token count under the LEARNED tokenizer —
    * the top-`nMerges` merge rules of q207 applied as a real encode
    * (the operator the fertility and packing ops presuppose).
    * tok_per_word_ppm is the doc's fertility under the learned
    * tokenizer; saved_ppm is the compression vs char-level tokens.
    *
    * Scale shape: one corpus scan → word explode (doc-keyed) → a
    * vocab-sized distinct + interpreted fold chain (vocab-bounded —
    * the trainer-kernel discipline) → hash join back on the word →
    * one doc-keyed aggregate. The merge table is driver-sized. */
  def bpeEncodeStats(spark: SparkSession, dir: String,
      nMerges: Int = 12): DataFrame =
    bpeEncodeAgg(bpeWordStatsIndexed(spark, dir, nMerges))

  /** Frame-based core of [[bpeEncodeStats]] (needs doc_id, source,
    * text); trains fresh instead of riding the persisted artifact. */
  def bpeEncodeStatsDocs(docs: DataFrame, nMerges: Int = 12): DataFrame =
    bpeEncodeAgg(bpeWordStats(docs, nMerges))

  private def bpeEncodeAgg(ws: DataFrame): DataFrame =
    ws
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_tok")).as("n_bpe_tokens"),
        expr("CAST(sum(n_tok) * 1000000 div count(1) AS BIGINT)")
          .as("tok_per_word_ppm"),
        expr("CAST((sum(n_chars) - sum(n_tok)) * 1000000 " +
          "div sum(n_chars) AS BIGINT)").as("saved_ppm"))
      .orderBy(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"), col("tok_per_word_ppm"), col("saved_ppm"))

  private def bpeMergeRankSql: String =
    """v AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM wx WHERE LENGTH(w) >= 2 GROUP BY w),
      |pos AS (
      |  SELECT w, freq, UNNEST(GENERATE_SERIES(1, LENGTH(w) - 1)) AS i
      |  FROM v),
      |m AS (
      |  SELECT SUBSTR(w, i, 1) AS a, SUBSTR(w, i + 1, 1) AS b,
      |    ROW_NUMBER() OVER (ORDER BY SUM(freq) DESC,
      |      SUBSTR(w, i, 1), SUBSTR(w, i + 1, 1)) AS rnk
      |  FROM pos GROUP BY 1, 2)""".stripMargin

  /** The unrolled per-rule fold CTE chain e0..e`nMerges` (the q213
    * unrolled-iteration pattern): rule k is a 1-row LEFT JOIN ON TRUE
    * (an absent rank — fewer distinct pairs than nMerges — degrades
    * to identity, matching the Spark side's shorter fold chain). */
  private def bpeEncodeCtesSql(nMerges: Int): String = {
    val rounds = (1 to nMerges).map { k =>
      s"""e$k AS (
         |  SELECT e.w, CASE WHEN m.a IS NULL THEN e.s ELSE
         |    SUBSTR(list_reduce(list_prepend('', STRING_SPLIT(e.s, chr(31))),
         |      (acc, x) -> CASE WHEN ends_with(acc, chr(31) || m.a)
         |        AND x = m.b THEN acc || x
         |        ELSE acc || chr(31) || x END), 2) END AS s
         |  FROM e${k - 1} e LEFT JOIN (SELECT a, b FROM m WHERE rnk = $k) m
         |    ON TRUE)""".stripMargin
    }
    s"""e0 AS (
       |  SELECT w, ARRAY_TO_STRING([SUBSTR(w, CAST(i AS INTEGER), 1)
       |    FOR i IN range(1, LENGTH(w) + 1)], chr(31)) AS s
       |  FROM (SELECT DISTINCT w FROM wx)),
       |${rounds.mkString(",\n")},
       |enc AS (
       |  SELECT w, CAST(LENGTH(w) AS BIGINT) AS n_chars,
       |    CAST(LEN(STRING_SPLIT(s, chr(31))) AS BIGINT) AS n_tok
       |  FROM e$nMerges)""".stripMargin
  }

  /** DuckDB oracle for [[bpeEncodeStats]] — re-derives the merge
    * ranking AND replays the fold chain. */
  def bpeEncodeStatsOracleSql(nMerges: Int = 12): String =
    s"""WITH wx AS (
       |  SELECT doc_id, source, w
       |  FROM (SELECT doc_id, source,
       |    UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
       |  WHERE LENGTH(w) >= 1),
       |$bpeMergeRankSql,
       |${bpeEncodeCtesSql(nMerges)}
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_bpe_tokens,
       |  CAST(SUM(n_tok) * 1000000 // COUNT(*) AS BIGINT)
       |    AS tok_per_word_ppm,
       |  CAST((SUM(n_chars) - SUM(n_tok)) * 1000000 // SUM(n_chars)
       |    AS BIGINT) AS saved_ppm
       |FROM wx JOIN enc USING (w)
       |GROUP BY doc_id
       |ORDER BY doc_id, n_words, n_chars, n_bpe_tokens,
       |  tok_per_word_ppm, saved_ppm""".stripMargin

  /** BPE fertility (q242): the q155 question — characters per token,
    * tokens per word, per source — answered by the LEARNED tokenizer
    * instead of the regex proxy: per source, words, chars, BPE
    * tokens, fertility (tokens per word) and chars per BPE token in
    * exact ppm. Same vocab-bounded encode as [[bpeEncodeStats]]; one
    * source-keyed aggregate (map-side combined). */
  def bpeFertility(spark: SparkSession, dir: String,
      nMerges: Int = 12): DataFrame =
    bpeFertilityAgg(bpeWordStatsIndexed(spark, dir, nMerges))

  /** Frame-based core of [[bpeFertility]]; trains fresh. */
  def bpeFertilityDocs(docs: DataFrame, nMerges: Int = 12): DataFrame =
    bpeFertilityAgg(bpeWordStats(docs, nMerges))

  private def bpeFertilityAgg(ws: DataFrame): DataFrame =
    ws
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_tok")).as("sum_bpe_tokens"),
        expr("CAST(sum(n_tok) * 1000000 div count(1) AS BIGINT)")
          .as("tok_per_word_ppm"),
        expr("CAST(sum(n_chars) * 1000000 div sum(n_tok) AS BIGINT)")
          .as("chars_per_tok_ppm"))
      .orderBy(col("source"), col("n_words"), col("sum_chars"),
        col("sum_bpe_tokens"), col("tok_per_word_ppm"),
        col("chars_per_tok_ppm"))

  /** DuckDB oracle for [[bpeFertility]]. */
  def bpeFertilityOracleSql(nMerges: Int = 12): String =
    s"""WITH wx AS (
       |  SELECT doc_id, source, w
       |  FROM (SELECT doc_id, source,
       |    UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
       |  WHERE LENGTH(w) >= 1),
       |$bpeMergeRankSql,
       |${bpeEncodeCtesSql(nMerges)}
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(n_tok) AS BIGINT) AS sum_bpe_tokens,
       |  CAST(SUM(n_tok) * 1000000 // COUNT(*) AS BIGINT)
       |    AS tok_per_word_ppm,
       |  CAST(SUM(n_chars) * 1000000 // SUM(n_tok) AS BIGINT)
       |    AS chars_per_tok_ppm
       |FROM wx JOIN enc USING (w)
       |GROUP BY source
       |ORDER BY source, n_words, sum_chars, sum_bpe_tokens,
       |  tok_per_word_ppm, chars_per_tok_ppm""".stripMargin

  /** BPE packing waste (q243): the q79/q170 padding question answered
    * under the LEARNED tokenizer — per source, documents, BPE tokens,
    * 128-token chunks, and the padding share (exact ppm), with the
    * whitespace-token packing beside it. Tokenizer choice shifts
    * chunk counts, so the planning number a packing pipeline budgets
    * with must come from the tokenizer it will actually run.
    *
    * Scale shape: the [[bpeEncodeStats]] vocab-bounded encode + one
    * doc-keyed aggregate + one source-keyed aggregate (both map-side
    * combined). All arithmetic is exact integer div. */
  def bpePackingWaste(spark: SparkSession, dir: String,
      nMerges: Int = 12, chunk: Int = 128): DataFrame =
    bpePackingAgg(bpeWordStatsIndexed(spark, dir, nMerges), chunk)

  /** Frame-based core of [[bpePackingWaste]]; trains fresh. */
  def bpePackingWasteDocs(docs: DataFrame, nMerges: Int = 12,
      chunk: Int = 128): DataFrame =
    bpePackingAgg(bpeWordStats(docs, nMerges), chunk)

  private def bpePackingAgg(ws: DataFrame, chunk: Int): DataFrame =
    ws
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tok"))
      .withColumn("bpe_chunks",
        expr(s"(n_tok + ${chunk - 1}) div $chunk"))
      .withColumn("ws_chunks",
        expr(s"(n_words + ${chunk - 1}) div $chunk"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_bpe_tokens"),
        sum(col("bpe_chunks")).as("sum_bpe_chunks"),
        sum(col("n_words")).as("sum_words"),
        sum(col("ws_chunks")).as("sum_ws_chunks"))
      .select(col("source"), col("n_docs"),
        col("sum_bpe_tokens"), col("sum_bpe_chunks"),
        expr(s"CAST((sum_bpe_chunks * $chunk - sum_bpe_tokens) * 1000000" +
          s" div (sum_bpe_chunks * $chunk) AS BIGINT)")
          .as("bpe_waste_ppm"),
        expr(s"CAST((sum_ws_chunks * $chunk - sum_words) * 1000000" +
          s" div (sum_ws_chunks * $chunk) AS BIGINT)")
          .as("ws_waste_ppm"))
      .orderBy(col("source"), col("n_docs"), col("sum_bpe_tokens"),
        col("sum_bpe_chunks"), col("bpe_waste_ppm"), col("ws_waste_ppm"))

  /** DuckDB oracle for [[bpePackingWaste]]. */
  def bpePackingWasteOracleSql(nMerges: Int = 12,
      chunk: Int = 128): String =
    s"""WITH wx AS (
       |  SELECT doc_id, source, w
       |  FROM (SELECT doc_id, source,
       |    UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
       |  WHERE LENGTH(w) >= 1),
       |$bpeMergeRankSql,
       |${bpeEncodeCtesSql(nMerges)},
       |pd AS (
       |  SELECT doc_id, source, COUNT(*) AS n_words,
       |    SUM(n_tok) AS n_tok
       |  FROM wx JOIN enc USING (w) GROUP BY 1, 2),
       |pc AS (
       |  SELECT source, n_words, n_tok,
       |    (n_tok + ${chunk - 1}) // $chunk AS bpe_chunks,
       |    (n_words + ${chunk - 1}) // $chunk AS ws_chunks
       |  FROM pd)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS sum_bpe_tokens,
       |  CAST(SUM(bpe_chunks) AS BIGINT) AS sum_bpe_chunks,
       |  CAST((SUM(bpe_chunks) * $chunk - SUM(n_tok)) * 1000000
       |    // (SUM(bpe_chunks) * $chunk) AS BIGINT) AS bpe_waste_ppm,
       |  CAST((SUM(ws_chunks) * $chunk - SUM(n_words)) * 1000000
       |    // (SUM(ws_chunks) * $chunk) AS BIGINT) AS ws_waste_ppm
       |FROM pc GROUP BY source
       |ORDER BY source, n_docs, sum_bpe_tokens, sum_bpe_chunks,
       |  bpe_waste_ppm, ws_waste_ppm""".stripMargin

  /** Token counting: whitespace tokens vs a BPE-ish regex token split
    * (letter runs, digit runs, single punctuation marks). */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame = {
    val ws = size(tokens(col("text"))).cast("long")
    val re = expr(
      "size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))").cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        ws.as("ws_tokens"), re.as("re_tokens"),
        round(length(col("text")).cast("double") / re.cast("double"), 4)
          .as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  /** Repetition-ratio quality signals (the Gopher-rules family): how
    * much of a document is the same token / the same token bigram
    * repeated. High top-fraction or low distinct-ratio flags
    * boilerplate and degenerate generations for corpus filtering.
    *
    * Scale shape: posexplode + one window (lead) and two aggregations,
    * all keyed by doc_id — a single shuffle partitioning carries
    * through the whole plan; state per doc is its token multiset. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    repetitionStatsDocs(Tables.documents(spark, dir))

  /** Core repetition scorer over any (doc_id, text) frame. */
  def repetitionStatsDocs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "term")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val withBigram = toks.withColumn("bigram",
      when(lead(col("term"), 1).over(w).isNotNull,
        concat(col("term"), lit(" "), lead(col("term"), 1).over(w))))
    val termStats = withBigram.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("tf")).as("top_tf"))
    val bigramStats = withBigram.filter(col("bigram").isNotNull)
      .groupBy(col("doc_id"), col("bigram"))
      .agg(count(lit(1)).as("bf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("bf")).as("n_bigrams"), max(col("bf")).as("top_bf"))
    termStats.join(bigramStats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        round(col("n_distinct").cast("double") /
          col("n_tokens").cast("double"), 6).as("distinct_ratio"),
        round(col("top_tf").cast("double") /
          col("n_tokens").cast("double"), 6).as("top_token_frac"),
        coalesce(round(col("top_bf").cast("double") /
          col("n_bigrams").cast("double"), 6), lit(0.0))
          .as("top_bigram_frac"))
      .orderBy(col("doc_id"), col("n_tokens"), col("distinct_ratio"),
        col("top_token_frac"), col("top_bigram_frac"))
  }

  /** Winnowing (the MOSS local-fingerprint scheme): minimum shingle
    * hash per sliding window of W consecutive positional shingles,
    * deduplicated. Guarantees any shared substring of length
    * ≥ W + shingle - 1 yields at least one shared fingerprint, while
    * keeping ~2/(W+1) of the shingles — the robust fingerprint set for
    * plagiarism/containment detection. Oracle-checked: the FNV+splitmix
    * hash replays in DuckDB HUGEINT arithmetic (graft.ops.HashSql);
    * invariants also tested in AnalyticsSpec. */
  def winnowed(df: org.apache.spark.sql.DataFrame,
      textCol: String = "text"): org.apache.spark.sql.DataFrame = {
    // native single-pass expression (monotonic-deque window minima);
    // the composable transform/array_min/slice form is semantically
    // identical but interpreted, and was the measured bottleneck of
    // corpus-scale fingerprinting
    df.withColumn("fingerprints", winnow8_8(col(textCol)))
  }

  /** Query: winnowing fingerprint summary per document. */
  def winnowSummary(spark: SparkSession, dir: String): DataFrame =
    winnowed(Tables.documents(spark, dir))
      .select(col("doc_id"),
        size(col("fingerprints")).cast("long").as("n_fps"),
        array_min(col("fingerprints")).as("fp_min"),
        array_max(col("fingerprints")).as("fp_max"))
      .orderBy(col("doc_id"))

  /** Document fingerprinting: full-document rolling hash (custom
    * codegen Expression) + min positional-shingle hash, both native
    * codegen (the earlier transform/xxhash64-per-substr form allocated
    * a substring per position and ran interpreted). Oracle-checked via
    * the SQL FNV+splitmix replay (graft.ops.HashSql); the expressions
    * are also verified against Scala references in AnalyticsSpec. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        rollingHash(col("text")).as("fp64"),
        array_min(shingle8Seq(col("text"))).as("min_shingle"),
        size(shingle8Seq(col("text"))).cast("long").as("n_shingles"))
      .orderBy(col("doc_id"))
  }

  /** Per-source vocabulary profile over the 8-char stride-1 shingle
    * universe: the frequency-of-frequencies spectrum (how many types
    * occur exactly k times, k capped at 11 = "11+"), plus the corpus-QA
    * summary a curation pipeline reads per ingest source — hapax ratio
    * (types seen once / types; a collapsing hapax share flags
    * template/boilerplate sources) and the type-token ratio (lexical
    * diversity). Shingle types rather than word tokens because this
    * corpus' 31-word vocabulary saturates instantly while its shingle
    * universe behaves like real text. All integer ppm — no floats.
    *
    * Scale shape: one corpus-sized explode into a map-side-combined
    * (source, gram) count — the only data-sized shuffle; spectrum and
    * summary are vocabulary-sized aggregates on top, and the final
    * join is 16 sources × 11 buckets. The summary derives from the
    * spectrum aggregate (widened with Σk per bucket) rather than from
    * a second pass over `counts`: the unshared two-consumer form ran
    * the explode + (source, gram) count TWICE (the q65/q146 re-scan
    * class — r15 plan diff: 2 Generate + 4 corpus-sized HashAggregate
    * pairs → 1; hapax = the k_bucket = 1 row, types/occurrences are
    * sums over buckets, all exact). */
  def vocabProfile(docs: DataFrame): DataFrame = {
    // grams travel as injectively PACKED longs (pack8_seq, native one
    // pass — the interpreted transform/substring explode was 2.6 s of
    // the 3.4 s sf0.1 wall): type identity is preserved exactly for
    // NUL-free Latin-1 text, so every count below is unchanged
    val counts = docs
      .select(col("source"),
        explode(pack8Seq(col("text"))).as("gram"))
      .groupBy(col("source"), col("gram"))
      .agg(count(lit(1)).as("k"))
    // persist the tiny (source, k_bucket) frame: a bare DataFrame
    // lineage re-runs the corpus pipeline per consumer (plans share
    // nothing across join sides), so without the cache boundary the
    // summary branch would re-explode the corpus anyway
    val spectrum = Dedup.register(counts
      .withColumn("k_bucket", least(col("k"), lit(11L)))
      .groupBy(col("source"), col("k_bucket"))
      .agg(count(lit(1)).as("n_types"), sum(col("k")).as("occ"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val summary = spectrum.groupBy(col("source"))
      .agg(sum(col("n_types")).as("types_total"),
        sum(col("occ")).as("occurrences"),
        coalesce(sum(when(col("k_bucket") === 1L, col("n_types"))),
          lit(0L)).as("hapax"))
    spectrum.drop("occ").join(summary, Seq("source"))
      .select(col("source"), col("k_bucket"), col("n_types"),
        col("types_total"), col("occurrences"),
        expr("hapax * 1000000 DIV types_total").as("hapax_ppm"),
        expr("types_total * 1000000 DIV occurrences").as("ttr_ppm"))
      .orderBy(col("source"), col("k_bucket"), col("n_types"),
        col("types_total"), col("occurrences"), col("hapax_ppm"),
        col("ttr_ppm"))
  }

  /** Query entry (q127). */
  def vocabProfileQuery(spark: SparkSession, dir: String): DataFrame =
    vocabProfile(Tables.documents(spark, dir))

  /** Per-document token diversity as Gini IMPURITY (1 − Σp²) — the
    * polynomial diversity index that, unlike Shannon entropy, needs no
    * logarithm: with integer token counts c_i and n = Σc_i it
    * cross-multiplies to (n² − Σc_i²)·10⁶ div n², exact in both
    * engines. Near-0 = one token repeated (degenerate generation);
    * near-1 = all tokens distinct. Complements the top-fraction
    * repetition rules (q74) with a whole-distribution score.
    * Tokenization matches q37's whitespace rule (empty tokens kept).
    *
    * Scale shape: explode + two doc-keyed aggregates — one shuffle
    * partitioning carries through; per-doc state is its token
    * multiset, bounded by doc length. */
  def tokenDiversity(spark: SparkSession, dir: String): DataFrame =
    tokenDiversityDocs(Tables.documents(spark, dir))

  /** Heavy-hitter tokens per source: every token whose within-source
    * share is ≥ 3.5% (cross-multiplied: k·10⁶ ≥ 35000·n, exact) — the
    * boilerplate-marker screen a corpus pipeline runs per domain; a
    * token dominating one source and absent elsewhere is template
    * text, not language. Share reported in integer ppm.
    *
    * Scale shape: the (source, token) count is one map-side-combined
    * shuffle of vocabulary-sized partials — Spark's partial
    * aggregation IS the two-level candidate structure a streaming
    * space-saving sketch approximates, and at any corpus size the
    * aggregate is vocabulary×sources rows, so the exact answer stays
    * affordable and sketch-free. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("k"))
    val totals = counts.groupBy(col("source")).agg(sum(col("k")).as("n"))
    counts.join(broadcast(totals), Seq("source"))
      .filter(col("k") * lit(1000000L) >= lit(35000L) * col("n"))
      .select(col("source"), col("tok"), col("k"),
        expr("k * 1000000 div n").as("share_ppm"))
      .orderBy(col("source"), col("tok"), col("k"), col("share_ppm"))
  }

  /** Core scorer over any (doc_id, text) frame. */
  def tokenDiversityDocs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("k"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("k") * col("k")).as("ss"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        expr("(n_tokens * n_tokens - ss) * 1000000" +
          " div (n_tokens * n_tokens)").as("gini_ppm"))
      .orderBy(col("doc_id"), col("n_tokens"), col("n_types"),
        col("gini_ppm"))

  /** Quality-filter cascade funnel (q151): the FineWeb/CCNet corpus
    * curation shape — documents flow through an ordered cascade of
    * cheap heuristic gates, and the per-source survival funnel is THE
    * diagnostic a pipeline operator reads before committing a corpus
    * (which source dies at which gate). Four integer-exact stages,
    * each conjunctive with its predecessors:
    *   1. length: chars ≥ 150;
    *   2. tokens: whitespace tokens ≥ 30;
    *   3. lexical diversity: distinct/total tokens ≥ 0.40 (Gopher's
    *      type-token-ratio rule, as a cross-multiply — no division);
    *   4. stopword mass: en-marker tokens/total ≥ 0.02 (CCNet-style
    *      language fluency floor, cross-multiplied).
    * Every decision is integer arithmetic on counts, so the DuckDB
    * oracle replays the funnel bit-exactly.
    *
    * Scale shape: one narrow codegen'd pass computing four booleans
    * per row, one keyed aggregate over sources — map-side combined,
    * state = |sources| rows. The cascade ORDER is free (all four
    * flags come from one scan); the funnel semantics live in the
    * conjunctions. */
  def filterCascade(spark: SparkSession, dir: String): DataFrame =
    filterCascadeDocs(Tables.documents(spark, dir))

  /** Frame-based core of [[filterCascade]] (needs source + text). */
  def filterCascadeDocs(docs: DataFrame): DataFrame = {
    val t = col("text")
    val toks = tokens(t)
    val nTok = size(toks).cast("long")
    val nChar = length(t).cast("long")
    val nDis = size(array_distinct(toks)).cast("long")
    val nStop = stopCount(t).cast("long")
    val flagged = docs.select(col("source"),
      (nChar >= 150L).as("s1"),
      (nChar >= 150L && nTok >= 30L).as("s2"),
      (nChar >= 150L && nTok >= 30L &&
        nDis * 1000000L >= nTok * 400000L).as("s3"),
      (nChar >= 150L && nTok >= 30L &&
        nDis * 1000000L >= nTok * 400000L &&
        nStop * 1000000L >= nTok * 20000L).as("s4"))
    flagged.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("s1"), 1L).otherwise(0L)).as("pass_len"),
        sum(when(col("s2"), 1L).otherwise(0L)).as("pass_tokens"),
        sum(when(col("s3"), 1L).otherwise(0L)).as("pass_ttr"),
        sum(when(col("s4"), 1L).otherwise(0L)).as("pass_stopword"))
      .orderBy(col("source"), col("n_docs"), col("pass_len"),
        col("pass_tokens"), col("pass_ttr"), col("pass_stopword"))
  }

  /** DuckDB oracle for [[filterCascade]]: identical gates, identical
    * cross-multiplied thresholds. */
  val filterCascadeOracleSql: String =
    """WITH f AS (
      |  SELECT source,
      |    LENGTH(text) >= 150 AS s1,
      |    LEN(STRING_SPLIT(text, ' ')) AS nt,
      |    LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS nd,
      |    LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
      |      tk -> LIST_CONTAINS(['the', 'a', 'and', 'of', 'to'], tk)))
      |      AS ns
      |  FROM documents),
      |g AS (
      |  SELECT source, s1,
      |    (s1 AND nt >= 30) AS s2,
      |    (s1 AND nt >= 30 AND nd * 1000000 >= nt * 400000) AS s3,
      |    (s1 AND nt >= 30 AND nd * 1000000 >= nt * 400000
      |      AND ns * 1000000 >= nt * 20000) AS s4
      |  FROM f)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
      |  CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_tokens,
      |  CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT) AS pass_ttr,
      |  CAST(SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS BIGINT) AS pass_stopword
      |FROM g GROUP BY source
      |ORDER BY source, n_docs, pass_len, pass_tokens, pass_ttr,
      |  pass_stopword""".stripMargin

  /** Per-source tokenizer fertility (q155): bytes-per-token statistics
    * under the whitespace and BPE-ish regex tokenizations (q37's two
    * conventions) — the corpus-planning number that converts a byte
    * budget into a token budget per source, and flags sources whose
    * token cost is anomalous (boilerplate, code, non-prose). The
    * fertility ratio is reported in integer ppm (chars·1e6 div
    * regex-tokens) so the fold is a BIGINT everywhere.
    *
    * Scale shape: narrow per-row counting, one map-side-combined
    * aggregate; |sources| output rows. */
  def tokenFertility(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val re = expr(
      "size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
      .cast("long")
    Tables.documents(spark, dir)
      .select(col("source"), length(t).cast("long").as("nc"),
        size(tokens(t)).cast("long").as("nw"), re.as("nr"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("sum_chars"),
        sum(col("nw")).as("sum_ws_tokens"),
        sum(col("nr")).as("sum_re_tokens"),
        // nullif: a source whose docs have NO regex tokens (e.g.
        // whitespace-only text) degrades to a NULL ratio instead of
        // an ANSI divide-by-zero error (ADVICE r7); oracle mirrors
        expr("CAST(sum(nc) * 1000000 div nullif(sum(nr), 0) AS BIGINT)")
          .as("chars_per_re_token_ppm"))
      .orderBy(col("source"), col("n_docs"), col("sum_chars"),
        col("sum_ws_tokens"), col("sum_re_tokens"),
        col("chars_per_re_token_ppm"))
  }

  /** Code-switching screen (q167): per document, how many of the five
    * marker-language profiles register at least one marker word, and
    * whether the document MIXES languages (≥ 2 profiles present) —
    * the multilingual-corpus triage signal (mixed docs break
    * per-language routing and often indicate boilerplate templates
    * with embedded foreign navigation text). Uses the SAME
    * [[markerScore]] presence counts as q36's language ID, so the
    * screen and the classifier cannot disagree about what a marker
    * hit is.
    *
    * Scale shape: per-row codegen'd substring tests, one narrow
    * projection — no shuffle at all before the final sort. */
  def codeSwitchScreen(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val present = markers.map { case (l, ms) =>
      when(markerScore(t, ms) > 0L, 1L).otherwise(0L).as(s"p_$l")
    }
    val nLangs = markers.map { case (l, _) => col(s"p_$l") }.reduce(_ + _)
    Tables.documents(spark, dir)
      .select(col("doc_id") +: col("lang").as("lang_label") +: present: _*)
      .withColumn("n_langs_present", nLangs)
      .withColumn("mixed", col("n_langs_present") >= 2L)
      .select(col("doc_id"), col("lang_label"), col("n_langs_present"),
        col("mixed"))
      .orderBy(col("doc_id"), col("lang_label"), col("n_langs_present"),
        col("mixed"))
  }

  /** DuckDB oracle for [[codeSwitchScreen]] — q36's LIST_INTERSECT
    * presence tests per profile. */
  val codeSwitchScreenOracleSql: String =
    """SELECT doc_id, lang AS lang_label,
      |  CAST((CASE WHEN LEN(LIST_INTERSECT(STRING_SPLIT(text, ' '),
      |      ['the', 'a', 'and', 'of', 'to'])) > 0 THEN 1 ELSE 0 END)
      |    + (CASE WHEN LEN(LIST_INTERSECT(STRING_SPLIT(text, ' '),
      |      ['der', 'die', 'und', 'das', 'ist'])) > 0 THEN 1 ELSE 0 END)
      |    + (CASE WHEN LEN(LIST_INTERSECT(STRING_SPLIT(text, ' '),
      |      ['le', 'la', 'les', 'et', 'des'])) > 0 THEN 1 ELSE 0 END)
      |    + (CASE WHEN LEN(LIST_INTERSECT(STRING_SPLIT(text, ' '),
      |      ['el', 'los', 'las', 'y', 'una'])) > 0 THEN 1 ELSE 0 END)
      |    + (CASE WHEN LEN(LIST_INTERSECT(STRING_SPLIT(text, ' '),
      |      ['的', '了', '是', '在', '我'])) > 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_langs_present,
      |  (CASE WHEN LEN(LIST_INTERSECT(STRING_SPLIT(text, ' '),
      |      ['the', 'a', 'and', 'of', 'to'])) > 0 THEN 1 ELSE 0 END)
      |    + (CASE WHEN LEN(LIST_INTERSECT(STRING_SPLIT(text, ' '),
      |      ['der', 'die', 'und', 'das', 'ist'])) > 0 THEN 1 ELSE 0 END)
      |    + (CASE WHEN LEN(LIST_INTERSECT(STRING_SPLIT(text, ' '),
      |      ['le', 'la', 'les', 'et', 'des'])) > 0 THEN 1 ELSE 0 END)
      |    + (CASE WHEN LEN(LIST_INTERSECT(STRING_SPLIT(text, ' '),
      |      ['el', 'los', 'las', 'y', 'una'])) > 0 THEN 1 ELSE 0 END)
      |    + (CASE WHEN LEN(LIST_INTERSECT(STRING_SPLIT(text, ' '),
      |      ['的', '了', '是', '在', '我'])) > 0 THEN 1 ELSE 0 END)
      |    >= 2 AS mixed
      |FROM documents
      |ORDER BY doc_id, lang_label, n_langs_present, mixed""".stripMargin

  /** Corpus card (q165): the one-page summary a data release ships —
    * document/source/language counts, token and byte mass, exact-dup
    * mass, mean document length — as (metric, value) BIGINT rows.
    *
    * Scale shape (round-8 restructure of the r7 verdict's #2): the
    * old plan stacked three countDistincts — one over FULL DOCUMENT
    * TEXT — into one aggregate, planning an Expand that multiplied
    * corpus scan rows 4× and shuffled entire bodies. Now ONE scan
    * projects a NARROW row (source, lang, sha2 digest, token/char
    * counts — the q33 digest rule: distinct digests stand in for
    * distinct texts, engine-side only, the oracle keeps
    * COUNT(DISTINCT text)); a (source, lang, digest)-keyed
    * pre-aggregate collapses exact duplicates in one digest-keyed
    * shuffle of narrow rows; the three distincts then fold over the
    * PRE-AGGREGATE, so the residual Expand multiplies only
    * digest-narrow rows, never the scan, and no text ever crosses a
    * shuffle. The unpivot touches one row. */
  def corpusCard(spark: SparkSession, dir: String): DataFrame =
    corpusCardDocs(Tables.documents(spark, dir))

  /** Frame-based core of [[corpusCard]] (the rehearsal entry point;
    * needs source, lang, text). */
  def corpusCardDocs(docsIn: DataFrame): DataFrame = {
    val t = col("text")
    val pre = docsIn
      .select(col("source"), col("lang"), sha2(t, 256).as("digest"),
        size(tokens(t)).cast("long").as("nw"),
        length(t).cast("long").as("nc"))
      .groupBy(col("source"), col("lang"), col("digest"))
      .agg(count(lit(1)).as("cnt"), sum(col("nw")).as("snw"),
        sum(col("nc")).as("snc"))
    val agg = pre
      .agg(sum(col("cnt")).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("snw")).as("total_ws_tokens"),
        sum(col("snc")).as("total_chars"),
        (sum(col("cnt")) - countDistinct(col("digest")))
          .as("exact_dup_docs"),
        expr("sum(snw) * 1000000 div sum(cnt)")
          .as("mean_doc_tokens_ppm"))
    agg.select(expr(
      """stack(7,
        |  'n_docs', n_docs,
        |  'n_sources', n_sources,
        |  'n_langs', n_langs,
        |  'total_ws_tokens', total_ws_tokens,
        |  'total_chars', total_chars,
        |  'exact_dup_docs', exact_dup_docs,
        |  'mean_doc_tokens_ppm', mean_doc_tokens_ppm)
        |AS (metric, value)""".stripMargin))
      .orderBy(col("metric"), col("value"))
  }

  /** DuckDB oracle for [[corpusCard]]. */
  val corpusCardOracleSql: String =
    """WITH a AS (
      |  SELECT COUNT(*) AS n_docs,
      |    COUNT(DISTINCT source) AS n_sources,
      |    COUNT(DISTINCT lang) AS n_langs,
      |    SUM(LEN(STRING_SPLIT(text, ' '))) AS total_ws_tokens,
      |    SUM(LENGTH(text)) AS total_chars,
      |    COUNT(*) - COUNT(DISTINCT text) AS exact_dup_docs,
      |    SUM(LEN(STRING_SPLIT(text, ' '))) * 1000000 // COUNT(*)
      |      AS mean_doc_tokens_ppm
      |  FROM documents)
      |SELECT metric, CAST(value AS BIGINT) AS value FROM (
      |  SELECT 'n_docs' AS metric, n_docs AS value FROM a
      |  UNION ALL SELECT 'n_sources', n_sources FROM a
      |  UNION ALL SELECT 'n_langs', n_langs FROM a
      |  UNION ALL SELECT 'total_ws_tokens', total_ws_tokens FROM a
      |  UNION ALL SELECT 'total_chars', total_chars FROM a
      |  UNION ALL SELECT 'exact_dup_docs', exact_dup_docs FROM a
      |  UNION ALL SELECT 'mean_doc_tokens_ppm', mean_doc_tokens_ppm
      |    FROM a)
      |ORDER BY metric, value""".stripMargin

  /** OOV-rate audit (q189): per source, what fraction of its token
    * OCCURRENCES falls outside the corpus-wide top-`vocabSize` token
    * vocabulary (count desc, token asc tie-break — fully
    * deterministic) — the coverage check behind any fixed-vocabulary
    * tokenizer choice, and q155's fertility sibling: fertility says
    * how many pieces a tokenizer makes, OOV-rate says how much text
    * the vocabulary misses outright. A source whose oov_ppm spikes is
    * the one that needs vocabulary (or transliteration) work before
    * training. Integer ppm.
    *
    * Scale shape: one corpus-sized token explode into a map-side
    * combined count (the q77 LM shape), a vocabulary-sized top-k cut
    * (TakeOrdered — never a global sort), broadcast of the tiny
    * vocab, one source-keyed rollup. */
  def oovRate(spark: SparkSession, dir: String,
      vocabSize: Int = 100): DataFrame =
    oovRateDocs(Tables.documents(spark, dir), vocabSize)

  /** Frame-based core of [[oovRate]] (needs source, text). */
  def oovRateDocs(docs: DataFrame, vocabSize: Int = 100): DataFrame = {
    val toks = docs.select(col("source"),
      explode(tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(vocabSize)
      .select(col("tok"), lit(1L).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("source"), col("n_tokens"), col("n_oov"),
        expr("n_oov * 1000000 div n_tokens").as("oov_ppm"))
      .orderBy(col("source"), col("n_tokens"), col("n_oov"),
        col("oov_ppm"))
  }

  /** DuckDB oracle for [[oovRate]] — QUALIFY rank replays the top-k
    * cut with the same tie-break. */
  def oovRateOracleSql(vocabSize: Int = 100): String =
    s"""WITH t AS (
       |  SELECT source, unnest(string_split(text, ' ')) AS tok
       |  FROM documents),
       |v AS (
       |  SELECT tok FROM (
       |    SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok)
       |  QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC)
       |    <= $vocabSize)
       |SELECT source, COUNT(*) AS n_tokens,
       |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_oov,
       |  CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) AS BIGINT) AS oov_ppm
       |FROM t LEFT JOIN v ON v.tok = t.tok
       |GROUP BY source
       |ORDER BY source, n_tokens, n_oov, oov_ppm""".stripMargin

  /** Epoch-repetition budget (q175): per source, how many EPOCHS of
    * its deduplicated token mass are needed to meet a training token
    * target, and whether that exceeds the repetition cap — the
    * data-constrained-scaling planner (Muennighoff et al. 2023,
    * arXiv:2305.16264: repeating data up to ~4 epochs costs little;
    * beyond that returns decay sharply, so a source whose unique
    * tokens force more epochs than the cap needs MORE DATA, not more
    * repeats). Unique mass counts each distinct text once (the q33
    * digest rule — exact dups contribute nothing to epoch value);
    * epochs_needed = ⌈target / unique_tokens⌉ in pure integer
    * arithmetic.
    *
    * Scale shape: the q165 digest pre-aggregate (one digest-keyed
    * shuffle of narrow rows, no text through a shuffle), then a
    * |sources|-row rollup. */
  def epochBudget(spark: SparkSession, dir: String,
      targetTokens: Long = 200000L, maxEpochs: Int = 4): DataFrame =
    epochBudgetDocs(Tables.documents(spark, dir), targetTokens, maxEpochs)

  /** Frame-based core of [[epochBudget]] (needs source, text) — the
    * 10x rehearsal entry point. */
  def epochBudgetDocs(docs: DataFrame,
      targetTokens: Long = 200000L, maxEpochs: Int = 4): DataFrame = {
    val t = col("text")
    docs
      .select(col("source"), sha2(t, 256).as("digest"),
        size(tokens(t)).cast("long").as("nw"))
      .groupBy(col("source"), col("digest"))
      .agg(count(lit(1)).as("cnt"), min(col("nw")).as("nw"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_docs"),
        expr("CAST(sum(cnt * nw) AS BIGINT)").as("total_tokens"),
        count(lit(1)).as("n_unique_docs"),
        sum(col("nw")).as("unique_tokens"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("n_unique_docs"), col("unique_tokens"),
        expr(s"($targetTokens + unique_tokens - 1) div unique_tokens")
          .as("epochs_needed"),
        (expr(s"($targetTokens + unique_tokens - 1) div unique_tokens")
          > maxEpochs).as("over_cap"))
      .orderBy(col("source"), col("n_docs"), col("total_tokens"),
        col("n_unique_docs"), col("unique_tokens"),
        col("epochs_needed"), col("over_cap"))
  }

  /** DuckDB oracle for [[epochBudget]] — groups by raw text where the
    * engine groups by digest (the q33 equivalence). */
  def epochBudgetOracleSql(targetTokens: Long = 200000L,
      maxEpochs: Int = 4): String =
    s"""WITH pre AS (
       |  SELECT source, COUNT(*) AS cnt,
       |    MIN(LEN(STRING_SPLIT(text, ' '))) AS nw
       |  FROM documents GROUP BY source, text)
       |SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_docs,
       |  CAST(SUM(cnt * nw) AS BIGINT) AS total_tokens,
       |  COUNT(*) AS n_unique_docs,
       |  CAST(SUM(nw) AS BIGINT) AS unique_tokens,
       |  CAST(($targetTokens + SUM(nw) - 1) // SUM(nw) AS BIGINT)
       |    AS epochs_needed,
       |  ($targetTokens + SUM(nw) - 1) // SUM(nw) > $maxEpochs AS over_cap
       |FROM pre GROUP BY source
       |ORDER BY source, n_docs, total_tokens, n_unique_docs,
       |  unique_tokens, epochs_needed, over_cap""".stripMargin

  /** DuckDB oracle for [[tokenFertility]] — q37's tokenization
    * conventions aggregated per source. */
  val tokenFertilityOracleSql: String =
    """WITH d AS (
      |  SELECT source, LENGTH(text) AS nc,
      |    LEN(STRING_SPLIT(text, ' ')) AS nw,
      |    LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS nr
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(nc) AS BIGINT) AS sum_chars,
      |  CAST(SUM(nw) AS BIGINT) AS sum_ws_tokens,
      |  CAST(SUM(nr) AS BIGINT) AS sum_re_tokens,
      |  CAST(SUM(nc) * 1000000 // NULLIF(SUM(nr), 0) AS BIGINT)
      |    AS chars_per_re_token_ppm
      |FROM d GROUP BY source
      |ORDER BY source, n_docs, sum_chars, sum_ws_tokens, sum_re_tokens,
      |  chars_per_re_token_ppm NULLS FIRST""".stripMargin
}
