package graft.ops

import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MinHash LSH band-plan tuner (q269): pick the (bands, rows-per-band)
  * split of the 64-hash signature FROM DATA instead of folklore — the
  * "design from data" planner family (q144 threshold curve, q229/q238/
  * q259/q260/q262/q263/q267 pre-flights) applied to the banding scheme
  * itself. Dedup.Bands = 16×4 is a hand-tuned constant whose rationale
  * lives in a comment ("8×8 was measured to drop J≈0.79 recall to
  * ~70%", Dedup.scala); this op derives that decision: for every
  * divisor plan b×r = 64 it folds the measured Jaccard pair histogram
  * through the S-curve collision probability P(s) = 1 − (1 − s^r)^b
  * and reports the expected candidate volume, the expected recall at
  * the dedup threshold τ, and the chosen plan — cheapest candidate
  * stream subject to the recall SLO (recall ≥ 95% at τ = 0.8, q41's
  * own threshold).
  *
  * Determinism (the one-IEEE-fold rule): the only float work is the
  * per-(plan, bin) S-curve evaluation, computed as an explicit
  * squaring CHAIN of IEEE multiplies (s² = s·s, s⁴ = s²·s², …;
  * never a pow() call, whose libm/Java implementations differ) from
  * the exact bin-midpoint ppm, then rounded to 6 decimals and scaled
  * to an integer ppm per cell — every aggregate over the folded cells
  * is exact integer arithmetic, and DuckDB replays the identical
  * multiply sequence ([[probChainSteps]] is the single source of both
  * engines' expressions). The histogram itself is float-free: Jaccard
  * in integer ppm (ni·10⁶ div union) over exact distinct-shingle
  * sets, 50 000-ppm bins by integer division.
  *
  * Zero-overlap pairs are EXCLUDED exactly, not approximated: a pair
  * sharing no shingle has s = 0 and P = 1 − (1 − 0)^b = 0 for every
  * plan, so it contributes nothing — the histogram only needs the
  * intersecting pairs the join produces. (Binning them at the bin-0
  * midpoint instead would charge wide plans P(0.025) ≈ 0.8 per pair —
  * a gross overestimate of hash-collision noise.)
  *
  * Scale shape: the registered query is the audit-grade exact form on
  * an id-bounded subset (q144/q192's small-N discipline — the curve
  * needs relative densities, not the full pair set; at corpus scale
  * feed [[bandPlanOn]] a sampled pair frame). The plan spine is a
  * fixed 5-row frame whatever the corpus (LEFT JOIN + COALESCE, the
  * ADVICE r15 scale-proof rule), the chosen-plan rule is a 1-row
  * min(struct) aggregate broadcast back — no window, no collect. */
object BandPlan {

  /** Candidate splits of the 64-hash signature: every (bands, rows)
    * with b·r = 64 and r ≤ 16 (r = 32/64 curves are uselessly sharp
    * at any realistic τ). */
  val Plans: Seq[(Int, Int)] =
    Seq((64, 1), (32, 2), (16, 4), (8, 8), (4, 16))

  /** Histogram bin width in ppm. */
  val BinW = 50000L

  /** The dedup threshold the recall SLO is evaluated at — q41's own
    * MinJaccard, aligned to a bin edge (800000 = 16 · BinW) so the
    * "true pair" mass needs no mid-bin split. */
  val TauPpm = 800000L

  /** Recall SLO: a plan qualifies if its expected recall at τ is at
    * least this. */
  val RecallTargetPpm = 950000L

  /** The S-curve fold, written ONCE as (column, SQL) steps and used
    * verbatim by BOTH engines (Spark withColumn chain / DuckDB CTE
    * chain) — textual identity of the multiply sequence is what makes
    * the single IEEE fold bit-reproducible across them. Expects
    * columns `bands`, `rpb` (the plan) and `s` (the bin-midpoint
    * similarity as DOUBLE) and yields `p_ppm`, the collision
    * probability in integer ppm. */
  private[graft] val probChainSteps: Seq[(String, String)] = Seq(
    "s2" -> "s * s",
    "s4" -> "s2 * s2",
    "s8" -> "s4 * s4",
    "s16" -> "s8 * s8",
    "sr" -> ("CASE rpb WHEN 1 THEN s WHEN 2 THEN s2 WHEN 4 THEN s4 " +
      "WHEN 8 THEN s8 WHEN 16 THEN s16 END"),
    "qv" -> "1.0 - sr",
    "q2" -> "qv * qv",
    "q4" -> "q2 * q2",
    "q8" -> "q4 * q4",
    "q16" -> "q8 * q8",
    "q32" -> "q16 * q16",
    "q64" -> "q32 * q32",
    "qb" -> ("CASE bands WHEN 4 THEN q4 WHEN 8 THEN q8 WHEN 16 THEN " +
      "q16 WHEN 32 THEN q32 WHEN 64 THEN q64 END"),
    "p_ppm" -> "CAST(ROUND(ROUND(1.0 - qb, 6) * 1000000, 0) AS BIGINT)")

  /** Bin-midpoint similarity: LEAST clamps the top bin (jac = 10⁶
    * lands in bin 20, whose midpoint would read 1.025). */
  private val MidSql =
    s"CAST(LEAST(bin * $BinW + ${BinW / 2}, 1000000) AS DOUBLE)" +
      " / 1000000.0"

  /** Query entry (q269): tune over the exact Jaccard histogram of the
    * id-bounded document subset. */
  def bandPlan(spark: SparkSession, dir: String): DataFrame =
    bandPlanOn(jaccardPairsPpm(graft.Tables.documents(spark, dir)))

  /** Exact pairwise Jaccard in integer ppm over distinct 8-char
    * shingle sets of the id-bounded subset — intersecting pairs only
    * (zero-overlap pairs are exactly P = 0, see the object doc).
    * Same shingle primitive as q41 (native shingle8; the q41 oracle
    * replays it as substring sets). */
  def jaccardPairsPpm(docs: DataFrame, maxId: Long = 200L): DataFrame = {
    val sh = docs.filter(col("doc_id") < maxId)
      .select(col("doc_id"), GraftFunctions.shingle8(col("text")).as("sh"))
    val g = sh.select(col("doc_id"), explode(col("sh")).as("h"))
    val sizes =
      sh.select(col("doc_id"), size(col("sh")).cast("long").as("n"))
    g.select(col("doc_id").as("da"), col("h"))
      .join(g.select(col("doc_id").as("db"), col("h")), Seq("h"))
      .filter(col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("ni"))
      .join(sizes.select(col("doc_id").as("da"), col("n").as("na")),
        Seq("da"))
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")),
        Seq("db"))
      .select(expr("ni * 1000000 div (na + nb - ni)").as("jac_ppm"))
  }

  /** Core: fold a (jac_ppm) pair frame through the S-curve of every
    * candidate plan. Output, one row per plan:
    * (bands, rows_per_band, est_cand_pairs_ppm — expected candidate
    * pairs × 10⁶, true_pairs — pairs at or above τ, est_recall_ppm —
    * expected caught share of those, chosen — cheapest plan meeting
    * the recall SLO, or the max-recall plan when none does). */
  def bandPlanOn(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val hist = pairs
      .select(expr(s"jac_ppm div $BinW").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("np"))
    val plans = Plans.toDF("b0", "r0")
      .select(col("b0").cast("long").as("bands"),
        col("r0").cast("long").as("rpb"))
    val cells = probChainSteps.foldLeft(
        plans.crossJoin(hist).withColumn("s", expr(MidSql))) {
      case (df, (name, sql)) => df.withColumn(name, expr(sql))
    }
    val tauBin = TauPpm / BinW
    val agg = cells.groupBy(col("bands"), col("rpb")).agg(
      sum(col("np") * col("p_ppm")).as("est0"),
      sum(when(col("bin") >= tauBin, col("np"))).as("ntrue0"),
      sum(when(col("bin") >= tauBin, col("np") * col("p_ppm")))
        .as("caught0"))
    // 5-row plan spine + zero fill: the output shape never depends on
    // the corpus (a degenerate/empty histogram still reports all 5
    // plans, vacuous recall = 10⁶ — "no true pair was missed")
    val spine = Dedup.register(plans
      .join(agg, Seq("bands", "rpb"), "left")
      .select(col("bands"), col("rpb").as("rows_per_band"),
        coalesce(col("est0"), lit(0L)).as("est_cand_pairs_ppm"),
        coalesce(col("ntrue0"), lit(0L)).as("true_pairs"),
        expr("CASE WHEN COALESCE(ntrue0, 0) = 0 THEN 1000000 " +
          "ELSE COALESCE(caught0, 0) div ntrue0 END")
          .as("est_recall_ppm"))
      .persist())
    // chosen: qualifying plans (recall ≥ SLO) ranked by candidate
    // volume; if none qualifies, max recall. Total order via a 1-row
    // min(struct) — (qual, cost-or-recall, bands desc, rpb) — no
    // window, broadcast back onto the spine.
    val keyed = spine
      .withColumn("k1",
        when(col("est_recall_ppm") >= RecallTargetPpm, 0L).otherwise(1L))
      .withColumn("k2",
        when(col("k1") === 0L, col("est_cand_pairs_ppm"))
          .otherwise(-col("est_recall_ppm")))
    val best = keyed.agg(min(struct(col("k1"), col("k2"),
      (-col("bands")).as("k3"), col("bands").as("bb"),
      col("rows_per_band").as("br"))).as("w"))
    keyed.crossJoin(broadcast(best))
      .select(col("bands"), col("rows_per_band"),
        col("est_cand_pairs_ppm"), col("true_pairs"),
        col("est_recall_ppm"),
        (col("bands") === col("w.bb") &&
          col("rows_per_band") === col("w.br")).as("chosen"))
      .orderBy(col("bands"), col("rows_per_band"),
        col("est_cand_pairs_ppm"), col("true_pairs"),
        col("est_recall_ppm"), col("chosen"))
  }

  /** DuckDB oracle: the identical histogram (substring shingle sets,
    * the q41 replay), plan VALUES spine, and the verbatim
    * [[probChainSteps]] multiply chain as a CTE ladder. */
  def bandPlanOracleSql(maxId: Long = 200L): String = {
    // the fold becomes a CTE ladder: c_i AS (SELECT *, <sql> AS <name>)
    val steps = probChainSteps.zipWithIndex.map { case ((name, sql), i) =>
      val src = if (i == 0) "cell" else s"c${i - 1}"
      s"c$i AS (SELECT *, $sql AS $name FROM $src)"
    }
    val last = s"c${probChainSteps.size - 1}"
    val tauBin = TauPpm / BinW
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < $maxId
       |), g AS (
       |  SELECT doc_id, unnest(list_distinct([substr(text, i, 8)
       |    FOR i IN range(1, greatest(length(text) - 7, 1) + 1)])) AS gram
       |  FROM d
       |), sizes AS (
       |  SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id
       |), inter AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
       |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), pj AS (
       |  SELECT CAST(ni * 1000000 // (sa.n + sb.n - ni) AS BIGINT)
       |    AS jac_ppm
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = da
       |  JOIN sizes sb ON sb.doc_id = db
       |), hist AS (
       |  SELECT jac_ppm // $BinW AS bin, count(*) AS np FROM pj GROUP BY 1
       |), plans(b0, r0) AS (
       |  VALUES ${Plans.map { case (b, r) => s"($b, $r)" }.mkString(", ")}
       |), pl AS (
       |  SELECT CAST(b0 AS BIGINT) AS bands, CAST(r0 AS BIGINT) AS rpb
       |  FROM plans
       |), cell AS (
       |  SELECT bands, rpb, bin, np, $MidSql AS s
       |  FROM pl CROSS JOIN hist
       |), ${steps.mkString(",\n")},
       |agg AS (
       |  SELECT bands, rpb,
       |    CAST(SUM(np * p_ppm) AS BIGINT) AS est0,
       |    CAST(SUM(np) FILTER (WHERE bin >= $tauBin) AS BIGINT) AS ntrue0,
       |    CAST(SUM(np * p_ppm) FILTER (WHERE bin >= $tauBin) AS BIGINT)
       |      AS caught0
       |  FROM $last GROUP BY bands, rpb
       |), spine AS (
       |  SELECT pl.bands, pl.rpb AS rows_per_band,
       |    COALESCE(est0, 0) AS est_cand_pairs_ppm,
       |    COALESCE(ntrue0, 0) AS true_pairs,
       |    CASE WHEN COALESCE(ntrue0, 0) = 0 THEN 1000000
       |      ELSE CAST(COALESCE(caught0, 0) // ntrue0 AS BIGINT) END
       |      AS est_recall_ppm
       |  FROM pl LEFT JOIN agg
       |    ON agg.bands = pl.bands AND agg.rpb = pl.rpb
       |), keyed AS (
       |  SELECT *,
       |    CASE WHEN est_recall_ppm >= $RecallTargetPpm THEN 0 ELSE 1 END
       |      AS k1,
       |    CASE WHEN est_recall_ppm >= $RecallTargetPpm
       |      THEN est_cand_pairs_ppm ELSE -est_recall_ppm END AS k2
       |  FROM spine
       |), best AS (
       |  SELECT bands AS bb, rows_per_band AS br FROM keyed
       |  ORDER BY k1, k2, -bands, rows_per_band LIMIT 1
       |)
       |SELECT bands, rows_per_band, est_cand_pairs_ppm, true_pairs,
       |  est_recall_ppm,
       |  (bands = (SELECT bb FROM best)
       |    AND rows_per_band = (SELECT br FROM best)) AS chosen
       |FROM keyed
       |ORDER BY bands, rows_per_band, est_cand_pairs_ppm, true_pairs,
       |  est_recall_ppm, chosen""".stripMargin
  }
}
