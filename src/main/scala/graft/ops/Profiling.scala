package graft.ops

import graft.Tables
import graft.functions.GraftFunctions.{rollingHash, splitmix64}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Statistical QA operators — the profiling / outlier / distribution
  * checks a migration or curation pipeline runs over a table before
  * and after moving it (the Spark-native generalization of the
  * reference's row-count validation, transfer_data_script.py:129-137,
  * which is the only data QA the reference performs).
  *
  * Determinism: money columns go through the cents lattice
  * (`DECIMAL(18,2) * 100 → BIGINT`) and every decision rule is exact
  * integer / decimal arithmetic — the z-score test is cross-multiplied
  * so no division or square root ever happens (see [[zscoreOutliers]]).
  */
object Profiling {

  /** Exact integer cents for a money-like double column — the same
    * double→DECIMAL(18,2) cast the Det helpers use, scaled to a lossless
    * BIGINT so downstream arithmetic never touches floats. */
  def cents(c: Column): Column =
    (c.cast("decimal(18,2)") * 100).cast("long")
  /** SQL mirror of [[cents]] for oracle strings. */
  def centsSql(x: String): String =
    s"CAST(CAST($x AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** Per-supplier two-sided z-score outliers (|z| ≥ 1.8; the bounded
    * uniform-product price distribution tops out at |z| ≈ 1.9, so 2σ
    * would be vacuous on this data) over lineitem extended price, with
    * NO floating point: |x−μ| ≥ 1.8σ is cross-multiplied to
    *   (x·n − s)² · (n−1) · 25 ≥ 81 · n · (n·ss − s²)
    * over integer cents (s = Σx, ss = Σx²), evaluated in DECIMAL(38,0)
    * — exact at any plausible group size (per-supplier n ≈ 600 rows at
    * every TPC-H SF since suppliers scale with lineitem; the largest
    * intermediate is ~1e27, well under 1e38). Groups with n < 3 or
    * zero variance emit nothing (a constant group has no outliers).
    *
    * Scale shape: one keyed aggregate over l_suppkey, the per-group
    * moments broadcast back by AQE (1 row per supplier), then a
    * codegen'd filter on the scan — no second shuffle of the fact. */
  def zscoreOutliers(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        cents(col("l_extendedprice")).as("price_cents"))
    val moments = li.groupBy(col("l_suppkey")).agg(
      count(lit(1)).as("n"),
      sum(col("price_cents")).as("s"),
      sum((col("price_cents") * col("price_cents")).cast("decimal(38,0)"))
        .as("ss"))
    val varNum = col("n") * col("ss") - col("s").cast("decimal(38,0)") *
      col("s").cast("decimal(38,0)")     // n·ss − s² = n(n−1)·σ̂²
    // Collapse the decimal inequality dev²·25(n−1) ≥ 81·n·varNum to a
    // PER-GROUP integer threshold T = min{c ≥ 0 : c²·B ≥ A}, so the
    // per-row test is |x·n − s| ≥ T in pure long arithmetic (codegen'd
    // compare on the scan, no per-row decimal ops). The float sqrt only
    // seeds the candidate; the ±2 decimal-exact adjustment makes T
    // exact, so results are bit-identical to the direct inequality
    // (and to the oracle, which keeps the direct HUGEINT form).
    val a = varNum * 81 * col("n")                       // decimal-exact
    val b = (col("n") - 1) * 25                          // long
    val t0 = floor(sqrt(a.cast("double") / b.cast("double"))).cast("long")
    def ok(c: Column): Column = {
      val cPos = greatest(c, lit(0L))
      cPos.cast("decimal(38,0)") * cPos.cast("decimal(38,0)") * b >= a
    }
    val thr = Seq(-2L, -1L, 0L, 1L, 2L).foldRight(lit(0L) /*unreachable*/) {
      (k, acc) => when(ok(t0 + k), greatest(t0 + k, lit(0L))).otherwise(acc)
    }
    val groups = moments.filter(col("n") >= 3 && varNum > 0)
      .select(col("l_suppkey"), col("n"), col("s"), thr.as("t_cents"))
    // broadcast the 1-row-per-supplier thresholds, never the fact (at
    // this SF both sides fit the threshold and Catalyst may build the
    // fact). x·n stays in long: n per group is O(rows/suppliers),
    // bounded ~1e3 at every TPC-H SF, vs x ≤ 1e7 cents.
    val dev = col("price_cents") * col("n") - col("s")   // long-exact
    li.join(broadcast(groups), Seq("l_suppkey"))
      .filter(abs(dev) >= col("t_cents"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("price_cents"),
        when(dev > 0, lit("high")).otherwise(lit("low")).as("side"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("price_cents"), col("side"))
  }

  /** One-pass column profile of the orders table: per column, the
    * null count, exact distinct count, and (numeric columns only) the
    * min/max as double. A single wide aggregate — Catalyst plans the
    * multi-distinct via Expand, still one scan of the table — then a
    * `stack` to one row per column. This is the "describe the table I
    * just moved" primitive the reference's validation step implies. */
  def profileOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def nulls(c: String)    = sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c")
    def distincts(c: String) = countDistinct(col(c)).as(s"nd_$c")
    val agg = o.agg(
      nulls("o_orderkey"), distincts("o_orderkey"),
      min(col("o_orderkey")).cast("double").as("mn_o_orderkey"),
      max(col("o_orderkey")).cast("double").as("mx_o_orderkey"),
      nulls("o_custkey"), distincts("o_custkey"),
      min(col("o_custkey")).cast("double").as("mn_o_custkey"),
      max(col("o_custkey")).cast("double").as("mx_o_custkey"),
      nulls("o_totalprice"), distincts("o_totalprice"),
      min(col("o_totalprice")).as("mn_o_totalprice"),
      max(col("o_totalprice")).as("mx_o_totalprice"),
      nulls("o_orderstatus"), distincts("o_orderstatus"),
      nulls("o_orderpriority"), distincts("o_orderpriority"),
      nulls("o_orderdate"), distincts("o_orderdate"))
    agg.selectExpr(
      """stack(6,
        |  'o_custkey',      nn_o_custkey,      nd_o_custkey,      mn_o_custkey,      mx_o_custkey,
        |  'o_orderdate',    nn_o_orderdate,    nd_o_orderdate,    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  'o_orderkey',     nn_o_orderkey,     nd_o_orderkey,     mn_o_orderkey,     mx_o_orderkey,
        |  'o_orderpriority',nn_o_orderpriority,nd_o_orderpriority,CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  'o_orderstatus',  nn_o_orderstatus,  nd_o_orderstatus,  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |  'o_totalprice',   nn_o_totalprice,   nd_o_totalprice,   mn_o_totalprice,   mx_o_totalprice
        |) AS (column_name, n_nulls, n_distinct, min_v, max_v)""".stripMargin)
      .orderBy(col("column_name"))
  }

  /** Fixed-width histogram of order total price over integer cents:
    * 24 bins across [0, 600,000.00], bin id by exact integer
    * arithmetic (`cents · 24 div hi`, clamped), per-bin count and
    * exact sum. Empty bins are absent (sparse histogram). One keyed
    * aggregate; the bin id is codegen'd on the scan. */
  def priceHistogram(spark: SparkSession, dir: String): DataFrame = {
    val hi = 60000000L // 600k dollars in cents; TPC-H totalprice < 530k
    val nBins = 24L
    Tables.orders(spark, dir)
      .select(cents(col("o_totalprice")).as("c"))
      .select(least(expr(s"c * $nBins div $hi"), lit(nBins - 1)).as("bin"),
        col("c"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("c").cast("decimal(38,0)")).cast("long").as("sum_cents"))
      .orderBy(col("bin"), col("n"), col("sum_cents"))
  }

  /** Per-flag Pearson correlation between quantity and extended price
    * with deterministic arithmetic: all five moments (Σx, Σy, Σxy,
    * Σx², Σy²) accumulate exactly in DECIMAL(38,0) over integer cents,
    * then the final
    *   r = (n·Σxy − Σx·Σy) / √((n·Σx² − Σx²)(n·Σy² − Σy²))
    * is a fixed sequence of correctly-rounded IEEE ops on exactly equal
    * inputs — identical in both engines — rounded to 6 places. The
    * aggregate shuffles only per-group moment rows (map-side partial
    * aggregation), never the fact. */
  def corrQuantityPrice(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_returnflag"),
      cents(col("l_quantity")).as("x"), cents(col("l_extendedprice")).as("y"))
    def d(c: Column) = c.cast("decimal(38,0)")
    val m = li.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n"),
      sum(d(col("x"))).as("sx"), sum(d(col("y"))).as("sy"),
      sum(d(col("x")) * d(col("y"))).as("sxy"),
      sum(d(col("x")) * d(col("x"))).as("sxx"),
      sum(d(col("y")) * d(col("y"))).as("syy"))
    m.select(col("l_returnflag"), col("n"),
      round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
        sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
          (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
        .as("corr_qp"))
      .orderBy(col("l_returnflag"), col("n"), col("corr_qp"))
  }

  /** Per-flag winsorized sum: values clipped to the [p05, p95]
    * NEAREST-RANK order statistics over integer cents — b_lo is the
    * ceil(n/20)-th smallest value, b_hi the ceil(19n/20)-th. No
    * interpolation anywhere, so the bounds are engine-independent by
    * construction (two float percentile implementations can diverge
    * by an ulp at a rounding boundary; an integer rank rule cannot),
    * and the clipped sum is an exact BIGINT.
    *
    * Scale shape: two-phase exact selection — a $100-bucket histogram
    * locates each target rank's bucket, then only that bucket's rows
    * are ranked exactly (see the inline comment). The 3-row bounds
    * broadcast back onto the scan; the fact is never re-shuffled. At
    * 100 TB with unbounded distinct values the mergeable fixed-bin
    * histogram path (q109, [[Grouping.histogramQuantileRollup]]) is
    * the monitoring answer; this exact family is for audit-grade
    * checks. */
  def winsorizedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("c"))
    // two-phase exact rank selection (the order statistic itself is
    // algorithm-independent, so the oracle keeps its one-phase
    // cumulative walk): phase 1 bins cents into $100 buckets and
    // walks the per-flag bin histogram to the bucket containing each
    // target rank — the windows run over ~1e3 bins per flag instead
    // of every distinct cent value; phase 2 ranks ONLY the boundary
    // bucket's rows (n/bins of the data) to extract the exact value.
    // Ties inside the bucket are safe: row_number's tie order can't
    // change the VALUE at a rank within a sorted multiset. Measured
    // at sf0.1: 2.40 s -> see BASELINE.md. At extreme SF a boundary
    // bucket grows linearly; the fix is recursing one more bin level,
    // not needed at any tested scale.
    val bins = li.groupBy(col("l_returnflag"), expr("c div 10000").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val wB = Window.partitionBy(col("l_returnflag")).orderBy(col("bin"))
    val cumB = bins
      .withColumn("cum", sum(col("cnt")).over(wB))
      .withColumn("n", sum(col("cnt")).over(
        Window.partitionBy(col("l_returnflag"))))
    val targets = cumB
      .select(col("l_returnflag"), col("bin"), col("cnt"), col("cum"),
        expr("(n + 19) div 20").as("rank"), lit("lo").as("tag"))
      .union(cumB.select(col("l_returnflag"), col("bin"), col("cnt"),
        col("cum"), expr("(19 * n + 19) div 20").as("rank"),
        lit("hi").as("tag")))
    val boundary = targets.filter(col("cum") >= col("rank"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("l_returnflag"), col("tag"))
          .orderBy(col("bin"))))
      .filter(col("__rn") === 1)
      .select(col("l_returnflag").as("bf"), col("tag"), col("bin"),
        (col("rank") - (col("cum") - col("cnt"))).as("k"))
    val inBin = li.join(broadcast(boundary),
      col("l_returnflag") === col("bf") &&
        expr("c div 10000") === col("bin"))
    val bounds = inBin
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("l_returnflag"), col("tag"))
          .orderBy(col("c"))))
      .filter(col("__rn") === col("k"))
      .groupBy(col("l_returnflag"))
      .agg(min(when(col("tag") === "lo", col("c"))).as("b_lo"),
        min(when(col("tag") === "hi", col("c"))).as("b_hi"))
    li.join(broadcast(bounds), Seq("l_returnflag"))
      .select(col("l_returnflag"),
        least(greatest(col("c"), col("b_lo")), col("b_hi")).as("w"),
        (col("c") < col("b_lo")).as("lo"), (col("c") > col("b_hi")).as("hi"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("w")).as("wins_sum_cents"),
        sum(when(col("lo"), 1L).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("hi"), 1L).otherwise(0L)).as("n_clipped_hi"))
      .orderBy(col("l_returnflag"), col("n"), col("wins_sum_cents"),
        col("n_clipped_lo"), col("n_clipped_hi"))
  }

  /** ABC (Pareto-class) analysis of revenue by customer nation: each
    * nation's revenue share and cumulative share in exact ppm, classed
    * A/B/C at the 80%/95% cumulative thresholds — the
    * inventory-management classic for "which 20% carries 80%". The
    * orders⋈customer leg rides the custkey-bucketed layout (q124
    * contract, zero fact-side exchange); nation broadcasts; revenue
    * accumulates in DECIMAL(38,0) cents (overflow-safe at any SF) and
    * every share/threshold decision is integer div — the only window
    * runs over the 25-row nation table.
    */
  def abcAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val (c, o) = Tables.bucketedCustomerOrders(spark, dir)
    val n = Tables.nation(spark, dir)
    val rev = o.hint("merge").join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(cents(col("o_totalprice")).cast("decimal(38,0)"))
        .as("rev_cents"))
    val wCum = Window.orderBy(col("rev_cents").desc, col("n_name").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev
      .withColumn("cum", sum(col("rev_cents")).over(wCum))
      .withColumn("tot", sum(col("rev_cents")).over(
        Window.partitionBy(lit(1))))
      .select(col("n_name"), col("rev_cents").cast("long").as("rev_cents"),
        expr("CAST(rev_cents * 1000000 div tot AS BIGINT)")
          .as("share_ppm"),
        expr("CAST(cum * 1000000 div tot AS BIGINT)").as("cum_share_ppm"),
        when(expr("cum * 1000000 div tot") <= 800000, "A")
          .when(expr("cum * 1000000 div tot") <= 950000, "B")
          .otherwise("C").as("abc_class"))
      .orderBy(col("n_name"), col("rev_cents"), col("share_ppm"),
        col("cum_share_ppm"), col("abc_class"))
  }

  /** Quantity-weighted median price per flag alongside the unweighted
    * one: the weighted median is the smallest value whose cumulative
    * WEIGHT reaches half the total (2·cum ≥ tot, exact integers) —
    * the "median dollar" rather than the "median row", which is what
    * pricing and capacity planning actually ask for when line sizes
    * vary. Same value-histogram walk as q47/q100/q128: one keyed
    * aggregate to distinct values, windows over the value table only.
    */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_returnflag"),
      cents(col("l_extendedprice")).as("c"),
      cents(col("l_quantity")).as("q"))
    val vc = li.groupBy(col("l_returnflag"), col("c"))
      .agg(count(lit(1)).as("cnt"), sum(col("q")).as("w"))
    val wOrd = Window.partitionBy(col("l_returnflag")).orderBy(col("c"))
    val wAll = Window.partitionBy(col("l_returnflag"))
    vc.withColumn("cumn", sum(col("cnt")).over(wOrd))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("cumw", sum(col("w")).over(wOrd))
      .withColumn("tot", sum(col("w")).over(wAll))
      .groupBy(col("l_returnflag"))
      .agg(min(col("n")).as("n"),
        min(when(col("cumn") * 2 >= col("n"), col("c"))).as("med_cents"),
        min(col("tot")).as("total_weight"),
        min(when(col("cumw") * 2 >= col("tot"), col("c")))
          .as("wmed_cents"))
      .orderBy(col("l_returnflag"), col("n"), col("med_cents"),
        col("total_weight"), col("wmed_cents"))
  }

  /** Per-flag statistical mode of quantity with a deterministic
    * tie-break (highest count, then lowest value): two keyed
    * aggregates then a row_number window over the tiny (flag, value)
    * count table — the classic "most frequent value" profile column.
    */
  def modeQuantity(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), cents(col("l_quantity")).as("q_cents"))
      .groupBy(col("l_returnflag"), col("q_cents"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("n").desc, col("q_cents").asc)
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("q_cents").as("mode_q_cents"), col("n"))
      .orderBy(col("l_returnflag"), col("mode_q_cents"), col("n"))
  }

  /** Robust outlier screen via MAD (median absolute deviation): flags
    * rows with |x − median| > 5·MAD per group — the resistant
    * complement of the moment-based z-score (q94), which a single
    * extreme value can mask by inflating σ; no value can move a
    * median. Both medians are NEAREST-RANK ((n+1) div 2) order
    * statistics over integer cents — no interpolation, no floats, so
    * the k·MAD decision is an exact cross-multiplied long compare in
    * both engines (k = kNum/kDen; |x−med|·kDen > kNum·MAD). The query
    * runs k = 1.8 for the same reason q94 runs 1.8σ: the bounded
    * uniform price distribution never reaches the classical 3·MAD
    * band (MAD ≈ range/4 here, so |x−med| tops out near 2·MAD); real
    * long-tailed data would use kNum/kDen = 3..5.
    *
    * Scale shape: two value-histogram walks (the q47/q100 family —
    * window state is bounded by DISTINCT cent values, not rows) with
    * the 1-row-per-group median/MAD broadcast back onto the scan
    * between and after them; the fact shuffles only into per-value
    * partial counts. Zero-MAD groups (>50% identical values)
    * degenerate deterministically to "anything ≠ median". */
  def madOutliers(spark: SparkSession, dir: String): DataFrame =
    madOutliersOf(
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag"), cents(col("l_extendedprice")).as("c")),
      kNum = 9L, kDen = 5L)

  /** Core MAD screen over any (l_returnflag, c) frame; see
    * [[madOutliers]]. The fact is scanned and shuffled ONCE, into the
    * per-value count table — the deviation histogram, the MAD walk,
    * and the final outlier count are all derived from that table
    * (|c − med| with c's count IS the deviation multiset), so the
    * second and third fact passes of the naive form disappear
    * (measured 3.8 → ~1.5 s at sf0.1). */
  def madOutliersOf(li: DataFrame, kNum: Long, kDen: Long): DataFrame = {
    def walk(vals: DataFrame, v: String, out: String): DataFrame =
      vals.withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(col("l_returnflag")).orderBy(col(v))))
        .withColumn("n", sum(col("cnt")).over(
          Window.partitionBy(col("l_returnflag"))))
        .filter(col("cum") >= expr("(n + 1) div 2"))
        .groupBy(col("l_returnflag"))
        .agg(min(col(v)).as(out))
    val vc = Dedup.register(li.groupBy(col("l_returnflag"), col("c"))
      .agg(count(lit(1)).as("cnt"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val med = walk(vc, "c", "med_cents")
    val devCounts = vc.join(broadcast(med), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"),
        abs(col("c") - col("med_cents")).as("d"))
      .agg(sum(col("cnt")).as("cnt"))
    val mad = walk(devCounts, "d", "mad_cents")
    vc.join(broadcast(med), Seq("l_returnflag"))
      .join(broadcast(mad), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("cnt")).as("n"),
        min(col("med_cents")).as("med_cents"),
        min(col("mad_cents")).as("mad_cents"),
        sum(when(expr(s"abs(c - med_cents) * $kDen > $kNum * mad_cents"),
          col("cnt")).otherwise(0L)).as("n_outliers"))
      .select(col("l_returnflag"), col("n"), col("med_cents"),
        col("mad_cents"), col("n_outliers"),
        expr("n_outliers * 1000000 DIV n").as("outlier_ppm"))
      .orderBy(col("l_returnflag"), col("n"), col("med_cents"),
        col("mad_cents"), col("n_outliers"), col("outlier_ppm"))
  }

  /** Revenue concentration per nation as an exact-integer Gini
    * coefficient in ppm: with per-supplier revenues x_i sorted
    * ascending within nation (rank i of n),
    *   gini_ppm = 1e6 · Σ(2i − n − 1)·x_i  div  n·Σx
    * — the rank-weighted form needs no mean, no division until the
    * final integer div, and tie order can't change the result (equal
    * x share the same contribution under any rank assignment of the
    * tie group's fixed weight sum). The skew/market-concentration
    * screen a curation pipeline runs per domain.
    *
    * Scale shape: the fact collapses to one revenue row per supplier
    * first; ranks are a window over suppliers within nation (25-ish
    * partitions of ~n_suppliers/25 rows); the final aggregate is one
    * row per nation. */
  def giniRevenue(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), cents(col("l_extendedprice")).as("c"))
      .groupBy(col("l_suppkey")).agg(sum(col("c")).as("x"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("x").asc, col("l_suppkey").asc)
    rev.withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(((lit(2) * col("i") - lit(1)) * col("x"))
          .cast("decimal(38,0)")).as("wsum"))
      .select(col("s_nationkey"), col("n_suppliers"),
        // Σ(2i−n−1)x = Σ(2i−1)x − n·Σx; decimal operands keep the
        // ×1e6 exact at any SF, div yields BIGINT in both engines
        expr("CAST((wsum - n_suppliers * sx) * 1000000" +
          " div (n_suppliers * sx) AS BIGINT)").as("gini_ppm"))
      .orderBy(col("s_nationkey"), col("n_suppliers"), col("gini_ppm"))
  }

  /** Per-flag least-squares trend of price over ship date, both slope
    * and intercept from exact integer moments (days since epoch ×
    * integer cents, accumulated in DECIMAL(38,0)):
    *   slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *   intercept = (Σy·Σx² − Σx·Σxy) / (n·Σx² − (Σx)²)
    * each a single correctly-rounded double division over exactly
    * equal numerators/denominators in both engines, rounded to 6.
    * Same moments-only shuffle shape as [[corrQuantityPrice]]. */
  def priceTrend(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_returnflag"),
      datediff(col("l_shipdate").cast("date"),
        to_date(lit("1970-01-01"))).cast("long").as("x"),
      cents(col("l_extendedprice")).as("y"))
    def d(c: Column) = c.cast("decimal(38,0)")
    val m = li.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n"),
      sum(d(col("x"))).as("sx"), sum(d(col("y"))).as("sy"),
      sum(d(col("x")) * d(col("y"))).as("sxy"),
      sum(d(col("x")) * d(col("x"))).as("sxx"))
    val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    m.select(col("l_returnflag"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / den, 6).as("slope_cents_per_day"),
        round((col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double")
          / den, 6).as("intercept_cents"))
      .orderBy(col("l_returnflag"), col("n"), col("slope_cents_per_day"),
        col("intercept_cents"))
  }

  /** Benford first-digit distribution of order totals — the classic
    * fabricated-data screen: real financial magnitudes follow
    * P(d) = log10(1 + 1/d); a flat or spiked distribution flags
    * synthetic or truncated data. The digit is extracted from the
    * decimal STRING form of integer cents (exact in both engines — no
    * log10/pow float path), shares in integer ppm. One keyed
    * aggregate to 9 rows, then a driver-size window for the total. */
  def benfordDigits(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .select(cents(col("o_totalprice")).as("c"))
      .filter(col("c") > 0)
      .select(substring(col("c").cast("string"), 1, 1).cast("long")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    counts
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .withColumn("share_ppm", expr("n * 1000000 div total"))
      .drop("total")
      .orderBy(col("digit"), col("n"), col("share_ppm"))
  }

  /** returnflag × linestatus contingency table with the per-cell
    * chi-square contribution: observed n, row/col/grand totals all
    * exact, and the cell statistic
    *   χ²_cell = (N·n − r·c)² / (N·r·c)
    * (the (O−E)²/E term multiplied through by N²/N²) evaluated as ONE
    * double division over exactly-equal integer inputs, rounded to 6
    * — deterministic across engines without ever materializing the
    * rational expected count. The sum is left to the reader because a
    * float sum over cells would be order-dependent; per-cell rows are
    * the deterministic form. All windows run on the aggregated
    * |flags|×|statuses| frame, not the fact. */
  def contingencyChi(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"))
    val byFlag = Window.partitionBy(col("l_returnflag"))
    val byStatus = Window.partitionBy(col("l_linestatus"))
    val all = Window.partitionBy()
    def d(c: Column) = c.cast("decimal(38,0)")
    cells
      .withColumn("row_total", sum(col("n")).over(byFlag))
      .withColumn("col_total", sum(col("n")).over(byStatus))
      .withColumn("grand_total", sum(col("n")).over(all))
      .withColumn("chi_cell", round(
        ((d(col("grand_total")) * col("n") -
          d(col("row_total")) * col("col_total")) *
         (d(col("grand_total")) * col("n") -
          d(col("row_total")) * col("col_total"))).cast("double") /
        (d(col("grand_total")) * col("row_total") * col("col_total"))
          .cast("double"), 6))
      .orderBy(col("l_returnflag"), col("l_linestatus"), col("n"),
        col("row_total"), col("col_total"), col("grand_total"),
        col("chi_cell"))
  }

  /** Two-sample Kolmogorov–Smirnov distance, exact and float-free:
    * within each line status, the KS distance between the extended-
    * price distributions of returned (R) vs accepted (A) items —
    * max over the pooled support of |F1(x) − F2(x)|, kept integral by
    * cross-multiplying: d(x) = |cum1(x)·n2 − cum2(x)·n1| in
    * DECIMAL(38,0) (exact at any corpus size), reported as
    * ks_ppm = 1e6·max(d) div (n1·n2) plus the cent value where the
    * max first occurs. The distribution-drift screen a pipeline runs
    * between train/test splits, time slices, or source cohorts — a
    * large KS between cohorts means the split is not exchangeable.
    *
    * Scale shape: two-phase exact search, the [[winsorizedRevenue]]
    * move adapted to an argmax. Phase 1 walks the $100-bin histogram
    * (per-bin cohort sums, ~10³ rows per status): the signed distance
    * at a bin's end is a TRUE D value (lower bound L on the max),
    * while any interior value lies between s_start − b2·n1 and
    * s_start + b1·n2, giving each bin a certified upper bound U.
    * Phase 2 walks the per-cent CDF ONLY inside bins with U ≥ L —
    * every cent achieving the global max lives there (the L-achieving
    * bin itself qualifies since |s_end| ≤ U), so the result including
    * the min-c tie rule is exactly the full walk's, but the fact
    * never shuffles at per-cent grain. */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    val dec0 = lit(0).cast("decimal(38,0)")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag").isin("R", "A"))
      .select(col("l_linestatus").as("st"),
        cents(col("l_extendedprice")).as("c"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) div 10000")
          .as("bin"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r1"),
        when(col("l_returnflag") === "A", 1L).otherwise(0L).as("r2"))
    val wOrd = Window.partitionBy(col("st")).orderBy(col("bin"))
    val wAll = Window.partitionBy(col("st"))
    val bins = li.groupBy(col("st"), col("bin"))
      .agg(sum(col("r1")).as("b1"), sum(col("r2")).as("b2"))
      .withColumn("cum1", sum(col("b1")).over(wOrd))
      .withColumn("cum2", sum(col("b2")).over(wOrd))
      .withColumn("n1", sum(col("b1")).over(wAll))
      .withColumn("n2", sum(col("b2")).over(wAll))
      .withColumn("s_end",
        d(col("cum1")) * d(col("n2")) - d(col("cum2")) * d(col("n1")))
      .withColumn("s_start", coalesce(lag(col("s_end"), 1).over(wOrd), dec0))
      .withColumn("lb", max(abs(col("s_end"))).over(wAll))
      .withColumn("ub", greatest(
        abs(col("s_start") + d(col("b1")) * d(col("n2"))),
        abs(col("s_start") - d(col("b2")) * d(col("n1")))))
    val cand = bins.filter(col("ub") >= col("lb"))
      .select(col("st").as("cst"), col("bin").as("cbin"),
        col("s_start"), col("n1"), col("n2"))
    val wBin = Window.partitionBy(col("st"), col("bin")).orderBy(col("c"))
    val dvals = li
      .join(broadcast(cand),
        col("st") === col("cst") && col("bin") === col("cbin"))
      .groupBy(col("st"), col("bin"), col("c"),
        col("s_start"), col("n1"), col("n2"))
      .agg(sum(col("r1")).as("c1"), sum(col("r2")).as("c2"))
      .withColumn("lc1", sum(col("c1")).over(wBin))
      .withColumn("lc2", sum(col("c2")).over(wBin))
      .withColumn("dd", abs(col("s_start") +
        d(col("lc1")) * d(col("n2")) - d(col("lc2")) * d(col("n1"))))
      .withColumn("md", max(col("dd")).over(Window.partitionBy(col("st"))))
    dvals.filter(col("dd") === col("md"))
      .groupBy(col("st"), col("n1"), col("n2"), col("md"))
      .agg(min(col("c")).as("ks_at_cents"))
      .select(col("st").as("l_linestatus"), col("n1"), col("n2"),
        expr("CAST(md * 1000000 div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)")
          .as("ks_ppm"),
        col("ks_at_cents"))
      .orderBy(col("l_linestatus"), col("n1"), col("n2"), col("ks_ppm"),
        col("ks_at_cents"))
  }

  /** Categorical distribution drift as exact total-variation distance:
    * the order-priority mix of 1996 orders vs 1997 orders, per
    * category and overall. TVD = ½·Σ|p1(k) − p2(k)| kept integral by
    * cross-multiplying (|c1·n2 − c2·n1| in DECIMAL(38,0)), reported
    * as tvd_ppm = 1e6·Σ|…| div (2·n1·n2) alongside each category's
    * per-cohort shares in ppm. The categorical complement of the KS
    * screen ([[ksDrift]] needs an ordinal axis; TVD does not) — the
    * "did the label/source/language mix shift between slices" check.
    *
    * Scale shape: one keyed aggregate to (category, c1, c2) — partial
    * combine makes the shuffle |categories|-sized — then windows over
    * that tiny table; nothing fact-sized moves twice. */
  def tvdDrift(spark: SparkSession, dir: String): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderpriority"),
        (col("o_orderdate") < lit("1997-01-01").cast("timestamp")).as("y96"))
    val counts = o.groupBy(col("o_orderpriority")).agg(
      sum(when(col("y96"), 1L).otherwise(0L)).as("c1"),
      sum(when(!col("y96"), 1L).otherwise(0L)).as("c2"))
    val wAll = Window.partitionBy()
    counts
      .withColumn("n1", sum(col("c1")).over(wAll))
      .withColumn("n2", sum(col("c2")).over(wAll))
      .withColumn("num",
        sum(abs(d(col("c1")) * d(col("n2")) - d(col("c2")) * d(col("n1"))))
          .over(wAll))
      .select(col("o_orderpriority"), col("c1"), col("c2"),
        expr("c1 * 1000000 div n1").as("share1_ppm"),
        expr("c2 * 1000000 div n2").as("share2_ppm"),
        expr("CAST(num * 1000000 div (2 * CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)")
          .as("tvd_ppm"))
      .orderBy(col("o_orderpriority"), col("c1"), col("c2"),
        col("share1_ppm"), col("share2_ppm"), col("tvd_ppm"))
  }

  /** Population Stability Index drift (q179): the third member of the
    * drift family next to KS (q122, continuous rank distance) and TVD
    * (q125, categorical L1) — PSI is the industry-standard monitoring
    * score, per-bin (p_ref − p_cur)·ln(p_ref/p_cur) over a fixed
    * binning. Counts are exact integers with Laplace +1 smoothing (no
    * ln(0) special-casing, deterministic for empty bins); each bin's
    * term is then ONE IEEE sequence (two divisions, one ln, one
    * multiply) written symbol-for-symbol the same in both engines and
    * rounded to 6dp — emitted PER BIN, never summed across bins in
    * float (the round-3 one-IEEE-fold rule; the consumer sums the
    * rounded terms or reads the worst bins directly).
    *
    * Scale shape: one keyed bin aggregate (map-side combined,
    * |bins| rows), a 1-row totals broadcast, per-bin arithmetic. */
  def psiDrift(spark: SparkSession, dir: String,
      binCents: Long = 5000000L): DataFrame = {
    // Cents via the repo's cents() convention (double -> DECIMAL(18,2)
    // -> *100 -> BIGINT): a direct CAST(x * 100 AS BIGINT) truncates
    // in Spark but rounds in DuckDB, which diverges on ~5% of rows for
    // any binCents not aligned to whole-dollar boundaries.
    psiDriftOf(Tables.orders(spark, dir)
      .select(expr(
          s"CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            s" div $binCents").as("bin"),
        (col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
          .as("cur")))
  }

  /** Frame-based core of [[psiDrift]] over pre-binned
    * (bin: long, cur: boolean) observation rows. */
  def psiDriftOf(o: DataFrame): DataFrame = {
    val counts = o.groupBy(col("bin")).agg(
      sum(when(!col("cur"), 1L).otherwise(0L)).as("n_ref"),
      sum(when(col("cur"), 1L).otherwise(0L)).as("n_cur"))
    val tot = counts.agg(sum(col("n_ref")).as("tr"),
      sum(col("n_cur")).as("tc"), count(lit(1)).as("nb"))
    val pr = (col("n_ref") + 1L).cast("double") /
      (col("tr") + col("nb")).cast("double")
    val pc = (col("n_cur") + 1L).cast("double") /
      (col("tc") + col("nb")).cast("double")
    counts.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_ref"), col("n_cur"),
        round((pr - pc) * log(pr / pc), 6).as("psi_term"))
      .orderBy(col("bin"), col("n_ref"), col("n_cur"), col("psi_term"))
  }

  /** DuckDB oracle for [[psiDrift]] — identical smoothing and the
    * same single IEEE sequence per bin. */
  def psiDriftOracleSql(binCents: Long = 5000000L): String =
    s"""WITH o AS (
       |  SELECT ${centsSql("o_totalprice")} // $binCents AS bin,
       |    o_orderdate >= TIMESTAMP '1996-01-01' AS cur
       |  FROM orders),
       |c AS (
       |  SELECT bin,
       |    SUM(CASE WHEN cur THEN 0 ELSE 1 END) AS n_ref,
       |    SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS n_cur
       |  FROM o GROUP BY bin),
       |t AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc,
       |        COUNT(*) AS nb FROM c)
       |SELECT bin, CAST(n_ref AS BIGINT) AS n_ref,
       |  CAST(n_cur AS BIGINT) AS n_cur,
       |  ROUND((CAST(n_ref + 1 AS DOUBLE) / CAST(tr + nb AS DOUBLE)
       |       - CAST(n_cur + 1 AS DOUBLE) / CAST(tc + nb AS DOUBLE))
       |    * LN((CAST(n_ref + 1 AS DOUBLE) / CAST(tr + nb AS DOUBLE))
       |       / (CAST(n_cur + 1 AS DOUBLE) / CAST(tc + nb AS DOUBLE))), 6)
       |    AS psi_term
       |FROM c CROSS JOIN t
       |ORDER BY bin, n_ref, n_cur, psi_term""".stripMargin

  /** Daily windowed PSI drift monitor (q187): for each event day with
    * a full trailing history, the per-bin PSI term of that day's
    * VALUE distribution against the trailing-7-day baseline — q179's
    * snapshot statistic turned into the rolling monitor a production
    * pipeline actually pages on. The (day × bin) grid is DENSE
    * (distinct days × distinct bins, metadata-sized), so a bin that
    * vanishes on one day still contributes its term; Laplace +1
    * smoothing keeps every term finite (the q179 convention), and
    * each term is ONE IEEE sequence rounded to 6dp, emitted per
    * (day, bin) — never float-summed.
    *
    * Scale shape: one map-side-combined (day, bin) count from the
    * corpus; everything after runs on the |days|·|bins| grid — a
    * bin-keyed range window for the trailing sum, two day-keyed
    * totals, per-row arithmetic. */
  def psiDriftDaily(spark: SparkSession, dir: String,
      binCents: Long = 2500L, windowDays: Int = 7): DataFrame =
    psiDriftDailyOf(Tables.events(spark, dir)
      .select(
        expr("unix_micros(date_trunc('day', ts)) div 86400000000")
          .as("day_idx"),
        expr(s"${centsSql("value")} div $binCents").as("bin")),
      windowDays)

  /** Frame-based core of [[psiDriftDaily]] over pre-binned
    * (day_idx: long, bin: long) observation rows. */
  def psiDriftDailyOf(ev: DataFrame, windowDays: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = ev.groupBy(col("day_idx"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    val days = counts.select(col("day_idx")).distinct()
    val binsD = counts.select(col("bin")).distinct()
    val grid = days.crossJoin(binsD)
      .join(counts, Seq("day_idx", "bin"), "left")
      .select(col("day_idx"), col("bin"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val wRef = Window.partitionBy(col("bin")).orderBy(col("day_idx"))
      .rangeBetween(-windowDays, -1)
    val wDay = Window.partitionBy(col("day_idx"))
    val withRef = grid
      .withColumn("ref", coalesce(sum(col("cnt")).over(wRef), lit(0L)))
      .withColumn("tot_cur", sum(col("cnt")).over(wDay))
      .withColumn("tot_ref", sum(col("ref")).over(wDay))
      .withColumn("nb", count(lit(1)).over(wDay))
    val minDay = days.agg(min(col("day_idx")).as("d0"))
    val pr = (col("ref") + 1L).cast("double") /
      (col("tot_ref") + col("nb")).cast("double")
    val pc = (col("cnt") + 1L).cast("double") /
      (col("tot_cur") + col("nb")).cast("double")
    withRef.crossJoin(broadcast(minDay))
      .filter(col("day_idx") >= col("d0") + windowDays)
      .select(col("day_idx"), col("bin"), col("cnt"), col("ref"),
        round((pr - pc) * log(pr / pc), 6).as("psi_term"))
      .orderBy(col("day_idx"), col("bin"), col("cnt"), col("ref"),
        col("psi_term"))
  }

  /** DuckDB oracle for [[psiDriftDaily]] — same dense grid, same
    * range window, same single IEEE sequence. */
  def psiDriftDailyOracleSql(binCents: Long = 2500L,
      windowDays: Int = 7): String =
    s"""WITH ev AS (
       |  SELECT epoch_us(DATE_TRUNC('day', ts)) // 86400000000 AS day_idx,
       |    ${centsSql("value")} // $binCents AS bin
       |  FROM events),
       |c AS (
       |  SELECT day_idx, bin, COUNT(*) AS cnt FROM ev
       |  GROUP BY day_idx, bin),
       |grid AS (
       |  SELECT d.day_idx, b.bin, COALESCE(c.cnt, 0) AS cnt
       |  FROM (SELECT DISTINCT day_idx FROM c) d
       |  CROSS JOIN (SELECT DISTINCT bin FROM c) b
       |  LEFT JOIN c ON c.day_idx = d.day_idx AND c.bin = b.bin),
       |w AS (
       |  SELECT day_idx, bin, cnt,
       |    COALESCE(SUM(cnt) OVER (PARTITION BY bin ORDER BY day_idx
       |      RANGE BETWEEN $windowDays PRECEDING AND 1 PRECEDING), 0)
       |      AS ref
       |  FROM grid),
       |t AS (
       |  SELECT day_idx, bin, cnt, ref,
       |    SUM(cnt) OVER (PARTITION BY day_idx) AS tot_cur,
       |    SUM(ref) OVER (PARTITION BY day_idx) AS tot_ref,
       |    COUNT(*) OVER (PARTITION BY day_idx) AS nb
       |  FROM w)
       |SELECT day_idx, bin, CAST(cnt AS BIGINT) AS cnt,
       |  CAST(ref AS BIGINT) AS ref,
       |  ROUND((CAST(ref + 1 AS DOUBLE) / CAST(tot_ref + nb AS DOUBLE)
       |       - CAST(cnt + 1 AS DOUBLE) / CAST(tot_cur + nb AS DOUBLE))
       |    * LN((CAST(ref + 1 AS DOUBLE) / CAST(tot_ref + nb AS DOUBLE))
       |       / (CAST(cnt + 1 AS DOUBLE) / CAST(tot_cur + nb AS DOUBLE))),
       |    6) AS psi_term
       |FROM t
       |WHERE day_idx >= (SELECT MIN(day_idx) FROM c) + $windowDays
       |ORDER BY day_idx, bin, cnt, ref, psi_term""".stripMargin

  /** Document-length tail profile (q184): per source, the log2-binned
    * length histogram with per-bin DECAY ratios — the scale-free view
    * of the length distribution's tail (a power-law-ish corpus decays
    * at a roughly constant ratio per doubling; a truncated or
    * boilerplate-stuffed source shows a cliff or a spike). Emitting
    * the per-bin ratio (cnt·1e6 div prev_cnt) instead of a fitted
    * exponent keeps the whole operator in exact integers — the fit is
    * the reader's one division away, and the per-bin shape is what
    * actually localizes an anomaly.
    *
    * Scale shape: one map-side-combined (source, bin) count —
    * |sources|·~20 rows; the lag is a window over that tiny frame. */
  def lengthTailProfile(spark: SparkSession, dir: String): DataFrame =
    lengthTailProfileDocs(Tables.documents(spark, dir))

  /** Frame-based core of [[lengthTailProfile]] (needs source, text). */
  def lengthTailProfileDocs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // floor(log2 n) via the BINARY-STRING length — exact integer
    // arithmetic on both engines (a float log2 can land a hair under
    // an integer on one engine and exactly on it on the other,
    // flipping the floor at every power-of-two boundary)
    val bins = docs
      .select(col("source"),
        (length(expr("bin(greatest(CAST(length(text) AS BIGINT), 1L))"))
          - 1).cast("long").as("bin"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("source")).orderBy(col("bin"))
    bins
      .withColumn("prev_cnt", lag(col("cnt"), 1).over(w))
      .select(col("source"), col("bin"), col("cnt"),
        expr("CAST(cnt * 1000000 div prev_cnt AS BIGINT)")
          .as("decay_ppm"))
      .orderBy(col("source"), col("bin"), col("cnt"), col("decay_ppm"))
  }

  /** DuckDB oracle for [[lengthTailProfile]] — the same binary-string
    * floor(log2): LENGTH(BIN(n)) − 1 on both engines, no float log. */
  val lengthTailProfileOracleSql: String =
    """WITH b AS (
      |  SELECT source,
      |    CAST(LENGTH(BIN(GREATEST(LENGTH(text), 1))) - 1 AS BIGINT)
      |      AS bin
      |  FROM documents),
      |c AS (
      |  SELECT source, bin, COUNT(*) AS cnt FROM b GROUP BY source, bin),
      |r AS (
      |  SELECT source, bin, cnt,
      |    LAG(cnt) OVER (PARTITION BY source ORDER BY bin) AS prev_cnt
      |  FROM c)
      |SELECT source, bin, CAST(cnt AS BIGINT) AS cnt,
      |  CAST(cnt * 1000000 // prev_cnt AS BIGINT) AS decay_ppm
      |FROM r
      |ORDER BY source, bin, cnt, decay_ppm""".stripMargin

  /** Spearman rank correlation (q185): per source, the rank
    * correlation between document LENGTH and STOPWORD COUNT — the
    * signal-agreement audit for quality scoring (two signals that
    * rank the corpus the same way are redundant in a filter cascade;
    * anti-correlated ones flag a scoring bug). Ranks are row_number
    * over (value asc, doc_id asc) — the deterministic tie-break
    * convention, documented as part of the contract — which makes
    * both marginals permutations of 1..n, so the classic
    *   ρ = 1 − 6·Σd² / (n·(n²−1))
    * holds EXACTLY and the whole statistic stays in integer ppm:
    * rho_ppm = (n(n²−1) − 6Σd²)·1e6 div (n(n²−1)). No float enters at
    * any step (unlike Pearson's one-IEEE fold, q99 — rank moments are
    * fixed by n).
    *
    * Scale shape: two rank windows PARTITIONED by source + one
    * |sources|-row rollup; the same shape as q172's terciles. */
  def spearman(spark: SparkSession, dir: String): DataFrame =
    spearmanDocs(Tables.documents(spark, dir))

  /** Frame-based core of [[spearman]] (needs doc_id, source, text). */
  def spearmanDocs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stop = TextAnalysis.stopCount(col("text")).cast("long")
    val vals = docs.select(col("doc_id"), col("source"),
      length(col("text")).cast("long").as("x"), stop.as("y"))
    val wx = Window.partitionBy(col("source"))
      .orderBy(col("x").asc, col("doc_id").asc)
    val wy = Window.partitionBy(col("source"))
      .orderBy(col("y").asc, col("doc_id").asc)
    vals
      .withColumn("rx", row_number().over(wx).cast("long"))
      .withColumn("ry", row_number().over(wy).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum((col("rx") - col("ry")) * (col("rx") - col("ry")))
          .as("sum_d2"))
      .select(col("source"), col("n"), col("sum_d2"),
        expr("CAST((n * (n * n - 1) - 6 * sum_d2) * 1000000" +
          " div nullif(n * (n * n - 1), 0L) AS BIGINT)").as("rho_ppm"))
      .orderBy(col("source"), col("n"), col("sum_d2"), col("rho_ppm"))
  }

  /** DuckDB oracle for [[spearman]] — same deterministic tie-break,
    * same all-integer formula. */
  val spearmanOracleSql: String =
    """WITH v AS (
      |  SELECT doc_id, source, LENGTH(text) AS x,
      |    LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
      |      t -> t IN ('the', 'a', 'and', 'of', 'to'))) AS y
      |  FROM documents),
      |r AS (
      |  SELECT source,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY x, doc_id) AS rx,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY y, doc_id) AS ry
      |  FROM v),
      |a AS (
      |  SELECT source, COUNT(*) AS n,
      |    SUM((rx - ry) * (rx - ry)) AS sum_d2
      |  FROM r GROUP BY source)
      |SELECT source, CAST(n AS BIGINT) AS n,
      |  CAST(sum_d2 AS BIGINT) AS sum_d2,
      |  CAST((n * (n * n - 1) - 6 * sum_d2) * 1000000
      |    // NULLIF(n * (n * n - 1), 0) AS BIGINT) AS rho_ppm
      |FROM a
      |ORDER BY source, n, sum_d2, rho_ppm""".stripMargin

  /** Source-concentration HHI (q188): per language, the
    * Herfindahl–Hirschman index of the source mix —
    * Σ_sources share², shares in integer ppm — the one-number
    * composition audit ("is this language's data effectively one
    * source?"). hhi_ppm ranges 1e6/n_sources (uniform) to 1e6
    * (monopoly); a diversity-weighted mix recipe reads it per
    * language before setting q148's temperature. Exact integers:
    * share_ppm = cnt·1e6 div tot (truncating both engines), squared
    * and div 1e6 back to ppm scale.
    *
    * Scale shape: one (lang, source) map-side-combined count, then
    * |langs|-row arithmetic. */
  def sourceHhi(spark: SparkSession, dir: String): DataFrame =
    sourceHhiDocs(Tables.documents(spark, dir))

  /** Frame-based core of [[sourceHhi]] (needs lang, source). */
  def sourceHhiDocs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("tot",
        sum(col("cnt")).over(Window.partitionBy(col("lang"))))
      .select(col("lang"), col("cnt"), col("tot"),
        expr("cnt * 1000000 div tot").as("share_ppm"))
      .groupBy(col("lang"))
      .agg(max(col("tot")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        expr("CAST(sum(share_ppm * share_ppm) div 1000000 AS BIGINT)")
          .as("hhi_ppm"))
      .orderBy(col("lang"), col("n_docs"), col("n_sources"),
        col("hhi_ppm"))
  }

  /** DuckDB oracle for [[sourceHhi]] — same truncating shares. */
  val sourceHhiOracleSql: String =
    """WITH c AS (
      |  SELECT lang, source, COUNT(*) AS cnt
      |  FROM documents GROUP BY lang, source),
      |s AS (
      |  SELECT lang, cnt,
      |    SUM(cnt) OVER (PARTITION BY lang) AS tot
      |  FROM c),
      |p AS (
      |  SELECT lang, cnt, tot,
      |    cnt * 1000000 // tot AS share_ppm
      |  FROM s)
      |SELECT lang, CAST(MAX(tot) AS BIGINT) AS n_docs,
      |  COUNT(*) AS n_sources,
      |  CAST(SUM(share_ppm * share_ppm) // 1000000 AS BIGINT)
      |    AS hhi_ppm
      |FROM p GROUP BY lang
      |ORDER BY lang, n_docs, n_sources, hhi_ppm""".stripMargin

  /** Per-supplier Pareto frontier of (minimize price, maximize
    * quantity) over lineitem under WEAK domination: a row is removed
    * iff some other row of the same supplier has lower-or-equal price
    * AND higher-or-equal quantity with at least one strict — so equal
    * quantity at a strictly cheaper price also removes a row, and
    * exact (price, quantity) duplicates keep a single representative.
    * Computed with one keyed window — sort (price asc, qty desc)
    * within supplier, keep rows whose quantity strictly exceeds the
    * running max over all preceding rows. O(n log n) per group, no
    * self-join; the output set is invariant to tie order, which makes
    * it oracle-safe.
    */
  def paretoFrontier(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), cents(col("l_extendedprice")).as("p_cents"),
        cents(col("l_quantity")).as("q_cents"))
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("p_cents").asc, col("q_cents").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    li.withColumn("mq", max(col("q_cents")).over(w))
      .filter(col("mq").isNull || col("q_cents") > col("mq"))
      .select(col("l_suppkey"), col("p_cents"), col("q_cents"))
      .orderBy(col("l_suppkey"), col("p_cents"), col("q_cents"))
  }

  /** Hash-bucket jackknife (q206): error bars for a corpus statistic
    * computed at scale — the corpus splits into `buckets` disjoint
    * content-hash groups (the q89 FNV+splitmix bucket, so assignment
    * is content-deterministic and uncorrelated with ingest order),
    * and each row reports the LEAVE-ONE-BUCKET-OUT mean of the
    * statistic in integer ppm plus its deviation from the full-corpus
    * mean. The spread of `dev_ppm` IS the jackknife dispersion — the
    * number that says whether "mean doc length = X" would survive
    * resampling, without a second pass or any randomness. All
    * integer: one truncating division per row (DECIMAL(38,0) /
    * HUGEINT products), −1 sentinel for the degenerate
    * single-nonempty-bucket case (lengths are non-negative, so −1 is
    * unambiguous).
    *
    * Scale shape: ONE corpus scan into a `buckets`-row
    * map-side-combined aggregate, register-persisted for its two
    * consumers (the rows + the 1-row totals broadcast); everything
    * after is |buckets|-sized. */
  def jackknifeLength(spark: SparkSession, dir: String,
      buckets: Int = 32): DataFrame = {
    val bucket = pmod(
      splitmix64(rollingHash(col("text")))
        .bitwiseAND(lit(Long.MaxValue)), lit(buckets.toLong))
    jackknifeOf(Tables.documents(spark, dir)
      .select(bucket.as("bucket"), length(col("text")).cast("long").as("x")))
  }

  /** Frame-based core of [[jackknifeLength]] over any (bucket, x). */
  def jackknifeOf(bx: DataFrame): DataFrame = {
    val per = Dedup.register(bx.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("x")).as("sum_x"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val tot = per.agg(sum(col("n_docs")).as("n"), sum(col("sum_x")).as("s"))
    per.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_docs"), col("sum_x"),
        when(col("n") === col("n_docs"), lit(-1L))
          .otherwise(expr(
            """CAST((CAST(s AS DECIMAL(38,0)) - sum_x) * 1000000
              |  DIV (n - n_docs) AS BIGINT)""".stripMargin))
          .as("loo_mean_ppm"),
        col("n"), col("s"))
      .select(col("bucket"), col("n_docs"), col("sum_x"),
        col("loo_mean_ppm"),
        when(col("loo_mean_ppm") === -1L, lit(0L))
          .otherwise(col("loo_mean_ppm") - expr(
            "CAST(CAST(s AS DECIMAL(38,0)) * 1000000 DIV n AS BIGINT)"))
          .as("dev_ppm"))
      .orderBy(col("bucket"), col("n_docs"), col("sum_x"),
        col("loo_mean_ppm"), col("dev_ppm"))
  }

  /** Theil–Sen robust trend (q209): the median of all pairwise
    * monthly-revenue slopes per return flag — the robust sibling of
    * q108's least-squares line (one outlier month can drag the LS
    * slope arbitrarily; the pairwise-slope median has a 29%
    * breakdown point, the standard robust-regression screen for
    * revenue drift). Float discipline: each slope is exact integer
    * cents divided by an exact month gap in ONE IEEE division,
    * rounded to 6 decimals BEFORE ranking (the per-row float rule);
    * the median is the lower nearest-rank VALUE, which is invariant
    * to tie order.
    *
    * Scale shape: the corpus aggregates to (flag, month) rows first —
    * months are calendar-bounded, so the within-flag pair self-join
    * is k² over a tiny frame (84 months → 3.5k pairs), never over
    * rows. The monthly table is register-persisted for its two join
    * sides. */
  def theilSenTrend(spark: SparkSession, dir: String): DataFrame =
    theilSenOf(Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("flag"),
        ((year(col("l_shipdate").cast("date")) - 1970) * 12 +
          month(col("l_shipdate").cast("date")) - 1).cast("long").as("m"),
        cents(col("l_extendedprice")).as("y"))
      .groupBy(col("flag"), col("m"))
      .agg(sum(col("y")).as("rev")))

  /** Frame-based core of [[theilSenTrend]] over (flag, m, rev). */
  def theilSenOf(monthlyIn: DataFrame): DataFrame = {
    val monthly = Dedup.register(monthlyIn
      .persist(StorageLevel.MEMORY_AND_DISK))
    val pairs = monthly.select(col("flag"), col("m").as("ma"),
        col("rev").as("ya"))
      .join(monthly.select(col("flag"), col("m").as("mb"),
        col("rev").as("yb")), Seq("flag"))
      .filter(col("ma") < col("mb"))
      .select(col("flag"), col("ma"), col("mb"),
        round((col("yb") - col("ya")).cast("double") /
          (col("mb") - col("ma")).cast("double"), 6).as("slope"))
    val w = Window.partitionBy(col("flag"))
    val ranked = pairs
      .withColumn("rk", row_number().over(
        w.orderBy(col("slope"), col("ma"), col("mb"))))
      .withColumn("np", count(lit(1)).over(w))
    val nm = monthly.groupBy(col("flag"))
      .agg(count(lit(1)).as("n_months"))
    ranked.filter(col("rk") === expr("(np + 1) div 2"))
      .join(nm, Seq("flag"))
      .select(col("flag"), col("n_months"), col("np").as("n_pairs"),
        col("slope").as("ts_slope_cents_per_month"))
      .orderBy(col("flag"), col("n_months"), col("n_pairs"),
        col("ts_slope_cents_per_month"))
  }

  /** DuckDB oracle for [[theilSenTrend]] — same monthly lattice, same
    * single-division rounded slopes, same nearest-rank median. */
  def theilSenTrendOracleSql: String =
    s"""WITH monthly AS (
       |  SELECT l_returnflag AS flag,
       |    (CAST(YEAR(CAST(l_shipdate AS DATE)) AS BIGINT) - 1970) * 12
       |      + MONTH(CAST(l_shipdate AS DATE)) - 1 AS m,
       |    CAST(SUM(${centsSql("l_extendedprice")}) AS BIGINT) AS rev
       |  FROM lineitem GROUP BY 1, 2),
       |pairs AS (
       |  SELECT a.flag, a.m AS ma, b.m AS mb,
       |    ROUND(CAST(b.rev - a.rev AS DOUBLE)
       |      / CAST(b.m - a.m AS DOUBLE), 6) AS slope
       |  FROM monthly a JOIN monthly b
       |    ON b.flag = a.flag AND a.m < b.m),
       |ranked AS (
       |  SELECT flag, slope,
       |    ROW_NUMBER() OVER (PARTITION BY flag
       |      ORDER BY slope, ma, mb) AS rk,
       |    COUNT(*) OVER (PARTITION BY flag) AS np
       |  FROM pairs),
       |nm AS (SELECT flag, CAST(COUNT(*) AS BIGINT) AS n_months
       |       FROM monthly GROUP BY flag)
       |SELECT r.flag, n.n_months, CAST(r.np AS BIGINT) AS n_pairs,
       |  r.slope AS ts_slope_cents_per_month
       |FROM ranked r JOIN nm n ON n.flag = r.flag
       |WHERE r.rk = (r.np + 1) // 2
       |ORDER BY r.flag, n_months, n_pairs, ts_slope_cents_per_month""".stripMargin

  /** DuckDB oracle for [[jackknifeLength]] — the q89 content-bucket
    * CTEs re-modded to the jackknife bucket count, then the same
    * integer leave-one-out arithmetic. */
  def jackknifeLengthOracleSql(buckets: Int = 32): String =
    s"""WITH ${HashSql.groupSplitCtes},
       |jkb AS (SELECT doc_id, CAST(h % $buckets AS BIGINT) AS bucket
       |        FROM f5),
       |x AS (
       |  SELECT b.bucket, CAST(LENGTH(d.text) AS BIGINT) AS x
       |  FROM documents d JOIN jkb b USING (doc_id)),
       |per AS (
       |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(x) AS BIGINT) AS sum_x
       |  FROM x GROUP BY bucket),
       |tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
       |               CAST(SUM(sum_x) AS BIGINT) AS s FROM per),
       |loo AS (
       |  SELECT bucket, n_docs, sum_x,
       |    CASE WHEN t.n = p.n_docs THEN -1
       |      ELSE CAST((CAST(t.s AS HUGEINT) - p.sum_x) * 1000000
       |        // (t.n - p.n_docs) AS BIGINT) END AS loo_mean_ppm,
       |    CAST(CAST(t.s AS HUGEINT) * 1000000 // t.n AS BIGINT)
       |      AS full_ppm
       |  FROM per p CROSS JOIN tot t)
       |SELECT bucket, n_docs, sum_x, loo_mean_ppm,
       |  CASE WHEN loo_mean_ppm = -1 THEN 0
       |    ELSE loo_mean_ppm - full_ppm END AS dev_ppm
       |FROM loo
       |ORDER BY bucket, n_docs, sum_x, loo_mean_ppm, dev_ppm""".stripMargin
}
