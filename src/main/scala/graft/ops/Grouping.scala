package graft.ops

import graft.Tables
import graft.functions.GraftFunctions.{rollingHash, splitmix64}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional aggregation surface: ROLLUP / CUBE / GROUPING SETS,
  * COUNT(DISTINCT), and the theta (non-equi) join. Absent in the
  * reference; engine extension surface.
  *
  * Scale: rollup/cube expand each input row into its grouping
  * combinations BEFORE the partial aggregate, so the shuffle still
  * carries only (group, partial-agg) pairs — safe at any input size.
  * COUNT(DISTINCT x, y) triggers Catalyst's expand+two-phase plan;
  * approx_count_distinct (HLL) is the scale path when exactness isn't
  * required and is covered in tests (no exact oracle by construction).
  */
object Grouping {
  import Det._

  /** ROLLUP (returnflag, linestatus) with grouping flags. */
  def rollupPricing(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(exactSum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"),
        grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"))
      .orderBy(col("g_rf"), col("g_ls"), col("l_returnflag"),
        col("l_linestatus"))

  /** CUBE (returnflag, linestatus): all 4 grouping combinations. */
  def cubePricing(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(exactSum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n"),
        grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"))
      .orderBy(col("g_rf"), col("g_ls"), col("l_returnflag"),
        col("l_linestatus"))

  /** Explicit GROUPING SETS: ((rf, ls), (rf), ()). */
  def groupingSetsPricing(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"))
      .orderBy(col("g_rf"), col("g_ls"), col("l_returnflag"),
        col("l_linestatus"))

  /** Exact COUNT(DISTINCT) per group — parts and suppliers per flag. */
  def countDistinctPerFlag(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** Re-aggregatable HLL sketches (Apache DataSketches builtins): build
    * one sketch per (day, type) partition, then MERGE sketches to
    * coarser granularities without touching raw data — the only
    * distinct-counting pattern that works at 100 TB (precompute daily,
    * roll up monthly/yearly by unioning kilobyte sketches).
    * Hash-based → oracle-exempt; accuracy vs exact is asserted in
    * OpsSpec. */
  /** Re-aggregatable distinct-count sketch with a FULL oracle — the
    * deterministic sibling of [[hllSketchRollup]] (whose HLL binary
    * state DuckDB cannot replay). A k-mins sketch: k=16 seeded FNV
    * hashes per user, per-(type, day) state is the k minima (bounded,
    * distributive), the rollup merges by element-wise MIN — exactly
    * HLL's build→merge topology — and the estimator k/Σ(m_j/2^63) - 1
    * is a fixed-order fold of 16 doubles, bit-identical across
    * engines. The exact distinct rides along so the oracle also pins
    * the sketch's accuracy, not just its arithmetic. */
  /** The ONE k for the k-mins sketch — shared with the oracle builder
    * (HashSql.kmvSketchOracle) so the two sides cannot drift. */
  val KmvK = 16

  def kmvSketchRollup(spark: SparkSession, dir: String,
      k: Int = KmvK): DataFrame = {
    // splitmix64 finalizer for uniformity (raw FNV of short strings
    // clusters in the high bits and biases order statistics); sign bit
    // dropped so MIN agrees with the oracle's unsigned order
    def h(j: Int): Column =
      splitmix64(rollingHash(
        concat(col("user_id").cast("string"), lit(s"#$j"))))
        .bitwiseAND(lit(Long.MaxValue))
    val ev = Tables.events(spark, dir)
    val dailyAggs = (1 to k).map(j => min(h(j)).as(s"m$j"))
    val daily = ev.groupBy(
        date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(dailyAggs.head, dailyAggs.tail: _*)
    val mergeAggs = (1 to k).map(j => min(col(s"m$j")).as(s"m$j"))
    val mergedAll = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), mergeAggs: _*)
    // Σm_j computed EXACTLY in decimal (order-independent), then one
    // correctly-rounded double division: est = k·2^63 / Σm - 1.
    // k·2^63 = 2^67 is an exact double
    val totalM = (1 to k).map(j => col(s"m$j").cast("decimal(38,0)"))
      .reduce(_ + _)
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    mergedAll
      .withColumn("kmv_est",
        round(lit(k * 9223372036854775808.0) /
          totalM.cast("double") - 1.0, 4))
      .join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("kmv_est"),
        col("exact_distinct"))
      .orderBy(col("event_type"), col("n_days"), col("kmv_est"),
        col("exact_distinct"))
  }

  /** HLL sketch rollup with an oracle-checkable face (q46/q42-style):
    * the NATIVE Datasketches HLL build→merge→estimate stays the query
    * path — what DuckDB cannot replay is the estimate VALUE (binary
    * sketch state), so the face exposes its ACCURACY CONTRACT
    * instead: the exact distinct count (BIGINT, replayable) plus the
    * integer predicate |est − exact|·20 ≤ exact (est within 5%;
    * default lgK=12 has ~1.6% RSE, and HLL is deterministic per
    * dataset, so the boolean is stable). A sketch regression — wrong
    * merge, lossy union, estimator drift — flips the boolean and
    * fails the hash compare at both scales, which upgrades q57 from
    * rows-only exemption to a hash-checked row WITHOUT dropping the
    * native sketch from the measured path. */
  def hllSketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val daily = ev.groupBy(
        date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sketch"))
    // roll the per-day sketches up to per-type totals: a merge of
    // sketches, NOT a rescan of events
    val merged = daily.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est"),
        count(lit(1)).as("n_days"))
    // the exact side is ONLY the accuracy yardstick: at 100 TB the
    // sketch rollup is the product (mergeable, bounded state) and the
    // exact count_distinct would be the thing you deleted — a
    // deployment wanting the contract check runs it on a sample/SF
    val exact = ev.groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("exact_distinct"))
    merged.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("exact_distinct"),
        (abs(col("est") - col("exact_distinct")) * lit(20L) <=
          col("exact_distinct")).as("est_within_5pct"))
      .orderBy(col("event_type"), col("n_days"), col("exact_distinct"),
        col("est_within_5pct"))
  }

  /** Approximate-quantile accuracy contract (q176): the q57 pattern
    * applied to percentile_approx — the NATIVE KLL-style sketch stays
    * in-path (the 100 TB product: bounded state, mergeable; the exact
    * sort is what you deleted), and the oracle checks the CONTRACT:
    * the sketch's median must land between the exact order statistics
    * at ranks mid ± (n div accuracy + 1), the rank-error guarantee
    * percentile_approx publishes. The exact bounds are integer rank
    * selections (value ties irrelevant — any tie order yields the
    * same value at a rank), so DuckDB replays bounds + n exactly and
    * `TRUE` stands for the within flag (a sketch violation flips the
    * engine's boolean and fails the hash at both scales).
    *
    * Scale shape: one grouped sketch aggregate (map-side combined)
    * plus the audit-grade exact rank pass per group partition —
    * the yardstick a deployment runs on a sample, as q57. Above
    * `binWalkMinRows` (estimated from plan statistics, zero action)
    * the exact-bounds side swaps to the q100 two-phase histogram
    * bin-walk: a coarse per-(group, v>>16) bin count locates the TWO
    * boundary bins holding the lo/hi ranks, and only those bins' rows
    * get an exact in-bin rank — no task ever sorts a whole group
    * partition. Rank selection is algorithm-independent, so both
    * branches produce IDENTICAL bounds (Round9OpsSpec forces the
    * cutoff and asserts equality; the oracle keeps the one-phase
    * SQL — the q100/q170 swap convention). */
  def quantileContract(spark: SparkSession, dir: String,
      accuracy: Int = 1000,
      binWalkMinRows: Long = 100000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = (col("o_totalprice").cast("decimal(12,2)") * 100)
      .cast("long")
    val base = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("grp"), v.as("v"))
    val bounds =
      if (PlanStats.estRows(base) < binWalkMinRows) {
        val w = Window.partitionBy(col("grp"))
        val ranked = base
          .withColumn("rn",
            row_number().over(w.orderBy(col("v"))).cast("long"))
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("mid", expr("(n + 1) div 2"))
          .withColumn("tol", expr(s"n div $accuracy + 1"))
        ranked
          .groupBy(col("grp"))
          .agg(max(col("n")).as("n"),
            min(when(col("rn") === greatest(lit(1L), col("mid") - col("tol")),
              col("v"))).as("lo_cents"),
            min(when(col("rn") === least(col("n"), col("mid") + col("tol")),
              col("v"))).as("hi_cents"))
      } else {
        // two-phase: bin = v >> 16 (arithmetic shift = floor-by-2^16,
        // exact for negatives); the bin table is |grps| x |bins| tiny
        // rows, broadcast back; only boundary-bin rows pay a window
        val binned = base.withColumn("bin", shiftright(col("v"), 16))
        val wCum = Window.partitionBy(col("grp")).orderBy(col("bin"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val meta = binned.groupBy(col("grp"), col("bin"))
          .agg(count(lit(1)).as("bn"))
          .withColumn("cum_before",
            coalesce(sum(col("bn")).over(wCum), lit(0L)))
          .withColumn("n",
            sum(col("bn")).over(Window.partitionBy(col("grp"))))
          .withColumn("mid", expr("(n + 1) div 2"))
          .withColumn("tol", expr(s"n div $accuracy + 1"))
          .withColumn("lo_rank", greatest(lit(1L), col("mid") - col("tol")))
          .withColumn("hi_rank", least(col("n"), col("mid") + col("tol")))
        val tgt = meta.filter(
          (col("cum_before") < col("lo_rank") &&
            col("cum_before") + col("bn") >= col("lo_rank")) ||
          (col("cum_before") < col("hi_rank") &&
            col("cum_before") + col("bn") >= col("hi_rank")))
          .select(col("grp"), col("bin"), col("cum_before"), col("n"),
            col("lo_rank"), col("hi_rank"))
        val wB = Window.partitionBy(col("grp"), col("bin"))
          .orderBy(col("v"))
        binned.join(broadcast(tgt), Seq("grp", "bin"))
          .withColumn("rk",
            col("cum_before") + row_number().over(wB).cast("long"))
          .groupBy(col("grp"))
          .agg(max(col("n")).as("n"),
            min(when(col("rk") === col("lo_rank"), col("v"))).as("lo_cents"),
            min(when(col("rk") === col("hi_rank"), col("v"))).as("hi_cents"))
      }
    val approx = base.groupBy(col("grp"))
      .agg(percentile_approx(col("v"), lit(0.5), lit(accuracy))
        .as("approx_med"))
    bounds.join(approx, Seq("grp"))
      .select(col("grp"), col("n"), col("lo_cents"), col("hi_cents"),
        (col("approx_med") >= col("lo_cents") &&
          col("approx_med") <= col("hi_cents")).as("within_bounds"))
      .orderBy(col("grp"), col("n"), col("lo_cents"), col("hi_cents"),
        col("within_bounds"))
  }

  /** DuckDB oracle for [[quantileContract]] — exact rank bounds, TRUE
    * for the contract flag (the q57 convention). */
  def quantileContractOracleSql(accuracy: Int = 1000): String =
    s"""WITH v AS (
       |  SELECT o_orderpriority AS grp,
       |    CAST(o_totalprice * 100 AS BIGINT) AS v
       |  FROM orders),
       |r AS (
       |  SELECT grp, v,
       |    ROW_NUMBER() OVER (PARTITION BY grp ORDER BY v) AS rn,
       |    COUNT(*) OVER (PARTITION BY grp) AS n
       |  FROM v),
       |b AS (
       |  SELECT grp, n, (n + 1) // 2 AS mid, n // $accuracy + 1 AS tol
       |  FROM r GROUP BY grp, n)
       |SELECT r.grp, CAST(b.n AS BIGINT) AS n,
       |  CAST(MIN(CASE WHEN rn = GREATEST(1, mid - tol) THEN v END)
       |    AS BIGINT) AS lo_cents,
       |  CAST(MIN(CASE WHEN rn = LEAST(b.n, mid + tol) THEN v END)
       |    AS BIGINT) AS hi_cents,
       |  TRUE AS within_bounds
       |FROM r JOIN b ON r.grp = b.grp
       |GROUP BY r.grp, b.n
       |ORDER BY r.grp, n, lo_cents, hi_cents, within_bounds""".stripMargin

  /** Exact interpolated percentiles per group — both engines use the
    * same linear interpolation (Spark percentile / DuckDB
    * quantile_cont); quantities are integral doubles so the single
    * interpolation division is IEEE-exact in both. The exact
    * percentile buffer is bounded by DISTINCT values, not rows, so it
    * survives scale-up on discrete domains like quantity; for
    * unbounded continuous columns at 100 TB the mergeable fixed-bin
    * histogram (q109, [[histogramQuantileRollup]]) is the scale
    * path — this exact family is for audit-grade checks. */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        expr("percentile(l_quantity, array(0.25, 0.75))[0]").as("p25_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** Pivot: quantity totals per order-year, one column per return
    * flag. Spark plans pivot as a single two-phase aggregate; the
    * oracle states it as CASE-WHEN conditional aggregation. */
  def pivotFlags(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(exactSum(col("l_quantity")))
      .orderBy(col("ship_year"))

  /** Theta join (equi on nation + non-equi residual on balance):
    * supplier/customer pairs in the same nation where the supplier's
    * balance exceeds the customer's. Planned as a hash/SMJ on the equi
    * key with the range as a residual filter — NOT a nested loop. */
  def joinTheta(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    s.join(c, s("s_nationkey") === c("c_nationkey") &&
        s("s_acctbal") > c("c_acctbal"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("s_acctbal").cast("decimal(18,2)") -
          col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_gap"))
      .orderBy(col("n_name"))
  }

  /** Re-aggregatable quantiles via fixed-bin histograms — the
    * deterministic answer to "daily p50/p95 rolled up to weeks"
    * (the same build→merge topology as the HLL/k-mins sketches q57/
    * q84, for quantiles): daily bin-count vectors ADD, so the weekly
    * quantile comes from summed counts + one integer cumulative walk,
    * never a re-sort of raw data. Resolution is the bin width (4096
    * bins here); everything is BIGINT, rank = ceil(total·p) by
    * integer arithmetic, and the reported quantile is the lower bound
    * of the first bin whose cumulative count reaches the rank.
    *
    * Scale shape: the daily build partial-aggregates to ≤4096 rows
    * per day; merges move only bin-count rows. This is how a
    * warehouse serves percentile dashboards without scanning facts
    * twice. */
  def histogramQuantileRollup(spark: SparkSession, dir: String): DataFrame = {
    val nBins = 4096L        // 4096 × 16384-cent bins cover $0..$671k
    val width = 16384L
    val daily = Tables.orders(spark, dir)
      .select(date_trunc("week", col("o_orderdate")).as("week"),
        date_trunc("day", col("o_orderdate")).as("day"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("c"))
      .select(col("week"), col("day"),
        least(expr(s"c div $width"), lit(nBins - 1)).as("bin"))
      .groupBy(col("week"), col("day"), col("bin"))
      .agg(count(lit(1)).as("n"))
    // merge step: weekly bin counts are the SUM of daily bin counts
    val weekly = daily.groupBy(col("week"), col("bin"))
      .agg(sum(col("n")).as("n"))
    val cum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("week")).orderBy(col("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val tot = org.apache.spark.sql.expressions.Window.partitionBy(col("week"))
    weekly
      .withColumn("cum", sum(col("n")).over(cum))
      .withColumn("total", sum(col("n")).over(tot))
      .groupBy(col("week"), col("total"))
      .agg(
        min(when(col("cum") * 2 >= col("total"),
          col("bin") * width)).as("p50_lo_cents"),
        min(when(col("cum") * 20 >= col("total") * 19,
          col("bin") * width)).as("p95_lo_cents"))
      .orderBy(col("week"), col("total"), col("p50_lo_cents"),
        col("p95_lo_cents"))
  }

  /** Incremental aggregate maintenance: per-group moment state
    * (n, Σx, Σx²) built from an existing corpus partition and a new
    * ingest partition INDEPENDENTLY, then merged by elementwise sum —
    * the daily-stats-refresh pattern where only the increment is
    * scanned and yesterday's state table is carried forward. The
    * DuckDB oracle computes the same outputs in ONE pass over the full
    * table, so the hash compare proves merge == recompute (the
    * re-aggregatability the q84/q109 sketch family relies on, extended
    * to variance-grade moments). Moments are exact DECIMAL(38,0);
    * variance is the single IEEE fold (n·Σx² − (Σx)²)/(n·(n−1)),
    * written symbol-identically in both engines.
    *
    * Scale shape: at 100 TB the corpus partial is a saved state table
    * (group-count rows, not data rows); only the increment pays a
    * scan. Here both sides are computed to exercise the merge. */
  def incrementalStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_returnflag"),
      col("l_orderkey"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
        .as("c"))
    def d(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"),
        sum(d(col("c"))).as("s"), sum(d(col("c")) * d(col("c"))).as("ss"))
    val corpus = partial(li.filter(pmod(col("l_orderkey"), lit(10)) < 8))
    val ingest = partial(li.filter(pmod(col("l_orderkey"), lit(10)) >= 8))
    corpus.unionByName(ingest)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"),
        sum(col("ss")).as("ss"))
      .select(col("l_returnflag"), col("n"),
        col("s").cast("long").as("sum_cents"),
        expr("CAST((s * 1000) div n AS BIGINT)").as("mean_centimils"),
        round((col("n") * col("ss") - col("s") * col("s")).cast("double") /
          (col("n") * (col("n") - 1)).cast("double"), 6).as("var_cents2"))
      .orderBy(col("l_returnflag"), col("n"), col("sum_cents"),
        col("mean_centimils"), col("var_cents2"))
  }

  /** Hierarchical share-of-parent rollup (q224): revenue by region →
    * supplier nation with every row carrying its share OF ITS PARENT
    * in exact integer ppm — nations within their region, regions
    * within the grand total, the total at 1e6. The drill-down tree
    * every OLAP frontend renders; q16's rollup gives the levels,
    * this wires the parent edges. Revenue stays DECIMAL-exact and
    * the share divides scale-4 integer images (the q218 rule).
    *
    * Scale shape: one broadcast-dim star join + ONE rollup aggregate
    * (grouping sets share the scan), persisted at ≤ |nations| +
    * |regions| + 1 rows for its three level extracts; the parent
    * joins run over that tiny frame. */
  def rollupShares(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    val rev = revenueTerm(col("l_extendedprice"), col("l_discount"))
    // r15 optimization: one FINE-GRAINED (r_name, n_name) aggregate;
    // the region and grand-total levels re-aggregate its ~25-row
    // persisted output — DECIMAL sums are exact and associative, so
    // all three levels are value-identical to the former
    // rollup(r_name, n_name)'s grouping sets. The rollup's Expand
    // tripled every scan row into the partial aggregate, and only the
    // FIRST of the five downstream references to the persisted rollup
    // was cache-substituted (measured plan: 5 Expand nodes, 40
    // parquet scans — the scan+joins+rollup executed five times).
    // Deriving the coarser levels from the tiny frame removes both
    // the Expand and the re-execution sensitivity.
    val fine = graft.ops.Dedup.register(li
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(rev).as("rev"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    def share = "CAST((CAST(rev * 10000 AS DECIMAL(38,0)) * 1000000)" +
      " div CAST(prev * 10000 AS DECIMAL(38,0)) AS BIGINT)"
    val regionAgg = fine.groupBy(col("r_name"))
      .agg(sum(col("rev")).as("rev"))
    val nations = fine
      .join(broadcast(regionAgg
        .select(col("r_name").as("pr"), col("rev").as("prev"))),
        col("r_name") === col("pr"))
      .select(col("r_name"), col("n_name"), lit("nation").as("level"),
        col("rev").cast("double").as("revenue"),
        expr(share).as("parent_share_ppm"))
    val total = regionAgg.agg(sum(col("rev")).as("prev"))
    val regions = regionAgg
      .crossJoin(broadcast(total))
      .select(col("r_name"), lit("ALL").as("n_name"),
        lit("region").as("level"),
        col("rev").cast("double").as("revenue"),
        expr(share).as("parent_share_ppm"))
    val grand = total.select(lit("ALL").as("r_name"),
      lit("ALL").as("n_name"), lit("total").as("level"),
      col("prev").cast("double").as("revenue"),
      lit(1000000L).as("parent_share_ppm"))
    nations.union(regions).union(grand)
      .orderBy(col("r_name"), col("n_name"), col("level"),
        col("revenue"), col("parent_share_ppm"))
  }

  /** DuckDB oracle for [[rollupShares]] — the three levels as
    * explicit aggregates (rollup semantics spelled out), same
    * scale-4 ppm. */
  def rollupSharesOracleSql: String = {
    val rev = Det.Sql.revenueTerm("l_extendedprice", "l_discount")
    s"""WITH j AS (
       |  SELECT r_name, n_name, $rev AS rv
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey),
       |ln AS (SELECT r_name, n_name, SUM(rv) AS rev FROM j GROUP BY 1, 2),
       |lr AS (SELECT r_name, SUM(rv) AS rev FROM j GROUP BY 1),
       |lt AS (SELECT SUM(rv) AS rev FROM j)
       |SELECT * FROM (
       |  SELECT ln.r_name, ln.n_name, 'nation' AS level,
       |    CAST(ln.rev AS DOUBLE) AS revenue,
       |    CAST(CAST(ln.rev * 10000 AS HUGEINT) * 1000000
       |      // CAST(lr.rev * 10000 AS HUGEINT) AS BIGINT)
       |      AS parent_share_ppm
       |  FROM ln JOIN lr ON lr.r_name = ln.r_name
       |  UNION ALL
       |  SELECT lr.r_name, 'ALL', 'region', CAST(lr.rev AS DOUBLE),
       |    CAST(CAST(lr.rev * 10000 AS HUGEINT) * 1000000
       |      // CAST(lt.rev * 10000 AS HUGEINT) AS BIGINT)
       |  FROM lr CROSS JOIN lt
       |  UNION ALL
       |  SELECT 'ALL', 'ALL', 'total', CAST(rev AS DOUBLE),
       |    CAST(1000000 AS BIGINT)
       |  FROM lt)
       |ORDER BY r_name, n_name, level, revenue,
       |  parent_share_ppm""".stripMargin
  }
}
