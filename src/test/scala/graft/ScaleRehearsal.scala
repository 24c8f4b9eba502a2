package graft

import graft.ops.{Dedup, Similarity}
import graft.functions.GraftFunctions.{rollingHash, splitmix64}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 1x-vs-10x scale rehearsal for the dedup/similarity family — turns
  * SCALE.md's design arguments into measured points (round-4 verdict
  * item 6): synthesize a deterministic 10x corpus, run the candidate-
  * generation-bound operators at both sizes, and report wall times +
  * candidate counts so the near-linear-growth claim (PPJoin/LSH) is an
  * observation, not an assertion. Results land in BASELINE.md.
  *
  * The 10x corpora are 10 SHARDS, each an exact structural isomorph of
  * the sf0.1 original, so per-shard workload statistics are identical
  * by construction and only the cross-shard interaction is new:
  *  - documents: shard s applies a seeded letter permutation to [a-z]
  *    via `translate` (shard 0 = identity). Injective char maps make
  *    each shard's shingle sets isomorphic to the original (same
  *    within-shard Jaccards, same frequency SHAPE), while rare content
  *    grams are disjoint across shards and only space/stopword-heavy
  *    grams stay shared — the realistic growth profile (new content
  *    grows, function-word mass stays) and exactly the case the
  *    frequency-ascending prefix order must keep pruning.
  *  - embeddings: shard s applies a seeded signed permutation of the
  *    64 dimensions (an orthogonal transformation: within-shard
  *    geometry — norms, dots, cosines — is EXACTLY preserved; cross-
  *    shard cosines concentrate near 0 even if the vectors share a
  *    mean component, because the sign mask decorrelates them).
  *
  * Run: `sbt "Test/runMain graft.ScaleRehearsal <sf0.1 data dir>"`
  * (writes each Nx corpus under java.io.tmpdir/graft_scaleN, prints
  * one JSON line per measurement). SPARK_GRAFT_REHEARSAL_SCALES=
  * "1x,10x,30x" adds scale points — the 30x point pins the scaling
  * EXPONENT for the superlinear suspects (two decades of growth
  * instead of one ratio).
  */
object ScaleRehearsal {

  private def perm[T](xs: Seq[T], seed: Long): Seq[T] = {
    val r = new scala.util.Random(seed)
    r.shuffle(xs)
  }

  /** N letter-permuted document shards; doc_id offset 1e6 per shard.
    * `source` and `lang` pass through unchanged — every shard's
    * source/lang distribution equals the original's exactly (the
    * isomorph property), which the source-keyed ops (DSIR target
    * split, temperature mixing) and the corpus card need. Seeds are
    * per-shard, so any N up to the id-offset bound (1000) keeps the
    * construction: N = 30 is the round-11 superlinear-suspect point
    * (VERDICT r10 #4). */
  def docsNx(spark: SparkSession, dir: String, n: Int): DataFrame = {
    val base = Tables.documents(spark, dir)
    val lower = "abcdefghijklmnopqrstuvwxyz"
    (0 until n).map { s =>
      val mapped =
        if (s == 0)
          base.select(col("doc_id"), col("source"), col("lang"), col("text"))
        else base.select(col("doc_id"), col("source"), col("lang"),
          translate(col("text"), lower,
            perm(lower.toSeq, 1000L + s).mkString).as("text"))
      mapped.select((col("doc_id") + lit(s * 1000000L)).as("doc_id"),
        col("source"), col("lang"), col("text"))
    }.reduce(_ unionAll _)
  }

  /** The 10x documents corpus (the standard rehearsal point). */
  def docs10x(spark: SparkSession, dir: String): DataFrame =
    docsNx(spark, dir, 10)

  /** N signed-dimension-permuted embedding shards; vec_id offset 1e6
    * per shard. */
  def embeddingsNx(spark: SparkSession, dir: String, n: Int): DataFrame = {
    val base = Tables.embeddings(spark, dir)
    (0 until n).map { s =>
      val e =
        if (s == 0) base.select(col("vec_id"), col("embedding"))
        else {
          val p = perm(0 until 64, 2000L + s)
          val r = new scala.util.Random(3000L + s)
          val signs = Array.fill(64)(if (r.nextBoolean()) 1.0f else -1.0f)
          base.select(col("vec_id"), array(p.zipWithIndex.map {
            case (src, i) =>
              (element_at(col("embedding"), src + 1) * lit(signs(i)))
                .cast("float")
          }: _*).as("embedding"))
        }
      e.select((col("vec_id") + lit(s * 1000000L)).as("vec_id"),
        col("embedding"))
    }.reduce(_ unionAll _)
  }

  /** The 10x embeddings corpus (the standard rehearsal point). */
  def embeddings10x(spark: SparkSession, dir: String): DataFrame =
    embeddingsNx(spark, dir, 10)

  /** 10 user-offset event shards sharing the SAME calendar days —
    * per-user structure identical, but every shared-day aggregate
    * (concurrency sweeps, day-keyed overlap joins) sees 10x load.
    * Carries event_id (shard-offset, stays unique), event_type and
    * value so the event-time wave (q177 attribution, q178 interval
    * union, q180 interpolation) runs on the same corpus. */
  def events10x(spark: SparkSession, dir: String): DataFrame =
    eventsNx(spark, dir, 10)

  /** N user-offset event shards (see [[events10x]]). */
  def eventsNx(spark: SparkSession, dir: String, n: Int): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
    (0 until n).map { sh =>
      base.select(
        (col("event_id") + lit(sh * 100000000L)).as("event_id"),
        (col("user_id") + lit(sh * 10000000L)).as("user_id"),
        col("event_type"), col("ts"), col("value"))
    }.reduce(_ unionAll _)
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Full materialization through the noop sink, returning the row
    * count from an observe() metric — for PROJECTION-shaped ops,
    * where `count()` lets Catalyst prune unreferenced window/compute
    * columns and under-measures (the q180 lesson: its O(n²) window
    * read 0.88 s under count() and 32.7 s under the bench's noop).
    * Aggregate-shaped ops keep count() — their compute is not
    * prunable. */
  private def matCount(df: org.apache.spark.sql.DataFrame): Long = {
    val obs = new org.apache.spark.sql.Observation()
    df.observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** Total shuffle WRITE bytes across all tasks while `body` runs —
    * the measured side of a forecast÷actual exchange calibration
    * (VERDICT r14 #1). Listener events arrive asynchronously after
    * the action returns, so the read polls until the counter is
    * stable (two consecutive unchanged reads 200 ms apart, 10 s cap).
    * The sum covers EVERY shuffle the body runs (candidate
    * generation, dictionary ranks, the verify exchange), so it is an
    * upper bound on any single exchange — at the scales where the
    * calibration matters the candidate×payload verify exchange
    * dominates the rest by two orders of magnitude. */
  private def shuffleBytesDuring[A](
      spark: org.apache.spark.sql.SparkSession)(body: => A): (A, Long) = {
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null)
          acc.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      var prev = -1L
      var waited = 0
      while (acc.get() != prev && waited < 50) {
        prev = acc.get(); Thread.sleep(200); waited += 1
      }
      (r, acc.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .appName("graft-scale-rehearsal")
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is TIMESTAMP(NANOS); Tables.events does the µs
      // conversion under this flag (see Tables.events' scaladoc)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // dev knobs: SPARK_GRAFT_REHEARSAL_ONLY=q126 restricts the ops,
    // SPARK_GRAFT_SETSIM_BCAST overrides the verify broadcast
    // threshold (e.g. to quantify the broadcast-vs-SMJ switch cost)
    sys.env.get("SPARK_GRAFT_SETSIM_BCAST")
      .foreach(v => spark.conf.set("graft.setsim.broadcastBytes", v))
    val onlyOps = sys.env.get("SPARK_GRAFT_REHEARSAL_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(name: String): Boolean =
      onlyOps.forall(_.exists(name.startsWith))
    // Scale points: default 1x + 10x; SPARK_GRAFT_REHEARSAL_SCALES=
    // "1x,10x,30x" adds the superlinear-suspect point (VERDICT r10 #4
    // — a second doubling-decade pins the exponent a single 10x ratio
    // can't). Any "Nx" materializes an N-shard isomorph corpus.
    val scales = sys.env.get("SPARK_GRAFT_REHEARSAL_SCALES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("1x", "10x"))
    def shardsOf(scale: String): Int = scale.stripSuffix("x").toInt
    def outFor(scale: String): String =
      sys.props("java.io.tmpdir") + s"/graft_scale${shardsOf(scale)}"
    // materialize each scaled corpus ONCE as parquet so generation
    // cost never pollutes the operator timings (a real Nx corpus is
    // read, not synthesized); the source fingerprint marker
    // invalidates the cache when the testdata is regenerated in place
    // (same guard as Tables.bucketedPair — a stale corpus would
    // silently measure last round's data). "v4|" = corpus schema
    // version (round 7 added source, round 8 lang, round 9
    // event_id/event_type/value); "nN|" pins the shard count.
    def ensureCorpus(sc: String): Unit = if (sc != "1x") {
      val n = shardsOf(sc)
      val o = outFor(sc)
      val fpFile = java.nio.file.Paths.get(s"$o/.source_fingerprint")
      val fp = s"v4|n$n|" + Tables.sourceFingerprint(dir,
        Seq("documents", "embeddings", "events"))
      val fresh = java.nio.file.Files.exists(fpFile) &&
        java.nio.file.Files.readString(fpFile) == fp
      if (!fresh) {
        docsNx(spark, dir, n).write.mode("overwrite")
          .parquet(s"$o/documents.parquet")
        embeddingsNx(spark, dir, n).write.mode("overwrite")
          .parquet(s"$o/embeddings.parquet")
        eventsNx(spark, dir, n).write.mode("overwrite")
          .parquet(s"$o/events.parquet")
        java.nio.file.Files.createDirectories(fpFile.getParent)
        java.nio.file.Files.writeString(fpFile, fp)
      }
    }
    scales.distinct.foreach(ensureCorpus)

    def docsAt(scale: String): DataFrame =
      if (scale == "1x") Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
      else spark.read.parquet(s"${outFor(scale)}/documents.parquet")
    def embAt(scale: String): DataFrame =
      if (scale == "1x") Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      else spark.read.parquet(s"${outFor(scale)}/embeddings.parquet")
    def evAt(scale: String): DataFrame =
      if (scale == "1x") Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"), col("value"))
      else spark.read.parquet(s"${outFor(scale)}/events.parquet")

    // an unreported 1x warmup pass first: JIT/codegen warmup otherwise
    // lands entirely on the 1x numbers and flatters every 10x ratio
    for ((scale, emit) <- ("1x", false) +: scales.map(s => (s, true))) {
      def report(name: String, seconds: Double, rows: Long): Unit =
        if (emit)
          println(s"""{"op":"$name","scale":"$scale",""" +
            s""""sec":${f"$seconds%.2f"},"rows":$rows}""")
      val d = docsAt(scale)
      // q41 shape: MinHash LSH band candidates, then the full
      // LSH -> estimate -> verify pipeline
      if (wanted("q41")) {
        val (nCand, tCand) = timed(
          Dedup.lshCandidatePairs(
            Dedup.signatureTable(d, "doc_id"), "doc_id").count())
        Dedup.unpersistCaches()
        report("q41_lsh_candidates", tCand, nCand)
        val (nPairs, tPairs) = timed(
          Dedup.nearDupPairs(d, "doc_id", 0.8).count())
        Dedup.unpersistCaches()
        report("q41_minhash_pipeline", tPairs, nPairs)
      }
      // curate: one observed curation pass written to the noop sink,
      // with the shuffle bytes it wrote; rows = documents kept
      if (wanted("curate")) {
        val ((nKept, tCur), bytes) = shuffleBytesDuring(spark)(timed {
          val oc = Pipeline.curateObserved(d)
          try {
            oc.curated.write.format("noop").mode("overwrite").save()
            oc.afterNear.get("rows").asInstanceOf[Long]
          } finally oc.release()
        })
        report("curate_pass", tCur, nKept)
        report("curate_shuffle_write_bytes", 0.0, bytes)
      }
      // q128: the value-histogram family's floor evidence (VERDICT
      // r15 #7 — q128/q135/q122/q100/q94 share the shape): the
      // family's cost is SEQUENTIAL aggregate rounds, not data
      // volume. Window state is bounded by DISTINCT cent values, so
      // N× the rows over the SAME value grid and N× the rows over an
      // N× grid should both read near-flat if the floor claim holds.
      // lineitem is outside the shard-isomorph corpus, so the scaled
      // frames are derived here: N row-copies (same values) and N
      // value-SHIFTED copies (shift = copy × (max+1): per-copy
      // distributions identical, value-disjoint → exactly N× the
      // distinct values). `rows` reports the distinct-value count the
      // histogram walks actually carry.
      if (wanted("q128")) {
        val base = Tables.lineitem(spark, dir).select(col("l_returnflag"),
          graft.ops.Profiling.cents(col("l_extendedprice")).as("c"))
        val n = shardsOf(scale)
        val shift = base.agg(max(col("c"))).head().getLong(0) + 1L
        def copies(valShift: Boolean): DataFrame =
          (0 until n).map(k =>
            if (valShift) base.select(col("l_returnflag"),
              (col("c") + lit(k * shift)).as("c"))
            else base).reduce(_ unionAll _)
        val rowsF = copies(valShift = false)
        val valsF = copies(valShift = true)
        val dvRows = rowsF.select(col("c")).distinct().count()
        val dvVals = valsF.select(col("c")).distinct().count()
        val (_, tr) = timed {
          graft.ops.Profiling.madOutliersOf(rowsF, 9L, 5L).count(): Unit
          Dedup.unpersistCaches()
        }
        report("q128_rows_scaled", tr, dvRows)
        val (_, tv) = timed {
          graft.ops.Profiling.madOutliersOf(valsF, 9L, 5L).count(): Unit
          Dedup.unpersistCaches()
        }
        report("q128_vals_scaled", tv, dvVals)
      }
      // q126 shape: PPJoin candidates, then the full exact join —
      // GATED by its own forecast (round 14, dogfooding the q259
      // pattern): the verify exchange is exactly candidates ×
      // 2 packed rows, and at 100× (~82M × 2×gv ≈ 300 GB) it
      // overflows a single dev box's /tmp with shuffle spill (a
      // cluster spreads it across executor disks — this is a box
      // limit, not an engine one; the fresh join previously shipped
      // RAW arrays, 4× worse, fixed this round). Skip + report the
      // priced bytes instead of dying mid-run.
      if (wanted("q126")) {
        val (nPp, tPp) = timed(
          Dedup.setSimCandidates(d, "doc_id", 700000L).count())
        Dedup.unpersistCaches()
        report("q126_ppjoin_candidates", tPp, nPp)
        val rowB = Dedup.setSimPreflightDocs(d, "doc_id")
          .filter(col("t_ppm") === 700000L).head()
          .getAs[Long]("est_row_bytes")
        Dedup.unpersistCaches()
        val estBytes = 2L * nPp * rowB
        val diskBudget =
          sys.env.get("SPARK_GRAFT_REHEARSAL_EXCHANGE_BUDGET")
            .map(_.toLong).getOrElse(40L << 30)
        if (estBytes <= diskBudget) {
          val (nSs, tSs) =
            timed(Dedup.setSimJoin(d, "doc_id", 700000L).count())
          Dedup.unpersistCaches()
          report("q126_setsim_join", tSs, nSs)
        } else
          report("q126_setsim_join_skipped_est_bytes", 0.0, estBytes)
      }
      // q126cal (VERDICT r14 #1): a MEASURED point for the fresh
      // packed-verify exchange forecast. The 100× fresh join is
      // (correctly) skip-priced at ~89 GB on this box, but above 30×
      // the pricing curve was extrapolation — this block forces the
      // over-threshold packed regime (broadcastBytes=1, the r12/r14
      // forced-regime method, since at intermediate decades gramBytes
      // sits under the natural 1 GiB switch), prices the verify
      // exchange EXACTLY as the q126 gate does (2 packed rows per
      // actual candidate), runs the join, and reports the forecast
      // bytes next to the LISTENER-measured total shuffle write — the
      // forecast÷actual constant the slots metric already has. Run at
      // an intermediate decade that fits the 40 GB default budget
      // (40× ≈ 36 GB forecast on this corpus).
      if (wanted("q126cal")) {
        val prevBc = spark.conf.getOption("graft.setsim.broadcastBytes")
        spark.conf.set("graft.setsim.broadcastBytes", "1")
        try {
          val (nPp, tPp) = timed(
            Dedup.setSimCandidates(d, "doc_id", 700000L).count())
          Dedup.unpersistCaches()
          report("q126cal_candidates", tPp, nPp)
          val rowB = Dedup.setSimPreflightDocs(d, "doc_id")
            .filter(col("t_ppm") === 700000L).head()
            .getAs[Long]("est_row_bytes")
          Dedup.unpersistCaches()
          val estBytes = 2L * nPp * rowB
          val diskBudget =
            sys.env.get("SPARK_GRAFT_REHEARSAL_EXCHANGE_BUDGET")
              .map(_.toLong).getOrElse(40L << 30)
          if (estBytes <= diskBudget) {
            val ((nSs, tSs), actualBytes) = shuffleBytesDuring(spark) {
              val r = timed(
                Dedup.setSimJoin(d, "doc_id", 700000L).count())
              Dedup.unpersistCaches()
              r
            }
            report("q126cal_fresh_packed_join", tSs, nSs)
            report("q126cal_forecast_exchange_bytes", 0.0, estBytes)
            report("q126cal_actual_shuffle_bytes", 0.0, actualBytes)
          } else
            report("q126cal_skipped_est_bytes", 0.0, estBytes)
        } finally prevBc match {
          case Some(v) => spark.conf.set("graft.setsim.broadcastBytes", v)
          case None => spark.conf.unset("graft.setsim.broadcastBytes")
        }
      }
      // q126i: the INDEX-path near-dup verify (setSimNearDups) — the
      // deployed shape. Under the broadcast threshold the verify
      // broadcasts the gram sets; over it (SPARK_GRAFT_SETSIM_BCAST=1)
      // it switches to the ARRAY-FREE inverted form (VERDICT r11 #5).
      // The index build is warmed outside the timed run, so the
      // number is the per-query probe+verify cost, matching how a
      // deployment amortizes the artifact.
      if (wanted("q126i")) {
        val dirAt = if (scale == "1x") dir else outFor(scale)
        // same priced skip as the q126 block (round 14): the indexed
        // verify's exchange at 100× (~89 GB packed) exceeds a single
        // dev box's /tmp — its own q259 forecast says so BEFORE the
        // join; a cluster spreads the spill, this box cannot. The
        // index warm-up below doubles as the forecast's input.
        Dedup.setSimPreflight(spark, dirAt).head(): Unit
        Dedup.unpersistCaches()
        val pf = Dedup.setSimPreflight(spark, dirAt)
          .filter(col("t_ppm") === 700000L).head()
        val estIv = pf.getAs[Long]("est_exchange_bytes") / 16L
        // est_exchange_bytes uses fanout SLOTS — the r13-calibrated
        // constant 32.8× above actual candidates; /16 ≈ 2 rows per
        // actual candidate at that calibration, still conservative
        Dedup.unpersistCaches()
        val diskBudget =
          sys.env.get("SPARK_GRAFT_REHEARSAL_EXCHANGE_BUDGET")
            .map(_.toLong).getOrElse(40L << 30)
        if (estIv <= diskBudget) {
          val (nIv, tIv) = timed {
            val n = Dedup.setSimNearDups(spark, dirAt).count()
            Dedup.unpersistCaches()
            n
          }
          report("q126i_neardups_indexed", tIv, nIv)
        } else
          report("q126i_neardups_skipped_est_bytes", 0.0, estIv)
      }
      // q259: set-sim verify pre-flight — the slot forecast is priced
      // BEFORE any candidate join runs, then compared against the
      // actual bounded candidate count (forecast >= actual by
      // construction; the ratio is the length/positional bounds'
      // measured pruning power, recorded per scale in BASELINE.md —
      // the forecast-vs-actual tolerance VERDICT r12 #4 asks for)
      if (wanted("q259")) {
        val dirAt = if (scale == "1x") dir else outFor(scale)
        // warm the persisted index outside the timed run (the q126i
        // convention — in deployment the index exists before the
        // gate runs; a fresh JVM's first touch pays the build)
        Dedup.setSimPreflight(spark, dirAt).head()
        Dedup.unpersistCaches()
        var slots = 0L
        val (_, tPf) = timed {
          val r = Dedup.setSimPreflight(spark, dirAt)
            .filter(col("t_ppm") === 700000L).head()
          slots = r.getAs[Long]("fanout_slots")
          Dedup.unpersistCaches()
        }
        report("q259_preflight_slots", tPf, slots)
        val (nAct, tAct) = timed {
          val n = Dedup.setSimCandidates(d, "doc_id", 700000L).count()
          Dedup.unpersistCaches()
          n
        }
        report("q259_actual_candidates", tAct, nAct)
      }
      // q260: the incremental-probe pre-flight (daily-ingest shape) —
      // the batch is the derived newest-10% slice of the scaled corpus
      if (wanted("q260")) {
        val dirAt = if (scale == "1x") dir else outFor(scale)
        var slots = 0L
        val (_, tPf) = timed {
          val r = Dedup.setSimPreflightIncremental(spark, dirAt)
            .filter(col("t_ppm") === 700000L).head()
          slots = r.getAs[Long]("fanout_slots")
          Dedup.unpersistCaches()
        }
        report("q260_incr_preflight_slots", tPf, slots)
      }
      // q260i: the WARM-GATE (deployed) read (VERDICT r13 #4) — the
      // corpus side rides the persisted prior-corpus index (the q191
      // docs_p90 artifact), warmed OUTSIDE the timed run (the q126i
      // convention), so the number is the daily gate cost a
      // deployment pays, not the one-time index build the fresh-path
      // q260 row re-pays per drained sample. Since round 15 this
      // deployed face is also a first-class benched query (q264),
      // so the suite's headline daily-gate number is the warm cost.
      if (wanted("q260i")) {
        val dirAt = if (scale == "1x") dir else outFor(scale)
        Dedup.setSimPreflightIncrementalIndexed(spark, dirAt).head()
        Dedup.unpersistCaches()
        var slots = 0L
        val (_, tPf) = timed {
          val r = Dedup.setSimPreflightIncrementalIndexed(spark, dirAt)
            .filter(col("t_ppm") === 700000L).head()
          slots = r.getAs[Long]("fanout_slots")
          Dedup.unpersistCaches()
        }
        report("q260i_warm_gate_slots", tPf, slots)
        // the MARGINAL row: what the WIRED gate (the conf control in
        // setSimJoinIncremental) adds to a probe that already built
        // its prefix tables — the probe joins them anyway, so the
        // gate's own cost is two keyed counts + one vocabulary join;
        // the full-warm row above still carries the batch-side build
        // (linear in ingest size, paid by gate and probe alike)
        val (warm, gate) = Dedup.incrementalGateInstrument(spark, dirAt)
        warm()
        val (sl2, tMg) = timed(gate())
        report("q260i_marginal_gate_slots", tMg, sl2._1)
        Dedup.unpersistCaches()
      }
      // q126pinc: the incremental daily probe FORCED over the
      // broadcast threshold — the 100 TB shape (the corpus side
      // outgrows broadcast long before the batch does), exercising
      // the round-14 packed regime for real: batch grams packed in
      // the corpus-dictionary id space, candidates verified via the
      // varint intersect, no gram array on any exchange
      if (wanted("q126pinc")) {
        val dirAt = if (scale == "1x") dir else outFor(scale)
        val docsP = Tables.documents(spark, dirAt)
          .select(col("doc_id"), col("text"))
        val cutP = (docsP.agg(max(col("doc_id"))).head().getLong(0) + 1L) *
          9L / 10L
        spark.conf.set("graft.setsim.broadcastBytes", "1")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          def probe() = {
            val n = Dedup.setSimJoinIncremental(
              docsP.filter(col("doc_id") < cutP), "doc_id",
              docsP.filter(col("doc_id") >= cutP), "doc_id",
              700000L).count()
            Dedup.unpersistCaches()
            n
          }
          // AUTO: the deployed plan — the Σ cN·cC forecast picks
          // packed only when the candidate exchange outweighs the
          // fresh packing pass (on the shard-isomorph corpora the
          // 10×+ batch is content-disjoint, so auto stays unpacked)
          val (nAuto, tAuto) = timed(probe())
          report("q126pinc_auto", tAuto, nAuto)
          // FORCED packed: validates the corpus-dictionary packing
          // path end-to-end at scale and records what the wrong
          // regime would cost (the measurement behind the auto rule)
          spark.conf.set("graft.setsim.packedVerify", "true")
          val (nPk, tPk) = timed(probe())
          report("q126pinc_forced_packed", tPk, nPk)
        } finally {
          spark.conf.unset("graft.setsim.broadcastBytes")
          spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
          spark.conf.unset("graft.setsim.packedVerify")
          Dedup.unpersistCaches()
        }
      }
      // q263: the containment-gate forecast — one conditional-count
      // scan off the same persisted docs index q126/q181 ride,
      // warmed outside the timed run (the q126i convention); the
      // number is what the graft.containment.maxExchangeBytes gate
      // adds to a gated q181 run
      if (wanted("q263")) {
        val dirAt = if (scale == "1x") dir else outFor(scale)
        Dedup.containmentPreflight(spark, dirAt).head()
        Dedup.unpersistCaches()
        var slots = 0L
        val (_, tPf) = timed {
          val r = Dedup.containmentPreflight(spark, dirAt)
            .filter(col("t_ppm") === 900000L).head()
          slots = r.getAs[Long]("fanout_slots")
          Dedup.unpersistCaches()
        }
        report("q263_containment_gate_slots", tPf, slots)
      }
      // q261: embedding-occupancy drift — prior-only index build +
      // batch broadcast argmin + cell-keyed counts; on the scaled
      // corpora the newest-10% batch is sign-permuted shard content,
      // so the drift read is the DECORRELATED-encoder case (mass
      // spreads; compare the 1x same-distribution point)
      if (wanted("q261")) {
        val dirAt = if (scale == "1x") dir else outFor(scale)
        val (nDr, tDr) = timed {
          val n = graft.ops.Ivf.embeddingDrift(spark, dirAt).count()
          graft.ops.Ivf.clearDetIndexes()
          Dedup.unpersistCaches()
          n
        }
        report("q261_embedding_drift", tDr, nDr)
      }
      // q119 shape: stride-1 substring extent dedup
      if (wanted("q119")) {
        val (nSub, tSub) = timed(Dedup.substringDedup(d).count())
        Dedup.unpersistCaches()
        report("q119_substring_dedup", tSub, nSub)
      }
      // q33 shape: exact dedup (sha2 groupBy — digests shuffle)
      if (wanted("q33")) {
        val (nEx, tEx) = timed(d
          .groupBy(sha2(col("text"), 256).as("h"))
          .agg(min(col("doc_id")).as("keep_id"),
            count(lit(1)).as("n_copies")).count())
        report("q33_exact_dedup", tEx, nEx)
      }
      // q75 shape: fixed-chunk passage dedup (digest-keyed window)
      if (wanted("q75")) {
        val (nPa, tPa) = timed(Dedup.passageDedupDocs(d).count())
        Dedup.unpersistCaches()
        report("q75_passage_dedup", tPa, nPa)
      }
      // q120 shape: window novelty of a FIXED 1x ingest slice against
      // the growing corpus (the corpus side is the scale variable)
      if (wanted("q120")) {
        val ingest = docsAt("1x").filter(col("doc_id") < 500)
        val (nNo, tNo) = timed(Dedup.windowNovelty(ingest, d).count())
        Dedup.unpersistCaches()
        report("q120_window_novelty", tNo, nNo)
      }
      // q88 shape: sessionize + day-partitioned concurrency sweep.
      // The 10x events share the SAME calendar days across 10x users,
      // so each day's sweep partition holds 10x the points — the
      // single-partition-per-day sort is exactly the structure to
      // stress
      if (wanted("q88")) {
        val ev = evAt(scale)
        val (nCc, tCc) = timed(graft.ops.TimeSeries
          .dailyConcurrencyOf(
            graft.ops.TimeSeries.sessionIntervalsOf(ev)).count())
        report("q88_concurrency", tCc, nCc)
      }
      // q145 shape: SemDeDup cluster-then-prune. Two contrasting
      // points at 10x: FIXED k (cells grow 10x, pair work ~100x — the
      // anti-pattern) vs k SCALED with N (cell size constant, pair
      // work ~10x — the production rule "k grows with the corpus").
      if (wanted("q145")) {
        val e = embAt(scale)
        val kFixed = 8
        val kScaled = if (scale == "1x") 8 else 80
        for ((label, k) <- Seq(("k_fixed", kFixed), ("k_scaled", kScaled))
             if scale == "10x" || label == "k_fixed") {
          val assigned = graft.ops.Ivf.build(e, k = k).assigned
            .select(col("vec_id"), col("cell"), col("embedding"))
          val (nSd, tSd) = timed(
            graft.ops.Ivf.semanticDedupOn(assigned, 400000L)
              .filter(!col("kept")).count())
          report(s"q145_semdedup_$label", tSd, nSd)
        }
      }
      // q145 auto-k row: the SAME op with k left to the autoK rule —
      // the code path a deployment actually runs (k ∝ N resolved from
      // the corpus count: 2k vectors → 8 cells, 20k → 79)
      if (wanted("q145_auto")) {
        val e = embAt(scale)
        val assigned = graft.ops.Ivf.build(e).assigned
          .select(col("vec_id"), col("cell"), col("embedding"))
        val (nSd, tSd) = timed(
          graft.ops.Ivf.semanticDedupOn(assigned, 400000L)
            .filter(!col("kept")).count())
        report("q145_semdedup_k_auto", tSd, nSd)
      }
      // q146 shape: DSIR selection. The explode + B=1024 rate tables
      // are linear; the watched step is the single global top-share
      // rank (documented q100 bin-walk swap at corpus scale)
      if (wanted("q146")) {
        val (nDs, tDs) = timed(
          graft.ops.Sampling.dsirAffinitySelectOn(d).count())
        Dedup.unpersistCaches()
        report("q146_dsir_select", tDs, nDs)
      }
      // q147 shape: shard manifest (pure-function shard of doc_id +
      // one keyed aggregate — the narrowest op in the family)
      if (wanted("q147")) {
        val (nSh, tSh) = timed(
          graft.ops.Layout.shardManifest(d, 16).count())
        report("q147_shard_manifest", tSh, nSh)
      }
      // q148 shape: temperature mixing (keyed count + 1-row broadcast
      // + stateless keep filter)
      if (wanted("q148")) {
        val (nTm, tTm) = timed(
          graft.ops.Sampling.temperatureMixOn(d).count())
        report("q148_temperature_mix", tTm, nTm)
      }
      // q149 shape: CCNet fluency (trigram explode -> LM aggregate ->
      // size-conditional LM join). The LM side grows with the corpus;
      // at 10x the broadcast-vs-shuffle_hash switch is the watched
      // knob
      if (wanted("q149")) {
        val (nFl, tFl) = timed(
          graft.ops.Ranking.fluencyScores(d).count())
        Dedup.unpersistCaches()
        report("q149_fluency", tFl, nFl)
      }
      // round-7 op family: per-row gate/count aggregates (q151/q155),
      // schedule arithmetic (q152), per-shard rank (q153), span
      // explode (q154), digest-window dedup accounting (q156),
      // global length-rank batching (q157 — the one global window,
      // the watched step at 10x)
      if (wanted("q151")) {
        val (n1, t1) = timed(
          graft.ops.TextAnalysis.filterCascadeDocs(d).count())
        report("q151_filter_cascade", t1, n1)
      }
      if (wanted("q153")) {
        val (n3, t3) = timed(graft.ops.Layout.trainingOrderDocs(d).count())
        report("q153_training_order", t3, n3)
      }
      if (wanted("q154")) {
        val (n4, t4) = timed(graft.ops.Layout.chunkSpansDocs(d).count())
        report("q154_chunk_spans", t4, n4)
      }
      if (wanted("q156")) {
        val (n6, t6) = timed(graft.ops.Dedup.dedupSavingsDocs(d).count())
        report("q156_dedup_savings", t6, n6)
      }
      if (wanted("q157")) {
        val (n7, t7) = timed(graft.ops.Layout.paddingWasteDocs(d).count())
        report("q157_padding_waste", t7, n7)
      }
      // q159 shape: dimension-pair moment screen — the constant
      // 2016x pair fan-out is the scale term (linear in vectors)
      if (wanted("q159")) {
        val e = embAt(scale)
        val (n9, t9) = timed(
          graft.ops.Similarity.dimensionCorrelationOn(e).count())
        report("q159_dim_correlation", t9, n9)
      }
      // round-8 rows (VERDICT r7 #6): the q163–q169 wave. q167
      // (per-row marker projection) and q160/q161/q168 (fact-table
      // shapes; no 10x fact corpus — their scale property is the
      // PlanShapeSpec exchange/scan budget on the bucketed layouts)
      // are documented rather than measured here.
      if (wanted("q163")) {
        val (nSr, tSr) = timed(
          graft.ops.Ranking.selfRepetitionDocs(d).count())
        report("q163_self_repetition", tSr, nSr)
      }
      // q164 RRF: post-fix shape — both lists cut to top-C via
      // TakeOrdered before any rank window; the 10x point is what the
      // pre-fix corpus-wide window would have choked on
      if (wanted("q164")) {
        val e = embAt(scale)
        val (nRf, tRf) = timed(
          graft.ops.Ranking.rrfFusionOn(d, e).count())
        Dedup.unpersistCaches()
        report("q164_rrf_fusion", tRf, nRf)
      }
      // q165 corpus card: post-restructure shape — digest pre-agg,
      // no text through a shuffle, Expand only over narrow rows
      if (wanted("q165")) {
        val (nCc5, tCc5) = timed(
          graft.ops.TextAnalysis.corpusCardDocs(d).count())
        report("q165_corpus_card", tCc5, nCc5)
      }
      // q166 cluster-size profile at τ=0.35 over the LSH scale path
      // (the exact all-pairs edge source is the id-bounded oracle
      // tool): edge density grows faster at the tighter τ — the
      // watched term is the CC fixpoint round count staying flat
      if (wanted("q166")) {
        val e = embAt(scale)
        val edges = Similarity.lshEmbeddingNearDups(e, 0.35)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val (nEdges, tEdges) = timed(edges.count())
        report("q166_edges_tau35", tEdges, nEdges)
        val (nPr, tPr) = timed(
          Dedup.dedupClusters(edges, "vec_a", "vec_b")
            .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
            .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
            .count())
        edges.unpersist()
        Dedup.unpersistCaches()
        report("q166_cluster_sizes", tPr, nPr)
      }
      // q169 ANN recall audit on a frame-built deterministic index at
      // the autoK k (N=5000 at 10x → k=20): build + probe + exact
      // ranking + overlap — the full audit the registered query runs
      if (wanted("q169")) {
        val e = embAt(scale)
        val (rec, tRa) = timed {
          val k = graft.ops.Ivf.autoK(e.count())
          val idx = graft.ops.Ivf.deterministicIndexOn(e, k)
          val r = graft.ops.Ivf.annRecallAuditOn(idx, e, queryId = 7)
            .head().getLong(2)
          idx.assigned.unpersist()
          r
        }
        report("q169_ann_recall_ppm", tRa, rec)
      }
      // q157 scale branch: the per-shard length rank (nShards = 16)
      // vs the global default — the round-8 executable swap
      if (wanted("q157_sharded")) {
        val (n7s, t7s) = timed(
          graft.ops.Layout.paddingWasteDocs(d, nShards = 16).count())
        report("q157_padding_waste_sharded", t7s, n7s)
      }
      // q146 scale branch: the q100 bin-walk rank forced on (cutoff
      // 0) vs the one-phase default — the other round-8 swap
      if (wanted("q146_binwalk")) {
        val (nBw, tBw) = timed(
          graft.ops.Sampling.dsirAffinitySelectOn(d, binWalkMinDocs = 0L)
            .count())
        Dedup.unpersistCaches()
        report("q146_dsir_binwalk", tBw, nBw)
      }
      // round-9 rows (VERDICT r8 #2): the q171–q180 wave. q176/q179
      // are orders-shaped (no 10x fact corpus — their scale property
      // is the bin-walk swap / the |bins|-row aggregate, documented
      // at the op); everything else measures here.
      // q171 at the SCALE path: LSH edges at the tighter τ=0.35 (the
      // q166 harness) + CC + the splitmix split — the watched terms
      // are the denser edge set and the fixpoint round count
      if (wanted("q171")) {
        val e = embAt(scale)
        val edges = Similarity.lshEmbeddingNearDups(e, 0.35)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        edges.count()
        val (nCs, tCs) = timed(
          graft.ops.Sampling.clusterSplitOn(
            e.select(col("vec_id")), edges).count())
        edges.unpersist()
        Dedup.unpersistCaches()
        report("q171_cluster_split", tCs, nCs)
      }
      // q172: the q149 scoring plan + per-source rank windows — should
      // inherit q149's ratio (the rank adds no shuffle)
      if (wanted("q172")) {
        val (nFt, tFt) = timed(
          graft.ops.Ranking.fluencyTercilesDocs(d).count())
        Dedup.unpersistCaches()
        report("q172_fluency_terciles", tFt, nFt)
      }
      // q173: the corpus side reduces to distinct (doc, gram) pairs;
      // the eval-gram side GROWS with the corpus here (10 letter-
      // permuted src0 shards are mostly disjoint gram sets) — exactly
      // the case the size-conditional broadcast guard exists for. The
      // eval-gram row count is reported alongside as the payload proxy.
      if (wanted("q173")) {
        val (nEo, tEo) = timed(
          graft.ops.Decontaminate.evalOverlapScoreOn(d).count())
        report("q173_eval_overlap", tEo, nEo)
        val (nEg, tEg) = timed(graft.ops.Ranking.trigramFrame(
            d.filter(col("source") === "src0"))
          .select(col("ngram")).distinct().count())
        report("q173_eval_gram_set", tEg, nEg)
      }
      // q265: contamination spans — the matched-position volume (==
      // the gate's candidate-slot forecast, exact) is the scale knob:
      // both sides of the 8-gram join grow with the corpus, so the
      // slots row pins the growth exponent the opt-in
      // graft.decontam.maxExchangeBytes gate prices
      if (wanted("q265")) {
        val (nSp, tSp) = timed(
          graft.ops.Decontaminate.contaminationSpansOn(d).count())
        Dedup.unpersistCaches()
        report("q265_contamination_spans", tSp, nSp)
        val g = graft.ops.Decontaminate.gramPosFrame(d,
          graft.ops.Decontaminate.SpanGram)
        val (nSl, tSl) = timed(
          g.filter(col("source") =!= "src0").select(col("gram"))
            .join(g.filter(col("source") === "src0").select(col("gram")),
              Seq("gram"))
            .count())
        report("q265_span_match_slots", tSl, nSl)
        // q267: the forecast query itself — its n=8 match_slots row
        // must equal the raw-join count above at every decade
        val (sl267, tPf) = timed(
          graft.ops.Decontaminate.decontamPreflightOn(d)
            .filter(col("gram_n") === 8L).head().getAs[Long]("match_slots"))
        report("q267_decontam_gate_slots", tPf, sl267)
        if (sl267 != nSl)
          println(s"""{"op":"q267_slot_mismatch","scale":"$scale",""" +
            s""""priced":$sl267,"joined":$nSl}""")
      }
      // q266: the daily decontamination screen — |batch| rows by
      // construction; the cost is one winnow pass over the batch +
      // the broadcast eval fingerprint set (linear in batch size)
      if (wanted("q266")) {
        val (nSc, tSc) = timed {
          val cutoff = (d.agg(max(col("doc_id"))).head().getLong(0)
            + 1L) * 9L / 10L
          graft.ops.Decontaminate.decontamScreenOn(d,
            col("doc_id") >= cutoff).count()
        }
        Dedup.unpersistCaches()
        report("q266_decontam_screen", tSc, nSc)
      }
      // q268: the deployed daily span audit — batch-sized spine by
      // construction (shard-isomorph batches are content-disjoint
      // from eval at 10×+, so matched stats legitimately read zero
      // there; the wall is the batch gram explode + the sized eval
      // join, the deployed-marginal cost of the q265 family)
      if (wanted("q268")) {
        val (nSa, tSa) = timed {
          val cutoff = (d.agg(max(col("doc_id"))).head().getLong(0)
            + 1L) * 9L / 10L
          graft.ops.Decontaminate.spanAuditOn(d,
            col("doc_id") >= cutoff).count()
        }
        Dedup.unpersistCaches()
        report("q268_span_audit_incr", tSa, nSa)
      }
      // q270: plane-count tuner — one narrow scan + bucket-histogram
      // work; the row doubles as the standing record of WHY autoPlanes
      // exists (cand_pairs at fixed p=8 grows ~N², at the chosen p it
      // stays ~linear — the round-11 edge-flattening, now priced by a
      // query instead of measured after the join)
      if (wanted("q270")) {
        val e = embAt(scale)
        val (rowsPp, tPp) = timed {
          val r = graft.ops.Similarity.planePlanOn(e).collect()
          Dedup.unpersistCaches()
          r
        }
        report("q270_plane_plan", tPp, rowsPp.length.toLong)
        def row(p: Long) = rowsPp.find(_.getLong(0) == p).get
        val chosen = rowsPp.find(_.getBoolean(5)).get
        println(s"""{"op":"q270_cand_pairs","scale":"$scale",""" +
          s""""fixed8":${row(8L).getLong(3)},""" +
          s""""chosen_p":${chosen.getLong(0)},""" +
          s""""chosen":${chosen.getLong(3)},""" +
          s""""max_bucket8":${row(8L).getLong(2)},""" +
          s""""max_bucket_chosen":${chosen.getLong(2)}}""")
      }
      // q174: narrow per-row array fold, no shuffle — linear by
      // construction; the row exists to catch an accidental join/
      // shuffle creeping into the audit
      if (wanted("q174")) {
        val e = embAt(scale)
        val (nSq, tSq) = timed(
          graft.ops.Similarity.sqErrorAuditOn(e).count())
        report("q174_sq_error", tSq, nSq)
      }
      // q175: digest pre-aggregate + |sources|-row rollup (the q165
      // shape on a different rollup)
      if (wanted("q175")) {
        val (nEb, tEb) = timed(
          graft.ops.TextAnalysis.epochBudgetDocs(d).count())
        report("q175_epoch_budget", tEb, nEb)
      }
      // q177/q178/q180: single-user_id-keyed event shapes — 10x users
      // over the same days should scale near-linearly (more
      // partitions, same per-user work)
      if (wanted("q177")) {
        val ev = evAt(scale)
        val (nCa, tCa) = timed(
          graft.ops.AsOf.clickAttributionEv(ev).count())
        report("q177_click_attribution", tCa, nCa)
      }
      if (wanted("q178")) {
        val ev = evAt(scale)
        val (nIu, tIu) = timed(
          graft.ops.TimeSeries.intervalUnionEv(ev).count())
        report("q178_interval_union", tIu, nIu)
      }
      if (wanted("q180")) {
        val ev = evAt(scale)
        val (nLi, tLi) = timed(
          matCount(graft.ops.TimeSeries.linearInterpEv(ev)))
        report("q180_linear_interp", tLi, nLi)
      }
      // q181: containment candidates + full join — the candidate
      // count is the governing quantity (the q126 convention); the
      // container side is the FULL gram table, so candidate growth
      // is the thing to watch at 10x
      if (wanted("q181")) {
        val (nCc9, tCc9) = timed(
          Dedup.containmentCandidates(d, "doc_id", 900000L).count())
        Dedup.unpersistCaches()
        report("q181_containment_candidates", tCc9, nCc9)
        val (nCj, tCj) = timed(
          Dedup.containmentJoin(d, "doc_id", 900000L).count())
        Dedup.unpersistCaches()
        report("q181_containment_join", tCj, nCj)
      }
      // q182: per-source budget windows — the q172 shape
      if (wanted("q182")) {
        val (nBs, tBs) = timed(
          matCount(graft.ops.Sampling.budgetSelectDocs(d)))
        report("q182_budget_select", tBs, nBs)
      }
      // q183: CDC chunking — linear in corpus bytes (one HOF pass)
      // + a (source, digest) aggregate
      if (wanted("q183")) {
        val (nCd, tCd) = timed(graft.ops.Layout.cdcChunksDocs(d).count())
        report("q183_cdc_chunks", tCd, nCd)
      }
      // q184/q185: |sources|-row profile rollups / per-source rank
      // windows
      if (wanted("q184")) {
        val (nLt, tLt) = timed(
          graft.ops.Profiling.lengthTailProfileDocs(d).count())
        report("q184_length_tail", tLt, nLt)
      }
      if (wanted("q185")) {
        val (nSp, tSp) = timed(graft.ops.Profiling.spearmanDocs(d).count())
        report("q185_spearman", tSp, nSp)
      }
      // q186: medoids on a frame-built det index at the autoK k —
      // broadcast k-row centroids + one cell-keyed min(struct)
      if (wanted("q186")) {
        val e = embAt(scale)
        val (nMd, tMd) = timed {
          val idx = graft.ops.Ivf.deterministicIndexOn(
            e, graft.ops.Ivf.autoK(e.count()))
          val n = graft.ops.Ivf.cellMedoidsOn(idx, e).count()
          idx.assigned.unpersist()
          n
        }
        report("q186_cell_medoids", tMd, nMd)
      }
      // q187: (day, bin) count from 10x events, then grid-sized work
      if (wanted("q187")) {
        val ev = evAt(scale)
        val binned = ev.select(
          expr("unix_micros(date_trunc('day', ts)) div 86400000000")
            .as("day_idx"),
          expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)" +
            " div 2500").as("bin"))
        val (nPd, tPd) = timed(
          graft.ops.Profiling.psiDriftDailyOf(binned).count())
        report("q187_psi_daily", tPd, nPd)
      }
      // q188/q189/q190: rollup-shaped doc audits
      if (wanted("q188")) {
        val (nHh, tHh) = timed(
          graft.ops.Profiling.sourceHhiDocs(d).count())
        report("q188_source_hhi", tHh, nHh)
      }
      if (wanted("q189")) {
        val (nOv, tOv) = timed(
          graft.ops.TextAnalysis.oovRateDocs(d).count())
        report("q189_oov_rate", tOv, nOv)
      }
      if (wanted("q190")) {
        val (nPc, tPc) = timed(
          graft.etl.Sanitize.piiCooccurrenceDocs(d).count())
        report("q190_pii_cooccurrence", tPc, nPc)
      }
      // q191: incremental containment — the CORPUS side is the scale
      // variable (a fixed 1x ingest slice joins the growing corpus,
      // the q120 convention); candidates per direction are the
      // governing quantity
      if (wanted("q191")) {
        val ingest = docsAt("1x").filter(col("doc_id") >= 4500)
        val corpus = d.filter(col("doc_id") < 4500 ||
          col("doc_id") >= 1000000L)
        val (nIc, tIc) = timed(Dedup.containmentIncremental(
          corpus, "doc_id", ingest, "doc_id", 900000L).count())
        Dedup.unpersistCaches()
        report("q191_containment_incremental", tIc, nIc)
      }
      // q193/q194: per-source running sum / the q173 shape with the
      // ~80%-of-corpus train gram side (the size-conditional rule's
      // expected shuffle branch at scale)
      if (wanted("q193")) {
        val (nBi, tBi) = timed(
          matCount(graft.ops.Sampling.budgetIntakeDocs(d)))
        report("q193_budget_intake", tBi, nBi)
      }
      if (wanted("q194")) {
        val (nSl, tSl) = timed(
          graft.ops.Decontaminate.splitLeakageOn(d).count())
        report("q194_split_leakage", tSl, nSl)
      }
      // q195: two corpus-linear regex passes + |sources|x3 rollup
      if (wanted("q195")) {
        val (nRc, tRc) = timed(
          graft.etl.Sanitize.redactionCompleteDocs(d).count())
        report("q195_redaction_complete", tRc, nRc)
      }
      // q196: cluster purity at the LSH scale path (the q166 harness
      // with the source join on top)
      if (wanted("q196")) {
        val e = embAt(scale)
        val edges = Similarity.lshEmbeddingNearDups(e, 0.35)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        edges.count()
        val (nCp, tCp) = timed(Similarity.clusterPurityOf(edges,
          d.select(col("doc_id").as("vec_id"), col("source"))).count())
        edges.unpersist()
        Dedup.unpersistCaches()
        report("q196_cluster_purity", tCp, nCp)
      }
      // q197/q198: narrow projections + |sources|-row rollups
      if (wanted("q197")) {
        val (nTw, tTw) = timed(
          graft.ops.Layout.truncationWasteDocs(d).count())
        report("q197_truncation_waste", tTw, nTw)
      }
      if (wanted("q198")) {
        val (nLm, tLm) = timed(
          graft.ops.TextAnalysis.langMismatchDocs(d).count())
        report("q198_lang_mismatch", tLm, nLm)
      }
      // q199 shape on the scaled table we HAVE (events.user_id): one
      // map-side-combined count + small-table stats + top-K
      if (wanted("q199")) {
        val ev = evAt(scale)
        val (nSk, tSk) = timed {
          val n = graft.ops.Skew.profileKey(ev, "user_id", 10).count()
          Dedup.unpersistCaches()
          n
        }
        report("q199_key_skew", tSk, nSk)
      }
      // q200: far-tail screen on the same frame-built det index as
      // q186 — broadcast centroids + cell-partitioned window
      if (wanted("q200")) {
        val e = embAt(scale)
        val (nOl, tOl) = timed {
          val idx = graft.ops.Ivf.deterministicIndexOn(
            e, graft.ops.Ivf.autoK(e.count()))
          val n = graft.ops.Ivf.cellOutliersOn(idx, e).count()
          idx.assigned.unpersist()
          n
        }
        report("q200_emb_outliers", tOl, nOl)
      }
      // q201: keep-best canonicalization on the LSH scale path (the
      // q196 harness with the quality join + cluster argmax on top);
      // the aggregate expressions are prunable under count(), so
      // materialize via matCount
      if (wanted("q201")) {
        val e = embAt(scale)
        val edges = Similarity.lshEmbeddingNearDups(e, 0.35)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        edges.count()
        val (nKb, tKb) = timed(matCount(Similarity.keepBestDedupOn(
          edges, d.select(col("doc_id"), col("text")))))
        edges.unpersist()
        Dedup.unpersistCaches()
        report("q201_keep_best", tKb, nKb)
      }
      // q202: one corpus bigram explode into a vocab²-bounded pair
      // table persisted for its 3 consumers; topK via TakeOrdered
      if (wanted("q202")) {
        val (nCo, tCo) = timed {
          val n = matCount(
            graft.ops.TextAnalysis.collocationsDocs(d))
          Dedup.unpersistCaches()
          n
        }
        report("q202_collocations", tCo, nCo)
      }
      // q203: perceptual-hash image dedup — band-bucketed candidates
      // + exact hamming verify over the image third of the corpus
      if (wanted("q203")) {
        val mm = graft.multimodal.Multimodal
        val img = d.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("text"))
        val (nPh, tPh) = timed {
          val n = matCount(mm.phashDedupBands(mm.phashBandsCols(img)))
          Dedup.unpersistCaches()
          n
        }
        report("q203_phash_dedup", tPh, nPh)
      }
      // q262: the phash band pre-flight — per-band slot forecast
      // priced before the band join (reported rows = Σ over bands)
      if (wanted("q262")) {
        val mm = graft.multimodal.Multimodal
        val img = d.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("text"))
        val (nSl, tSl) = timed {
          val s = mm.phashPreflightBands(mm.phashBandsCols(img))
            .agg(sum(col("fanout_slots"))).head().getLong(0)
          Dedup.unpersistCaches()
          s
        }
        report("q262_phash_preflight_slots", tSl, nSl)
      }
      // q204: incremental perceptual dedup — fixed corpus (the 1x
      // image third below id 300), batch = the scaled image third
      // above it (the corpus-vs-growing-ingest shape)
      if (wanted("q204")) {
        val mm = graft.multimodal.Multimodal
        val corpus = mm.phashBandsCols(
          Tables.documents(spark, dir)
            .filter(col("doc_id") % 3 === 0 && col("doc_id") < 300)
            .select(col("doc_id"), col("text")))
        val batch = mm.phashBandsCols(
          d.filter(col("doc_id") % 3 === 0 && col("doc_id") >= 300)
            .select(col("doc_id"), col("text")))
        val (nPi, tPi) = timed {
          val n = matCount(mm.phashIncrementalBands(corpus, batch))
          Dedup.unpersistCaches()
          n
        }
        report("q204_phash_incremental", tPi, nPi)
      }
      // q205: kappa — codegen scoring projection + cell aggregate
      if (wanted("q205")) {
        val (nKp, tKp) = timed {
          val n = graft.ops.TextAnalysis.kappaAgreementDocs(
            d.select(col("doc_id"), col("source"), col("lang"),
              col("text"))).count()
          Dedup.unpersistCaches()
          n
        }
        report("q205_kappa", tKp, nKp)
      }
      // q206: jackknife — one scan into a 32-row bucket aggregate
      if (wanted("q206")) {
        val bucket = pmod(splitmix64(rollingHash(col("text")))
          .bitwiseAND(lit(Long.MaxValue)), lit(32L))
        val (nJk, tJk) = timed {
          val n = graft.ops.Profiling.jackknifeOf(d.select(
            bucket.as("bucket"),
            length(col("text")).cast("long").as("x"))).count()
          Dedup.unpersistCaches()
          n
        }
        report("q206_jackknife", tJk, nJk)
      }
      // q207: BPE pair kernel — vocab-bounded pair explode
      if (wanted("q207")) {
        val (nBp, tBp) = timed(
          graft.ops.TextAnalysis.bpePairStatsDocs(d).count())
        report("q207_bpe_pairs", tBp, nBp)
      }
      // q208: water-filling — corpus aggregate + |sources|-sized tail
      if (wanted("q208")) {
        val (nWf, tWf) = timed {
          val supplies = d.groupBy(col("source"))
            .agg(sum(size(split(col("text"), " ")).cast("long"))
              .as("supply"))
            // the q148 exact isqrt (Sampling.isqrt is private[ops]):
            // double-sqrt seed, then the same ±1 adjustment as
            // production so rehearsal weights match waterfillAlloc's
            // even at near-perfect-square supplies.
            .withColumn("w0", expr(
              "CAST(FLOOR(SQRT(CAST(supply AS DOUBLE))) AS BIGINT)"))
            .withColumn("w1", col("w0") -
              when(col("w0") * col("w0") > col("supply"), 1L).otherwise(0L))
            .withColumn("weight", col("w1") +
              when((col("w1") + 1L) * (col("w1") + 1L) <= col("supply"), 1L)
                .otherwise(0L))
            .drop("w0", "w1")
          val n = graft.ops.Sampling.waterfillAllocOn(supplies).count()
          Dedup.unpersistCaches()
          n
        }
        report("q208_waterfill", tWf, nWf)
      }
      // q209: Theil-Sen on the 10x events stream (the scaled table
      // with a time axis): per event_type daily value sums -> pair
      // slopes; days are calendar-bounded so pairs stay k²-tiny
      if (wanted("q209")) {
        val ev = evAt(scale)
        val (nTs, tTs) = timed {
          val daily = ev.select(col("event_type").as("flag"),
            datediff(col("ts").cast("date"),
              to_date(lit("1970-01-01"))).cast("long").as("m"),
            coalesce(col("value").cast("long"), lit(0L)).as("y"))
            .groupBy(col("flag"), col("m"))
            .agg(sum(col("y")).as("rev"))
          val n = graft.ops.Profiling.theilSenOf(daily).count()
          Dedup.unpersistCaches()
          n
        }
        report("q209_theil_sen", tTs, nTs)
      }
      // q210: forget audit — one corpus projection, 3 keyed rollups
      if (wanted("q210")) {
        val (nFg, tFg) = timed {
          val assigned = d.select(col("doc_id"),
            pmod(graft.ops.Sampling.idBucket(col("doc_id")), lit(16L))
              .as("shard"),
            pmod(rollingHash(col("text")), lit(graft.ops.Sampling.Prime))
              .as("h"),
            (pmod(col("doc_id"), lit(97L)) === 0L).as("forget"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val n = graft.ops.Layout.forgetAuditOn(assigned).count()
          assigned.unpersist()
          n
        }
        report("q210_forget_audit", tFg, nFg)
      }
      // q211: per-source centroid affinity — the corpus collapses to
      // |sources|·64 dim-sums FIRST (map-side combined); the pair join
      // runs over that tiny frame (aggregate-shaped: count() is fine)
      if (wanted("q211")) {
        val (nSa, tSa) = timed {
          val e = embAt(scale).join(
            d.select(col("doc_id").as("vec_id"), col("source")),
            Seq("vec_id"))
          val n = Similarity.sourceCentroidAffinityOn(e).count()
          Dedup.unpersistCaches()
          n
        }
        report("q211_source_affinity", tSa, nSa)
      }
      // q212: shuffle-mix audit — one persisted projection, a lag
      // walk + share counts, |shards| rows out
      if (wanted("q212")) {
        val (nMx, tMx) = timed {
          val assigned = d.select(col("doc_id"), col("source"),
            pmod(graft.ops.Sampling.idBucket(col("doc_id")), lit(16L))
              .as("shard"),
            graft.ops.Sampling.idShuffleKey(col("doc_id"))
              .as("shuffle_key"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val n = graft.ops.Layout.shuffleMixAuditOn(assigned).count()
          assigned.unpersist()
          n
        }
        report("q212_shuffle_mix", tMx, nMx)
      }
      // q213: k-core over the SCALE edge source (LSH near-dup
      // pairs, the q65 swap) — peel rounds grow with degeneracy,
      // not size; the bound is raised for the denser 10x graph
      if (wanted("q213")) {
        val (nKc, tKc) = timed {
          val pairs = Similarity.lshEmbeddingNearDups(embAt(scale), 0.25)
            .select(col("vec_a"), col("vec_b"))
          Similarity.kCoreOn(pairs, k = 3, rounds = 16).count()
        }
        report("q213_kcore", tKc, nKc)
      }
      // q214: calibration audit — scan projection + tiny-bin groupBy
      if (wanted("q214")) {
        val (nCb, tCb) = timed(
          graft.ops.TextAnalysis.calibrationDocs(d).count())
        report("q214_calibration", tCb, nCb)
      }
      // q215: weekday seasonality on the 10x events stream
      if (wanted("q215")) {
        val (nWd, tWd) = timed(
          graft.ops.TimeSeries.weekdaySeasonalityOn(evAt(scale)).count())
        report("q215_weekday_seasonality", tWd, nWd)
      }
      // q216: PQ codebook audit — iters+1 scans of one exploded
      // projection; codebook state is O(1) driver-side
      if (wanted("q216")) {
        val (nPq, tPq) = timed(
          graft.ops.Ivf.pqAuditOn(embAt(scale)).count())
        report("q216_pq_audit", tPq, nPq)
      }
      // q217: Zipf profile — explode + token aggregate + tiny bins
      if (wanted("q217")) {
        val (nZf, tZf) = timed(
          graft.ops.TextAnalysis.zipfProfileDocs(d).count())
        report("q217_zipf_profile", tZf, nZf)
      }
      // q220: PQ ADC recall — the build passes + the ADC lookup join
      // + one exact-ranking scan
      if (wanted("q220")) {
        val e = embAt(scale)
        val qid = e.agg(min(col("vec_id"))).head().getLong(0) + 7
        val (nAd, tAd) = timed(
          graft.ops.Ivf.pqAdcRecallOn(e, qid).count())
        report("q220_pq_adc_recall", tAd, nAd)
      }
      // q227: vocab growth — one persisted exploded frame, two
      // keyed aggregates, 10-row cum window
      if (wanted("q227")) {
        val (nVg, tVg) = timed {
          val n = graft.ops.TextAnalysis.vocabGrowthDocs(d).count()
          Dedup.unpersistCaches()
          n
        }
        report("q227_vocab_growth", tVg, nVg)
      }
      // q228: source dispersion — one posexplode aggregate + fold
      if (wanted("q228")) {
        val (nSd, tSd) = timed {
          val e = embAt(scale).join(
            d.select(col("doc_id").as("vec_id"), col("source")),
            Seq("vec_id"))
          graft.ops.Similarity.sourceDispersionOn(e).count()
        }
        report("q228_source_dispersion", tSd, nSd)
      }
      // q239: error burn — per-day aggregate + range windows
      if (wanted("q239")) {
        val (nEb, tEb) = timed(
          graft.ops.TimeSeries.errorBurnOn(evAt(scale)).count())
        report("q239_error_burn", tEb, nEb)
      }
      // q240: quality rank — scoring projection + source-partitioned
      // rank window (projection-shaped: matCount, the q180 lesson)
      if (wanted("q240")) {
        val (nQr, tQr) = timed(matCount(
          graft.ops.TextAnalysis.sourceQualityRankDocs(d)))
        report("q240_quality_rank", tQr, nQr)
      }
      // q237: boundary stitches — capped packed-key join
      if (wanted("q237")) {
        val (nBs, tBs) = timed {
          val n = graft.ops.Dedup.boundaryStitchesDocs(d).count()
          Dedup.unpersistCaches()
          n
        }
        report("q237_boundary_stitch", tBs, nBs)
      }
      // q254: incremental boundary stitch — fixed 1x batch (the
      // original newest-10% id slice, the q191 convention) vs the
      // growing seen corpus: candidates stay batch-bounded, only
      // the cap aggregates scan the corpus
      if (wanted("q254")) {
        val (nBsi, tBsi) = timed {
          val n = graft.ops.Dedup.boundaryStitchesIncrementalOn(d,
            col("doc_id") >= 4500L && col("doc_id") < 1000000L).count()
          Dedup.unpersistCaches()
          n
        }
        report("q254_boundary_stitch_incremental", tBsi, nBsi)
      }
      // q255: iterative BPE training, FIXED 64 rounds so both scales
      // run the same round count (exhaustion varies with vocab) —
      // cost model is rounds × vocab; the 10x shard-permuted corpus
      // multiplies the vocab, so per-round growth tracks vocab size
      // while the round structure (argmax collect + one fold) is
      // scale-invariant
      if (wanted("q255")) {
        val (nBt, tBt) = timed(
          graft.ops.BpeIterative.trainTableDocs(d, 64).count())
        report("q255_bpe_train_iter", tBt, nBt)
      }
      // q255big: the non-toy-vocabulary demonstration (VERDICT r12
      // #2) — nMerges=1024 through the heavy-hitter dispatch (the
      // vocab fits the driver budget at every rehearsal scale, so
      // training is one corpus aggregate + an in-memory loop), then
      // the q256 contract with the NATIVE tokenizer in-path over the
      // big vocab: per word, native encode under the learned rules ==
      // the trainer's own tokenization, token counts monotone vs the
      // round-16 snapshot, and lossless concat — violations must be 0
      if (wanted("q255big")) {
        var rules = 0L
        val (t, tTr) = timed {
          val r = graft.ops.BpeIterative.trainIterative(d, 1024,
            snapshotAt = 16)
          rules = r.merges.size.toLong
          r
        }
        report("q255big_train_1024", tTr, rules)
        val ruleSeq = t.merges.map { case (a, b, _) => (a, b) }
        val (nBad, tCt) = timed {
          t.vocab
            .join(t.snapshot.select(col("w"),
              size(col("toks")).as("n_pre")), "w")
            .select(col("w"), col("toks"), col("n_pre"),
              graft.ops.BpeIterative.encodeUnderMerges(col("w"), ruleSeq)
                .as("enc"))
            .filter(!(col("enc") === col("toks")) ||
              size(col("toks")) > col("n_pre") ||
              concat_ws("", col("toks")) =!= col("w"))
            .count()
        }
        report("q255big_contract_violations", tCt, nBad)
      }
      // q256big (VERDICT r13 #3): the ≥32k-merge demonstration. The
      // corpus vocab exhausts at 89 rules, so a wide vocab is DERIVED
      // from it: every corpus word × enough 5-digit shard suffixes
      // for ~49k distinct words at freq 2 (each word's full fusion
      // stays learnable ⇒ ≥ vocab-size merges available). Train
      // in-memory at nMerges = 32768 (the incremental-count trainer;
      // the naive recount path is minutes-to-hours here), then
      // measure ENCODE at the full 32k-rule table over the
      // corpus-scaled token stream — the native kernel dispatches to
      // the rank-order walk (rule-count-independent); a 2k-word
      // sample through the sequential kernel (forced via an
      // inert-but-unsafe prefix rule) records what the r13 kernel
      // would have paid per word. The q256 contract closes the block:
      // native encode == trainer tokenization, monotone vs the
      // round-16 snapshot, lossless concat — violations must be 0.
      if (wanted("q256big")) {
        val base = d.select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 1 && !col("w").contains("\u001F"))
          .distinct().collect().map(_.getString(0)).sorted
        val nSuf = math.max(1, (49152 + base.length - 1) / base.length)
        val counts: Array[(String, Long)] =
          (for { w <- base; i <- 0 until nSuf }
            yield (w + f"$i%05d", 2L)).toArray
        var t: graft.ops.BpeIterative.IterBpe = null
        val (nR, tTr) = timed {
          t = graft.ops.BpeIterative.trainInMemory(spark, counts,
            32768, 16)
          t.merges.size.toLong
        }
        report("q256big_train_32k", tTr, nR)
        val ruleSeq = t.merges.map { case (a, b, _) => (a, b) }
        // kernel-dispatch protection (VERDICT r14 #5): the encode wall
        // below is only meaningful if the 32k table actually takes the
        // rank-order kernel — a table change that silently fell back
        // to the sequential sweep (~4000× slower here) must fail the
        // rehearsal loudly, not read as a mysterious regression
        val kernel = graft.ops.BpeIterative.encodeKernelOf(ruleSeq)
        require(kernel == "rank",
          s"q256big: the 32k trained table dispatched the $kernel " +
            "kernel — byRankSafe no longer holds for trainer output")
        val stream = d
          .select(posexplode(split(col("text"), " ")).as(Seq("i", "w0")))
          .filter(length(col("w0")) >= 1)
          .select(concat(col("w0"),
            lpad((col("i") % nSuf).cast("string"), 5, "0")).as("w"))
        val (nTok, tEnc) = timed {
          stream.select(size(graft.ops.BpeIterative
              .encodeUnderMerges(col("w"), ruleSeq)).cast("long").as("n"))
            .agg(sum(col("n"))).head().getLong(0)
        }
        report("q256big_encode_32k", tEnc, nTok)
        // the sequential contrast: one unsafe (side never created)
        // but inert (U+0001 absent from the stream) rule forces the
        // fallback kernel over the SAME 32k rules, bounded sample
        val seqRules = ("\u0001", "\u0001\u0001") +: ruleSeq
        // and the contrast row must really exercise the fallback — if
        // the forcing rule ever stops tripping the safety proof, the
        // "sequential" number would silently be another rank-kernel run
        require(graft.ops.BpeIterative.encodeKernelOf(seqRules)
          == "sequential",
          "q256big: the forced-fallback table no longer dispatches the " +
            "sequential kernel")
        val (nTokS, tSeq) = timed {
          stream.limit(2000).select(size(graft.ops.BpeIterative
              .encodeUnderMerges(col("w"), seqRules)).cast("long").as("n"))
            .agg(sum(col("n"))).head().getLong(0)
        }
        report("q256big_encode_32k_seq2k", tSeq, nTokS)
        val (nBad, tCt) = timed {
          t.vocab
            .join(t.snapshot.select(col("w"),
              size(col("toks")).as("n_pre")), "w")
            .select(col("w"), col("toks"), col("n_pre"),
              graft.ops.BpeIterative.encodeUnderMerges(col("w"), ruleSeq)
                .as("enc"))
            .filter(!(col("enc") === col("toks")) ||
              size(col("toks")) > col("n_pre") ||
              concat_ws("", col("toks")) =!= col("w"))
            .count()
        }
        report("q256big_contract_violations", tCt, nBad)
      }
      // q238: closure audit over the SCALE edge source. Round 12's
      // 100x decade measured the FIXED-8-planes source at N^2.0 edges
      // (69.9k → 6.97M, maxdeg 39 → 319) and the audit at N^1.73
      // (0.88 → 47.3 s) — the autoPlanes density control is therefore
      // mandatory here, exactly as on the q65 row; and the q229 Σdeg²
      // forecast is priced and reported BEFORE the audit runs, the
      // deployment gate the audit's cost model demands.
      if (wanted("q238")) {
        val e = embAt(scale)
        val nVecs = e.count()
        val pairs = Similarity.lshEmbeddingNearDups(e, 0.25,
            Similarity.autoPlanes(nVecs))
          .select(col("vec_a"), col("vec_b"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // try/finally: a throw in the forecast or audit must not leak
        // the persist for the JVM lifetime (ADVICE r12 — later
        // rehearsal queries could ride a CacheManager plan hit)
        try {
          val (fc, tFc) = timed {
            def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
            val deg = pairs.select(col("vec_a").as("v"))
              .unionAll(pairs.select(col("vec_b").as("v")))
              .groupBy(col("v")).agg(count(lit(1)).as("d"))
            deg.agg(sum(dec(col("d")) * dec(col("d"))).as("s"))
              .head().getDecimal(0).longValue()
          }
          report("q238_wedge_forecast", tFc, fc)
          val (nCa, tCa) = timed {
            val n = Similarity.closureAuditOn(pairs).count()
            Dedup.unpersistCaches()
            n
          }
          report("q238_closure_audit", tCa, nCa)
        } finally pairs.unpersist()
      }
      // q234: quality-length bias — scoring projection + tiny bins
      if (wanted("q234")) {
        val (nQl, tQl) = timed(
          graft.ops.TextAnalysis.qualityLengthBiasDocs(
            d.withColumn("n_chars", length(col("text")).cast("long")))
            .count())
        report("q234_quality_length", tQl, nQl)
      }
      // q235/q236: experimentation pair on the 10x events stream
      if (wanted("q235")) {
        val (nAb, tAb) = timed(
          graft.ops.Behavior.abConversionOn(evAt(scale)).count())
        report("q235_ab_significance", tAb, nAb)
      }
      if (wanted("q236")) {
        val (nCl, tCl) = timed(
          graft.ops.Behavior.conversionLatencyOn(evAt(scale)).count())
        report("q236_conversion_latency", tCl, nCl)
      }
      // q229: join-size forecast — one keyed count + 1-row fold
      if (wanted("q229")) {
        val (nJf, tJf) = timed {
          def dec(c: org.apache.spark.sql.Column) =
            c.cast("decimal(38,0)")
          evAt(scale).groupBy(col("user_id"))
            .agg(count(lit(1)).as("n"))
            .agg(count(lit(1)).as("n_keys"),
              sum(dec(col("n")) * dec(col("n"))).as("sq"))
            .count()
        }
        report("q229_join_forecast", tJf, nJf)
      }
      // q223: PQ retrain gain — two builds + two assignments over
      // one exploded projection
      if (wanted("q223")) {
        val (nRg, tRg) = timed(
          graft.ops.Ivf.pqRetrainGainOn(embAt(scale)).count())
        report("q223_pq_retrain_gain", tRg, nRg)
      }
      // q221: release-diff card — one persisted two-source
      // projection, four keyed rollups to 4 rows
      if (wanted("q221")) {
        val (nRd, tRd) = timed {
          // the rehearsal projection carries no n_chars — derive it
          // (same shape/cost, only the bin values differ)
          val n = graft.ops.TextAnalysis.releaseDiffDocs(
            d.withColumn("n_chars", length(col("text")).cast("long")),
            "src0", "src1").count()
          Dedup.unpersistCaches()
          n
        }
        report("q221_release_diff", tRd, nRd)
      }
      // q222: heavy-hitter union contract — stage 2 re-aggregates
      // stage 1's persisted (shard, tok, f) output
      if (wanted("q222")) {
        val (nHh, tHh) = timed {
          val n = graft.ops.TextAnalysis.hhUnionContractDocs(d).count()
          Dedup.unpersistCaches()
          n
        }
        report("q222_hh_union", tHh, nHh)
      }
      // q241 (and q242, which is the same per-word stats aggregated
      // at source grain): BPE encode — word explode + VOCAB-sized
      // interpreted fold chain + join back; the watched quantity is
      // whether the vocab-bounded discipline holds (the 10x corpus's
      // letter permutation multiplies the VOCAB ~10x while tokens
      // grow 10x, the worst case for the encode join's build side)
      if (wanted("q241")) {
        val (nBe, tBe) = timed(
          graft.ops.TextAnalysis.bpeEncodeStatsDocs(d).count())
        report("q241_bpe_encode", tBe, nBe)
      }
      // q241enc: the native codegen bpe_encode (round 13) vs the
      // retained interpreted fold chain, same 64 learned rules, over
      // the RAW token stream (not the distinct vocab — the per-row
      // cost is what the fold chain scales badly in; the production
      // queries are additionally vocab-bounded by the encode join)
      if (wanted("q241enc")) {
        val B = graft.ops.BpeIterative
        val t = B.trainIterative(d, 64)
        val rules = t.merges.map { case (a, b, _) => (a, b) }
        val toksRaw = d.select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 1)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          toksRaw.count() // materialize outside both timed runs
          val (nN, tN) = timed(toksRaw
            .select(sum(size(B.encodeUnderMerges(col("w"), rules)))
              .as("s")).head().getLong(0))
          report("q241_encode_native", tN, nN)
          val (nF, tF) = timed(toksRaw
            .select(sum(size(B.encodeUnderMergesFold(col("w"), rules)))
              .as("s")).head().getLong(0))
          report("q241_encode_fold", tF, nF)
        } finally toksRaw.unpersist()
      }
      // q126 INDEX-riding probe (the round-11 persisted set-sim
      // index): first call on a corpus dir pays build+probe, the
      // second is the steady-state probe a deployment runs per query
      // — the amortization the index exists for. The 1x point uses
      // the source dir; scaled points use the materialized Nx corpus
      // dir (its documents.parquet has the same schema).
      if (wanted("q126_indexed")) {
        val idxDir = if (scale == "1x") dir else outFor(scale)
        val (nIb, tIb) = timed {
          val n = Dedup.setSimNearDups(spark, idxDir).count()
          Dedup.unpersistCaches(); n
        }
        report("q126_index_first", tIb, nIb)
        val (nIp, tIp) = timed {
          val n = Dedup.setSimNearDups(spark, idxDir).count()
          Dedup.unpersistCaches(); n
        }
        report("q126_index_probe", tIp, nIp)
      }
      // q170: sharded padding waste — chunk spans + per-shard
      // greedy-packing windows; shard count held at the query's 4 so
      // the 10x point stresses per-shard window size
      if (wanted("q170")) {
        val (nPw, tPw) = timed(
          graft.ops.Layout.paddingWasteDocs(d, nShards = 4).count())
        report("q170_padding_waste_sharded", tPw, nPw)
      }
      // q150: incremental semantic dedup against the persisted IVF
      // corpus state — dir-based on the materialized 10x corpus (the
      // 10x dir has embeddings.parquet; events conversion is not in
      // play). autoK scales cells with N, so the watched ratio is the
      // probe side staying batch-bounded.
      if (wanted("q150")) {
        val sdDir = if (scale == "1x") dir else outFor(scale)
        val (nIs, tIs) = timed {
          val n = graft.ops.Ivf.incrementalSemanticDedup(spark, sdDir)
            .count()
          Dedup.unpersistCaches()
          n
        }
        report("q150_semdedup_incremental", tIs, nIs)
      }
      // q65 shape at the SCALE path: LSH embedding near-dup edges +
      // connected components (the exact all-pairs generator is the
      // deliberately id-bounded oracle tool, not the scale path)
      if (wanted("q65")) {
        val e = embAt(scale)
        val edges = Similarity.lshEmbeddingNearDups(e, 0.2)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val (nEdges, tEdges) = timed(edges.count())
        report("q65_lsh_edges", tEdges, nEdges)
        val (nCc, tCc) = timed(
          Dedup.dedupClusters(edges, "vec_a", "vec_b").count())
        edges.unpersist()
        Dedup.unpersistCaches()
        report("q65_cc_clusters", tCc, nCc)
        // density CONTROL: planes ∝ log₂N (autoPlanes) — the fix the
        // N^2.0 fixed-plane edge fit demands; the edge stream should
        // flatten to ~linear while true near-dups (θ≈0) survive
        val nVecs = e.count()
        val (nEa, tEa) = timed(Similarity.lshEmbeddingNearDups(e, 0.2,
          Similarity.autoPlanes(nVecs)).count())
        report("q65_lsh_edges_auto", tEa, nEa)
      }
    }

    // ------------- standing 100x decade rows (VERDICT r12 #7) -------
    // The two ops whose scaling earned a second growth decade in
    // round 12 — q213 k-core (sublinear claim) and the q238 closure
    // audit (the fixed-plane N^1.73 blowup that forced autoPlanes) —
    // re-measure their full 1x/10x/100x decade EVERY rehearsal run,
    // with fitted per-decade exponents, instead of living as a
    // one-time BASELINE.md table. The 100x corpus rides the same
    // fingerprint-guarded cache as any scale point. Skippable only by
    // explicitly filtering them out (SPARK_GRAFT_REHEARSAL_ONLY).
    val decadeOps = Seq("q213", "q238")
    if (decadeOps.exists(wanted)) {
      val decadeScales = Seq("1x", "10x", "100x")
      decadeScales.foreach(ensureCorpus)
      val walls = scala.collection.mutable.Map[(String, String), Double]()
      for (scale <- decadeScales) {
        val e = embAt(scale)
        if (wanted("q213")) {
          val (nKc, tKc) = timed {
            val pairs = Similarity.lshEmbeddingNearDups(e, 0.25)
              .select(col("vec_a"), col("vec_b"))
            Similarity.kCoreOn(pairs, k = 3, rounds = 16).count()
          }
          walls(("q213_kcore", scale)) = tKc
          println(s"""{"op":"q213_kcore_decade","scale":"$scale",""" +
            s""""sec":${f"$tKc%.2f"},"rows":$nKc}""")
        }
        if (wanted("q238")) {
          val nVecs = e.count()
          val pairs = Similarity.lshEmbeddingNearDups(e, 0.25,
              Similarity.autoPlanes(nVecs))
            .select(col("vec_a"), col("vec_b"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val (fc, tFc) = timed {
              def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
              val deg = pairs.select(col("vec_a").as("v"))
                .unionAll(pairs.select(col("vec_b").as("v")))
                .groupBy(col("v")).agg(count(lit(1)).as("d"))
              deg.agg(sum(dec(col("d")) * dec(col("d"))).as("s"))
                .head().getDecimal(0).longValue()
            }
            println(s"""{"op":"q238_forecast_decade","scale":"$scale",""" +
              s""""sec":${f"$tFc%.2f"},"rows":$fc}""")
            val (nCa, tCa) = timed {
              val n = Similarity.closureAuditOn(pairs).count()
              Dedup.unpersistCaches()
              n
            }
            walls(("q238_closure_audit", scale)) = tCa
            println(s"""{"op":"q238_closure_audit_decade","scale":"$scale",""" +
              s""""sec":${f"$tCa%.2f"},"rows":$nCa}""")
          } finally pairs.unpersist()
        }
      }
      // fitted exponents: wall ~ N^e per decade, e = log10(w_b/w_a)
      for (op <- Seq("q213_kcore", "q238_closure_audit")
           if walls.contains((op, "1x"))) {
        def ex(a: String, b: String): Double =
          math.log10(walls((op, b)) / walls((op, a)))
        println(s"""{"op":"${op}_exponents",""" +
          s""""exp_1x_10x":${f"${ex("1x", "10x")}%.2f"},""" +
          s""""exp_10x_100x":${f"${ex("10x", "100x")}%.2f"}}""")
      }
    }
    spark.stop()
  }
}
