package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.multimodal.Multimodal

/** Round-14 additions: the pre-flight budget gate wired into every
  * pair family (VERDICT r13 #1 — q259's maxExchangeBytes pattern,
  * extended to incremental set-sim, containment, and phash), each
  * with a planted over-budget case and a free-when-unset case. The
  * planted budgets are −1 so the gate MUST fire whatever the corpus
  * (any estimate ≥ 0 exceeds it) — the test can't go vacuous if a
  * testdata regen empties a candidate set. */
class Round14OpsSpec extends SparkSpec {

  test("containment budget gate (q181): fires loudly under budget, free when unset") {
    try {
      spark.conf.set("graft.containment.maxExchangeBytes", "-1")
      val e = intercept[IllegalStateException](
        Dedup.containmentNearDups(spark, sf).head())
      assert(e.getMessage.contains("containmentNearDups pre-flight"))
      assert(e.getMessage.contains("candidate-join slots"))
      spark.conf.set("graft.containment.maxExchangeBytes",
        Long.MaxValue.toString)
      assert(Dedup.containmentNearDups(spark, sf).count() >= 0L)
      Dedup.unpersistCaches()
    } finally {
      spark.conf.unset("graft.containment.maxExchangeBytes")
      Dedup.unpersistCaches()
    }
  }

  test("containment budget gate (q191 incremental): prices both directions, fires loudly") {
    try {
      spark.conf.set("graft.containment.maxExchangeBytes", "-1")
      val e = intercept[IllegalStateException](
        Dedup.containmentIncrementalQuery(spark, sf).head())
      assert(e.getMessage.contains("containmentIncrementalQuery pre-flight"))
    } finally {
      spark.conf.unset("graft.containment.maxExchangeBytes")
      Dedup.unpersistCaches()
    }
  }

  test("incremental set-sim budget gate: fires loudly under budget, free when unset") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") < 300)
    val batch = docs.filter(col("doc_id") >= 300)
    try {
      spark.conf.set("graft.setsim.incremental.maxExchangeBytes", "-1")
      val e = intercept[IllegalStateException](
        Dedup.setSimJoinIncremental(corpus, "doc_id", batch, "doc_id",
          700000L).head())
      assert(e.getMessage.contains("setSimJoinIncremental pre-flight"))
      assert(e.getMessage.contains("candidate-join slots"))
      spark.conf.unset("graft.setsim.incremental.maxExchangeBytes")
      Dedup.unpersistCaches()
      assert(Dedup.setSimJoinIncremental(corpus, "doc_id", batch,
        "doc_id", 700000L).count() >= 0L)
    } finally {
      spark.conf.unset("graft.setsim.incremental.maxExchangeBytes")
      Dedup.unpersistCaches()
    }
  }

  test("phash slot gate: fires on the self-join (q203) and the incremental joins (q204)") {
    val img = Tables.documents(spark, sf)
      .filter(col("doc_id") % 3 === 0).select(col("doc_id"), col("text"))
    try {
      spark.conf.set("graft.phash.maxFanoutSlots", "-1")
      val e1 = intercept[IllegalStateException](
        Multimodal.phashDedup(spark, sf).head())
      assert(e1.getMessage.contains("phashDedup pre-flight"))
      assert(e1.getMessage.contains("band-join candidate slots"))
      Dedup.unpersistCaches()
      val e2 = intercept[IllegalStateException](
        Multimodal.phashIncrementalBands(
          Multimodal.phashBandsCols(img.filter(col("doc_id") < 300)),
          Multimodal.phashBandsCols(img.filter(col("doc_id") >= 300)))
          .head())
      assert(e2.getMessage.contains("phashIncremental pre-flight"))
      spark.conf.unset("graft.phash.maxFanoutSlots")
      Dedup.unpersistCaches()
      assert(Multimodal.phashDedup(spark, sf).count() >= 0L)
    } finally {
      spark.conf.unset("graft.phash.maxFanoutSlots")
      Dedup.unpersistCaches()
    }
  }

  test("q260 incremental preflight: indexed (warm-gate) path == fresh path, bit-identical") {
    try {
      val fresh = Dedup.setSimPreflightIncremental(spark, sf)
        .collect().toSeq
      Dedup.unpersistCaches()
      val indexed = Dedup.setSimPreflightIncrementalIndexed(spark, sf)
        .collect().toSeq
      assert(fresh.nonEmpty && indexed === fresh)
    } finally Dedup.unpersistCaches()
  }

  test("q260i marginal-gate instrument prices the same slots as the oracle-checked q260 forecast") {
    try {
      val want = Dedup.setSimPreflightIncremental(spark, sf)
        .filter(col("t_ppm") === 700000L).head()
        .getAs[Long]("fanout_slots")
      Dedup.unpersistCaches()
      val (warm, gate) = Dedup.incrementalGateInstrument(spark, sf)
      warm()
      assert(gate()._1 === want)
    } finally Dedup.unpersistCaches()
  }

  test("fresh-JVM catalog loss re-ATTACHES the set-sim index (no rebuild); rows and bucketing survive") {
    // isolated root + tag: suites run in parallel and the shared
    // 'docs' index tables must not vanish under a concurrent query
    val root = java.nio.file.Files
      .createTempDirectory("graft_ssi_attach").toString
    def resolve() = Dedup.persistedSetSimIndex(spark, sf, "r14attach",
      (s, d) => Tables.documents(s, d).filter(col("doc_id") < 120),
      indexRoot = root)
    try {
      val idx = resolve()
      val before = idx.ranked.collect()
        .map(r => r.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      Dedup.unpersistCaches()
      def markers = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
          else if (f.getName == "_SUCCESS") Seq(f) else Nil
        walk(new java.io.File(root))
      }
      val mtimes = markers.map(f => f.getPath -> f.lastModified()).toMap
      assert(mtimes.nonEmpty, "no persisted index on disk")
      // simulate the fresh JVM: drop THIS index's tables from the
      // catalog (EXTERNAL tables — the parquet stays)
      val mine = spark.catalog.listTables().collect().map(_.name)
        .filter(t => t.startsWith("ssi_") &&
          new java.io.File(s"$root").listFiles.exists(d =>
            t.endsWith(d.getName)))
      assert(mine.size === 2, s"expected this index's 2 tables: ${
        mine.toSeq}")
      mine.foreach(t => spark.sql(s"DROP TABLE $t"))
      // forget the in-JVM resolve memo too — a real fresh JVM loses
      // both the catalog AND the memo; the probe is where re-attach
      // lives
      graft.Artifacts.evict(root)
      // the next index touch must ATTACH, not rebuild...
      val idx2 = resolve()
      val after = idx2.ranked.collect()
        .map(r => r.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      assert(after === before)
      markers.foreach(f => assert(
        f.lastModified() === mtimes(f.getPath),
        s"index was REBUILT (marker rewritten): ${f.getPath}"))
      // ...and the re-attached table must carry the bucket metadata
      // (a plain createTable would silently void the zero-exchange
      // join plans)
      mine.filter(_.startsWith("ssi_rk_")).foreach { t =>
        val desc = spark.sql(s"DESCRIBE TABLE EXTENDED $t").collect()
          .map(r => s"${r.getString(0)}|${r.getString(1)}").mkString("\n")
        assert(desc.contains("Num Buckets|32") &&
          desc.contains("Bucket Columns|[`g64`]"),
          s"bucket metadata lost on re-attach of $t:\n$desc")
      }
    } finally Dedup.unpersistCaches()
  }

  test("packed containment verify == unpacked, and no exchange carries an ArrayType (forced over-threshold)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val base = rows(Dedup.containmentNearDups(spark, sf))
    Dedup.unpersistCaches()
    // force the over-threshold regime AND disable auto-broadcast so
    // the executed plan has the 100-TB shuffle shape (the
    // Round12OpsSpec q126 discipline, containment edition)
    spark.conf.set("graft.setsim.broadcastBytes", "1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Dedup.containmentNearDups(spark, sf)
      assert(rows(df) == base && base.nonEmpty,
        "packed containment verify diverged from the broadcast path")
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import org.apache.spark.sql.types.ArrayType
      val arrayCols = scala.collection.mutable.ArrayBuffer[String]()
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case s: ShuffleExchangeLike =>
          arrayCols ++= s.output
            .filter(_.dataType.isInstanceOf[ArrayType]).map(_.name)
          s.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      assert(arrayCols.isEmpty,
        s"an exchange carried array columns: $arrayCols")
    } finally {
      spark.conf.unset("graft.setsim.broadcastBytes")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      Dedup.unpersistCaches()
    }
  }

  test("packed incremental verify == unpacked (forced over-threshold); novel-gram batch docs exact; no ArrayType exchange") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") < 300)
    // planted: a batch copy of a corpus doc (guaranteed J = 1.0 pair)
    // and a fully-NOVEL doc (every gram unseen — exercises the 2^44
    // unseen-id path of packedGramSetsAgainst end to end)
    val corpusText = corpus.orderBy(col("doc_id")).select(col("text"))
      .head().getString(0)
    val batch = docs.filter(col("doc_id") >= 300)
      .unionByName(Seq((9001L, corpusText),
        (9002L, "zq" * 40)).toDF("doc_id", "text"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val base = rows(Dedup.setSimJoinIncremental(corpus, "doc_id",
      batch, "doc_id", 700000L))
    Dedup.unpersistCaches()
    assert(base.exists(_._1 == 9001L), "planted duplicate not matched")
    spark.conf.set("graft.setsim.broadcastBytes", "1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // "true" pins the packed plan (the auto rule might legitimately
    // pick unpacked at this scale — the differential needs the path)
    spark.conf.set("graft.setsim.packedVerify", "true")
    try {
      val df = Dedup.setSimJoinIncremental(corpus, "doc_id", batch,
        "doc_id", 700000L)
      assert(rows(df) == base,
        "packed incremental verify diverged from the broadcast path")
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import org.apache.spark.sql.types.ArrayType
      val arrayCols = scala.collection.mutable.ArrayBuffer[String]()
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case sh: ShuffleExchangeLike =>
          arrayCols ++= sh.output
            .filter(_.dataType.isInstanceOf[ArrayType]).map(_.name)
          sh.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      assert(arrayCols.isEmpty,
        s"an exchange carried array columns: $arrayCols")
      // and the AUTO rule picks a LEGAL plan either way: same rows
      Dedup.unpersistCaches()
      spark.conf.unset("graft.setsim.packedVerify")
      assert(rows(Dedup.setSimJoinIncremental(corpus, "doc_id", batch,
        "doc_id", 700000L)) == base,
        "auto regime choice changed the verified pairs")
    } finally {
      spark.conf.unset("graft.setsim.broadcastBytes")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("graft.setsim.packedVerify")
      Dedup.unpersistCaches()
    }
  }

  test("fresh setSimJoin packed regime == unpacked (forced over-threshold), no ArrayType exchange") {
    val docs = Tables.documents(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val base = rows(Dedup.setSimJoin(docs, "doc_id", 700000L))
    Dedup.unpersistCaches()
    assert(base.nonEmpty)
    spark.conf.set("graft.setsim.broadcastBytes", "1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Dedup.setSimJoin(docs, "doc_id", 700000L)
      assert(rows(df) == base,
        "fresh packed verify diverged from the broadcast path")
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import org.apache.spark.sql.types.ArrayType
      val arrayCols = scala.collection.mutable.ArrayBuffer[String]()
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case sh: ShuffleExchangeLike =>
          arrayCols ++= sh.output
            .filter(_.dataType.isInstanceOf[ArrayType]).map(_.name)
          sh.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      walk(df.queryExecution.executedPlan)
      assert(arrayCols.isEmpty,
        s"an exchange carried array columns: $arrayCols")
    } finally {
      spark.conf.unset("graft.setsim.broadcastBytes")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      Dedup.unpersistCaches()
    }
  }

  // ------------------- 32k-merge BPE levers (VERDICT r13 #3)

  /** Deterministic synthetic vocab with heavy pair ties and enough
    * diversity to exercise both trainers well past toy sizes. */
  private def synthCounts(nWords: Int, seed: Int): Array[(String, Long)] = {
    val r = new scala.util.Random(seed)
    val alpha = "abcdef"
    (1 to nWords).map(_ => ((1 to (2 + r.nextInt(10)))
        .map(_ => alpha(r.nextInt(alpha.length))).mkString,
      1L + r.nextInt(5)))
      .groupBy(_._1).map { case (w, xs) => (w, xs.map(_._2).sum) }
      .toArray.sortBy(_._1)
  }

  test("incremental in-memory BPE trainer == naive full-recount trainer, to exhaustion") {
    import graft.ops.BpeIterative
    val counts = synthCounts(400, 14)
    // 10_000 asks for more merges than the vocab supports — both
    // paths must stop at the same exhaustion point with identical
    // (a, b, weight) tables (counts AND tie order)
    val inc = BpeIterative.trainInMemory(spark, counts, 10000, 16)
    val naive = BpeIterative.trainInMemoryNaive(counts, 10000)
    assert(inc.merges.nonEmpty && inc.merges.size > 100,
      s"fixture too small: ${inc.merges.size} merges")
    assert(inc.merges == naive,
      s"first divergence: ${inc.merges.zip(naive)
        .find { case (a, b) => a != b }}")
  }

  test("bpe_encode rank-order kernel: trained tables take it and match the sequential reference; hazard tables fall back") {
    import graft.ops.BpeIterative
    import org.apache.spark.unsafe.types.UTF8String
    val counts = synthCounts(300, 15)
    val merges = BpeIterative.trainInMemory(spark, counts, 10000, 16)
      .merges.map(t => (t._1, t._2)).toArray
    val trained = graft.functions.BpeMergeTable(merges)
    assert(trained.byRankSafe,
      "a trained table must qualify for the rank-order kernel")
    def enc(t: graft.functions.BpeMergeTable, w: String): Seq[String] =
      t.encode(UTF8String.fromString(w)).array
        .map(_.asInstanceOf[UTF8String].toString).toSeq
    val r = new scala.util.Random(16)
    val words = counts.map(_._1).take(120) ++
      (1 to 120).map(_ => (1 to (1 + r.nextInt(12)))
        .map(_ => "abcdefxy"(r.nextInt(8))).mkString)
    words.foreach { w =>
      assert(enc(trained, w) == References.bpeEncode(trained, w),
        s"rank kernel diverged on '$w'")
    }
    // the hazard shape: rule 0's side 'ab' is only CREATED by rule 1
    // (a later rank) — sequential never merges it, a rank-order walk
    // would; byRankSafe must reject and fall back
    val hazard = graft.functions.BpeMergeTable(
      Array(("z", "ab"), ("a", "b")))
    assert(!hazard.byRankSafe)
    assert(enc(hazard, "zab") == Seq("z", "ab"))
    assert(enc(hazard, "zab") == References.bpeEncode(hazard, "zab"))
    // dead-side rule (the Round13OpsSpec fixture shape) also rejects
    assert(!graft.functions.BpeMergeTable(
      Array(("a", "b"), ("q", "zz"))).byRankSafe)
  }

  test("q263 containment preflight: fanout_slots bounds the actual candidate join; est arithmetic consistent") {
    try {
      val pf = Dedup.containmentPreflight(spark, sf).collect()
        .map(r => r.getAs[Long]("t_ppm") -> r).toMap
      assert(pf.keySet === Set(800000L, 900000L, 950000L))
      // the forecast counts EVERY row the prefix-cut × full-container
      // join processes (self matches included), so it upper-bounds
      // the distinct candidate pairs the generator emits
      val actual = Dedup.containmentCandidates(
        Tables.documents(spark, sf), "doc_id", 900000L).count()
      assert(actual <= pf(900000L).getAs[Long]("fanout_slots"))
      // tighter cut ⇒ shorter prefix ⇒ no more slots
      assert(pf(950000L).getAs[Long]("fanout_slots") <=
        pf(900000L).getAs[Long]("fanout_slots"))
      assert(pf(900000L).getAs[Long]("fanout_slots") <=
        pf(800000L).getAs[Long]("fanout_slots"))
      assert(pf(900000L).getAs[Long]("est_exchange_bytes") ===
        pf(900000L).getAs[Long]("fanout_slots") *
          pf(900000L).getAs[Long]("est_row_bytes"))
      assert(pf(900000L).getAs[Long]("n_docs") > 0L)
    } finally Dedup.unpersistCaches()
  }
}
