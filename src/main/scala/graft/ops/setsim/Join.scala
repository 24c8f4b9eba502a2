package graft.ops

import graft.Tables
import graft.functions.GraftFunctions.{pack8, sortedIntersectCount, varintDeltaPack}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The exact set-similarity join family (PPJoin self-join, the
  * incremental batch-vs-corpus probe, the containment direction, the
  * indexed near-dup entries, the threshold sweep) — pure move out of
  * Dedup.scala (VERDICT r14 #6); object Dedup mixes this back in, so
  * every call site and citation (`Dedup.setSimJoin`, ...) is
  * unchanged. */
trait SetSimJoins { this: Dedup.type =>
  // ------------------------------------------- exact set-similarity join

  /** Exact set-similarity join with prefix filtering (the PPJoin
    * family: Xiao/Wang/Lin/Yu, WWW'08) — the EXACT complement of the
    * probabilistic MinHash path ([[nearDupPairs]]): every pair with
    * shingle-set Jaccard ≥ t, no estimate stage, no recall question.
    * Sets are the same distinct 8-char stride-1 shingles as q41, so
    * the two paths answer the same question and differ only in
    * exact-vs-approximate candidate generation.
    *
    * Candidate filters (all from the PPJoin paper, all completeness-
    * preserving, all decided in integer ppm cross-multiplication):
    * - PREFIX: order each doc's shingles by global document frequency
    *   ascending (rarest first; ties by shingle text) and join only
    *   the first n − ⌈t·n⌉ + 1 — two docs with J ≥ t must share a
    *   prefix shingle.
    * - LENGTH: J ≥ t forces t·max(na,nb) ≤ min(na,nb); pairs with
    *   incompatible sizes never join.
    * - POSITIONAL: a prefix match at positions (i, j) can yield at
    *   most min(na−i, nb−j)+1 common shingles, which must reach
    *   α = ⌈t/(1+t)·(na+nb)⌉; for a true pair the FIRST shared prefix
    *   shingle satisfies this, so dropping failing matches is safe.
    *   Measured at sf0.1 (5000 docs, 12.5M pairs): prefix alone 6.5M
    *   candidates, +length 3.0M, +positional 0.82M, true pairs 256 —
    *   on real Zipfian corpora the prefix filter does far more work,
    *   but this worst-casey corpus is exactly what the positional
    *   bound is for.
    *
    * Scale shape: shingle frequency is one vocabulary-sized aggregate;
    * the prefix trim is a doc-keyed window; the candidate join fans
    * out only on prefix shingles with the length/positional bounds
    * applied INSIDE the join before the pair ever materializes. The
    * verify stage is SIZE-CONDITIONAL: below
    * `graft.setsim.broadcastBytes` (default 64 MB, estimated from one
    * O(1) driver aggregate over the persisted signature table) it
    * reads both docs' sorted shingle arrays from a broadcast — fast
    * at test scale; above the threshold it shuffled-HASH joins on
    * doc_id — measured at 10x sf0.1 (8.2M candidates x 50k docs):
    * broadcast 13 s, shuffle_hash 65 s, sort-merge 168 s (sorting the
    * candidate stream dominates SMJ; the hash build side is the
    * per-partition slice of the gram-set table, which SHRINKS as
    * partitions grow) — so a 100 TB corpus never forces a
    * corpus-sized BroadcastExchange onto the driver and never sorts
    * the candidate stream either. The hint pins the shuffled path so
    * AQE can't flip it back to broadcast. No stage touches the n²
    * pair space.
    */
  def setSimJoin(docs: DataFrame, idCol: String, tPpm: Long): DataFrame = {
    latin1Guard(docs)
    // grams feeds freq + ranked + gramSets, and prefix feeds both
    // sides of the candidate self-join: without these persists the
    // scan/explode re-evaluates 3x and the window stack 2x (the q65
    // multi-reference-builder lesson; measured 68 s -> ~16 s at sf0.1)
    val grams = packedGrams(docs, idCol)
    val gramSets = gramSetsOf(grams)
    val sz = sizer(docs.sparkSession, gramSets)
    val freq = grams.groupBy(col("g64")).agg(count(lit(1)).as("df"))
    val prefix = register(
      prefixOf(grams, freq, gramSets, sz, tPpm, leftJoinFreq = false)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val cand = selfCandidatesFromPrefix(prefix, tPpm)
    // over the broadcast threshold the FRESH path switches to the
    // packed verify too (round 14 — previously index-path only; the
    // 100× fresh join shipped the raw arrays and overflowed a 75 GB
    // /tmp with shuffle spill). Candidate-heavy is the self-join norm
    // over the threshold (the r12 224 s evidence), so size-only
    // switching is right here; the packing pass is one linear scan.
    if (sz.gramBytes > sz.limit &&
        packedVerifyConf(docs.sparkSession).getOrElse(true))
      verifyPairsPacked(cand,
        register(packedGramSetsOf(grams, freq)
          .persist(StorageLevel.MEMORY_AND_DISK)), tPpm)
    else
      verifyPairs(cand, gramSets, "doc_a", gramSets, "doc_b", sz, sz,
        tPpm)
  }

  /** Pre-flight diagnostic: the PPJoin candidate pairs (after the
    * prefix/length/positional filters, BEFORE the verify stage) — the
    * quantity whose growth governs set-sim cost at scale, recorded by
    * the 1x-vs-10x rehearsal (ScaleRehearsal / BASELINE.md). */
  def setSimCandidates(docs: DataFrame, idCol: String,
      tPpm: Long): DataFrame = {
    latin1Guard(docs)
    val grams = packedGrams(docs, idCol)
    val gramSets = gramSetsOf(grams)
    val sz = sizer(docs.sparkSession, gramSets)
    selfCandidates(grams, gramSets, sz, tPpm)
  }

  private[ops] def selfCandidates(grams: DataFrame, gramSets: DataFrame,
      sz: SetSizer, tPpm: Long): DataFrame = {
    val freq = grams.groupBy(col("g64")).agg(count(lit(1)).as("df"))
    val prefix = register(
      prefixOf(grams, freq, gramSets, sz, tPpm, leftJoinFreq = false)
        .persist(StorageLevel.MEMORY_AND_DISK))
    selfCandidatesFromPrefix(prefix, tPpm)
  }

  /** The PPJoin candidate self-join over a prefix table (doc_id, g64,
    * pos, n) — shared by the from-scratch path and the persisted-index
    * path (which reads the prefix from parquet). */
  private[ops] def selfCandidatesFromPrefix(prefix: DataFrame,
      tPpm: Long): DataFrame = {
    val a = prefix.select(col("doc_id").as("doc_a"), col("g64"),
      col("pos").as("pa"), col("n").as("na"))
    val b = prefix.select(col("doc_id").as("doc_b"), col("g64"),
      col("pos").as("pb"), col("n").as("nb"))
    a.join(b, Seq("g64"))
      .filter(col("doc_a") < col("doc_b") && ppjoinBounds(tPpm))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Asymmetric exact set-similarity join: which NEW docs have exact
    * shingle Jaccard ≥ t against the EXISTING corpus — the PPJoin form
    * of [[Decontaminate.incrementalNearDups]]'s question (same stride-1
    * 8-gram sets, no banding recall question). The incremental
    * asymmetry: document frequency — the shared total order every
    * PPJoin prefix must agree on — comes from the CORPUS side only
    * (the stable index-side statistic a deployment precomputes);
    * increment grams unseen in the corpus take df = 0 and sort first,
    * which preserves completeness (ANY common total order does — the
    * rarest-first choice is only the pruning heuristic) at a small
    * prefix-selectivity cost on those grams.
    *
    * Scale shape: identical to [[setSimJoin]] — candidates carry ids
    * only, all three PPJoin bounds prune inside the join, the verify
    * stage is size-conditional per side (a huge corpus sort-merges on
    * its id while a small daily increment still broadcasts). */
  def setSimJoinIncremental(corpus: DataFrame, corpusId: String,
      newDocs: DataFrame, newId: String, tPpm: Long): DataFrame = {
    latin1Guard(corpus); latin1Guard(newDocs)
    val gramsC = packedGrams(corpus, corpusId)
    val gramsN = packedGrams(newDocs, newId)
    val setsC = gramSetsOf(gramsC)
    val setsN = gramSetsOf(gramsN)
    val szC = sizer(corpus.sparkSession, setsC)
    val szN = sizer(corpus.sparkSession, setsN)
    val freq = gramsC.groupBy(col("g64")).agg(count(lit(1)).as("df"))
    val prefixC = prefixOf(gramsC, freq, setsC, szC, tPpm, leftJoinFreq = false)
    val prefixN = prefixOf(gramsN, freq, setsN, szN, tPpm, leftJoinFreq = true)
    // over the broadcast threshold the verify can switch to the
    // PACKED payload (round 14 — the q126 regime switch, incremental
    // edition): the corpus side packs against its own dictionary, the
    // batch side against the CORPUS dictionary (packedGramSetsAgainst
    // — unseen grams take non-intersecting high ids), so the varint
    // intersect counts exactly the common grams. UNLIKE the index
    // path (where gv is a sunk build cost), this path packs FRESH per
    // probe — measured at the forced-30× rehearsal point: with ~0
    // candidates the packing pass made packed 2.5× SLOWER (60.8 vs
    // 24.4 s), while q126's 30× candidate exchange made packed 7×
    // faster (224 → 32 s, round 12). So the AUTO rule weighs the
    // forecasted candidate exchange against the packing cost: pack
    // iff slots × unpacked-row-bytes > both sides' gram mass (one
    // linear scan — the packing pre-pass proxy). The slot count is
    // the same Σ cN·cC the q260 forecast prices — "price it, then run
    // it" deciding the PLAN, not just the budget.
    // graft.setsim.packedVerify: unset → auto; "true" → always packed
    // when over threshold (the differential spec's determinism);
    // "false" → never.
    val overThreshold =
      szC.gramBytes > szC.limit || szN.gramBytes > szN.limit
    val conf = corpus.sparkSession.conf
    val gateBudget = conf
      .getOption("graft.setsim.incremental.maxExchangeBytes").map(_.toLong)
    val packedMode = packedVerifyConf(corpus.sparkSession)
    val needSlots = gateBudget.isDefined ||
      (overThreshold && packedMode.isEmpty)
    // the slot pre-pass and the candidate join both read the prefix
    // tables — persist them when both consumers exist (the q65/q146
    // multi-consumer rule; unpersisted prefixes re-ran their whole
    // window builds for the forecast — 133 → 26 s on the 30× row)
    val (prefN, prefC) =
      if (needSlots)
        (register(prefixN.persist(StorageLevel.MEMORY_AND_DISK)),
          register(prefixC.persist(StorageLevel.MEMORY_AND_DISK)))
      else (prefixN, prefixC)
    val slotsOpt =
      if (needSlots) Some(joinSlots(prefN, prefC)) else None
    val unpackedRow = szC.gramBytes / math.max(szC.nDocs, 1L) + 24L
    val packedRegime = overThreshold && (packedMode match {
      case Some(pinned) => pinned
      case None => slotsOpt.exists { case (sl, _) =>
        BigInt(sl) * BigInt(unpackedRow) >
          BigInt(szC.gramBytes) + BigInt(szN.gramBytes) }
    })
    lazy val setsCp = register(packedGramSetsOf(gramsC, freq)
      .persist(StorageLevel.MEMORY_AND_DISK))
    lazy val setsNp = register(packedGramSetsAgainst(gramsN, freq)
      .persist(StorageLevel.MEMORY_AND_DISK))
    // OPT-IN pre-flight budget (the q259 gate, incremental edition —
    // VERDICT r13 #1, priced exactly like the q260 forecast): when
    // graft.setsim.incremental.maxExchangeBytes is set, the batch×
    // corpus candidate-slot count Σ_g cN(g)·cC(g) runs first (two
    // keyed counts + one vocabulary-sized join, no pair materialized)
    // and an over-budget probe fails LOUDLY. Row bytes price what the
    // verify SHIPS in the chosen regime. Unset costs nothing.
    gateBudget.foreach { budget =>
      val (sl, mx) = slotsOpt.get
      val rowBytes =
        if (packedRegime)
          setsCp.agg(sum(length(col("gv")).cast("long"))).head()
            .getLong(0) / math.max(szC.nDocs, 1L) + 24L
        else unpackedRow
      failBudget("setSimJoinIncremental",
        "graft.setsim.incremental.maxExchangeBytes", budget, sl, mx,
        rowBytes)
    }
    val cand = prefN.select(col("doc_id").as("new_doc_id"), col("g64"),
        col("pos").as("pa"), col("n").as("na"))
      .join(prefC.select(col("doc_id").as("corpus_doc_id"), col("g64"),
        col("pos").as("pb"), col("n").as("nb")), Seq("g64"))
      .filter(ppjoinBounds(tPpm))
      .select(col("new_doc_id"), col("corpus_doc_id"))
      .distinct()
    if (packedRegime)
      verifyPairsPackedTwo(cand, setsNp, "new_doc_id",
        setsCp, "corpus_doc_id", tPpm)
    else
      verifyPairs(cand, setsN, "new_doc_id", setsC, "corpus_doc_id",
        szN, szC, tPpm)
  }

  /** Batch-side packed signature table against a CORPUS dictionary:
    * grams the corpus knows take the corpus gid — so the sorted
    * varint intersect counts EXACTLY the common grams of a
    * batch×corpus pair — and unseen grams take 2^44 + a dense rank of
    * their own (deterministic, distributed — the dictIdsOf machinery
    * with df = 0), ids that can never collide with a corpus gid: a
    * 100 TB corpus holds O(10^11) distinct 8-grams, two orders below
    * 2^44, and dictIdsOf ranks are row_numbers bounded by the
    * dictionary size. Unseen ids therefore never intersect anything,
    * which is exact — an unseen gram is by definition in no corpus
    * document. */
  private[ops] def packedGramSetsAgainst(gramsN: DataFrame,
      corpusFreq: DataFrame): DataFrame = {
    val withIds = gramsN
      .join(dictIdsOf(corpusFreq), Seq("g64"), "left")
    val unseen = dictIdsOf(
        withIds.filter(col("gid").isNull).select(col("g64"))
          .distinct().withColumn("df", lit(0L)))
      .select(col("g64"), (col("gid") + lit(1L << 44)).as("ugid"))
    withIds.join(unseen, Seq("g64"), "left")
      .select(col("doc_id"), col("g64"),
        coalesce(col("gid"), col("ugid")).as("id"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("g64"))).as("gs"),
        count(lit(1)).as("n"),
        varintDeltaPack(sort_array(collect_list(col("id")))).as("gv"))
  }

  /** INJECTIVITY PRECONDITION (Latin-1): the 8-bit-per-char packing is
    * injective only while every codepoint is <= 0xFF — a char >=
    * U+0100 overflows its byte slot into the neighbour, so distinct
    * grams could collide and silently inflate the exact intersection
    * counts. Guard: one projection-only scan of the text column that
    * fails fast on non-Latin-1 input (disable via
    * graft.setsim.latin1Check=false only if the corpus is known clean
    * and the extra scan matters). */
  private[ops] def latin1Guard(docs: DataFrame): Unit =
    if (docs.sparkSession.conf.getOption("graft.setsim.latin1Check")
        .forall(_.toBoolean) &&
        !docs.filter(col("text").rlike("[^\\x00-\\xFF]")).isEmpty)
      throw new IllegalArgumentException(
        "setSimJoin: corpus contains characters above U+00FF; the " +
          "packed-long gram encoding is only injective for Latin-1 " +
          "text. Pre-filter or transliterate the corpus first.")

  /** Distinct stride-1 8-grams per doc, each packed INJECTIVELY into
    * one big-endian long (shingles are <= 8 LATIN-1 chars, guarded):
    * exactness preserved, unlike a hash — the frequency join,
    * candidate join, and sorted-set intersect all run on 8-byte
    * integers instead of strings (cheaper compares, smaller shuffles/
    * broadcasts). The long order equals the byte order, so it stays a
    * valid shared total order for the prefix. Persisted + registered. */
  private[ops] def packedGrams(docs: DataFrame, idCol: String): DataFrame = {
    // one native pass (graft.functions.PackedShingles) — bit-identical
    // g64 to the transform/substring explode + 8×(shiftleft+ascii)
    // fold it replaces (PackedShinglesSpec), which allocated a
    // substring per position and ran the lambda interpreted on the
    // hottest corpus scan of the whole set-sim family
    register(docs
      .select(col(idCol).as("doc_id"),
        explode(pack8(col("text"))).as("g64"))
      .persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** Sorted gram array + size per doc (the verify-stage signature
    * table). Persisted + registered. */
  private[ops] def gramSetsOf(grams: DataFrame): DataFrame =
    register(grams.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("g64"))).as("gs"),
        count(lit(1)).as("n"))
      .persist(StorageLevel.MEMORY_AND_DISK))

  /** (doc_id, n) only — for consumers that never touch the gram
    * ARRAYS (the fresh pre-flights: sizing stats + the rankedGrams
    * size join). Building [[gramSetsOf]]'s sorted corpus-wide arrays
    * just to read counts was ~2 s of q260's fresh wall (r15).
    * Persisted + registered. */
  private[ops] def gramCountsOf(grams: DataFrame): DataFrame =
    register(grams.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"))
      .persist(StorageLevel.MEMORY_AND_DISK))

  /** Size-conditional broadcast policy for one signature table: one
    * aggregate over the persisted frame (a driver scalar) estimates
    * the broadcast payload — 8 B per packed gram + ~48 B/row array/
    * field overhead. The lengths-only frame (doc_id, n) clears the
    * threshold far longer than the full gram arrays, but gets the
    * same guard: nothing corpus-sized is ever force-broadcast
    * (VERDICT r4 #1). Over the threshold the hint pins a shuffled
    * HASH join (no AQE flip back to broadcast, no sort of the
    * candidate stream — 2.6x faster than merge at the measured 10x
    * point, BASELINE.md round 5). The 1 GiB default is itself a
    * measured choice, twice: a ~120 MB gram-set broadcast beat the
    * shuffled path 13 s to 65 s (round 5), and at the 30x rehearsal
    * point the threshold CLIFF itself was the story — the 331 MB
    * signature table sat just over the old 256 MB limit and the
    * shuffled verify ran 224 s vs 14 s broadcast (16x, round 11).
    * Executors sized for 100 TB hold 1 GiB broadcasts routinely
    * (Spark's own hard cap is 8 GiB); the guard is against
    * CORPUS-sized (multi-GB) payloads, not dim-table-sized ones. */
  private[ops] final case class SetSizer(nDocs: Long, gramBytes: Long,
      limit: Long) {
    def apply(df: DataFrame, estBytes: Long): DataFrame =
      if (estBytes <= limit) broadcast(df) else df.hint("shuffle_hash")
  }

  private[ops] def sizer(sess: SparkSession, gramSets: DataFrame): SetSizer = {
    val limit = sess.conf.getOption("graft.setsim.broadcastBytes")
      .map(_.toLong).getOrElse(1024L * 1024 * 1024)
    val st = gramSets.agg(count(lit(1)).as("d"), sum(col("n")).as("g")).head()
    val nDocs = st.getLong(0)
    val gramBytes = (if (st.isNullAt(1)) 0L else st.getLong(1)) * 8L +
      nDocs * 48L
    SetSizer(nDocs, gramBytes, limit)
  }

  /** Frequency-ranked prefix of each doc's gram set: order by (df asc,
    * g64 asc), keep pos <= n − ⌈t·n⌉ + 1 (p >= 1 since ⌈t·n⌉ <= n).
    * `leftJoinFreq` admits grams absent from the frequency table with
    * df = 0 (the incremental asymmetry). */
  private[ops] def prefixOf(grams: DataFrame, freq: DataFrame,
      gramSets: DataFrame, sz: SetSizer, tPpm: Long,
      leftJoinFreq: Boolean): DataFrame =
    rankedGrams(grams, freq, gramSets, sz, leftJoinFreq)
      .filter(col("pos") <=
        col("n") - expr(s"($tPpm * n + 999999) DIV 1000000") + 1)

  /** Every gram with its position in the (df asc, g64 asc) shared
    * total order plus the doc's set size — [[prefixOf]] is this with
    * the prefix cutoff applied; the containment join needs the
    * UNFILTERED form for its container side. */
  private[ops] def rankedGrams(grams: DataFrame, freq: DataFrame,
      gramSets: DataFrame, sz: SetSizer,
      leftJoinFreq: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withDf =
      if (leftJoinFreq)
        grams.join(freq, Seq("g64"), "left").na.fill(0L, Seq("df"))
      else grams.join(freq, Seq("g64"))
    withDf
      .join(sz(gramSets.select(col("doc_id"), col("n")), sz.nDocs * 48L),
        Seq("doc_id"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("df").asc, col("g64").asc)))
  }

  /** Exact set-CONTAINMENT join (q181): ordered pairs (a, b) where
    * C(a→b) = |grams(a) ∩ grams(b)| / |grams(a)| ≥ t — the asymmetric
    * near-dup relation Jaccard misses: a quoted paragraph, a
    * boilerplate-wrapped rehost, or a doc embedded whole in a larger
    * one has high containment but LOW Jaccard once the container
    * grows (J ≤ |a|/|b|). Containment-based dedup is what catches
    * "this document is inside that one" (the Bloom-filter dedup of
    * C4 / RealNews-style pipelines works per-span for the same
    * reason; PPJoin's prefix framework extends to containment —
    * Xiao et al.'s PPJoin family, which q126 already cites).
    *
    * Filter ladder (exact, completeness-preserving):
    *  - A-side PREFIX: a doc with containment ≥ t has at most
    *    n_a − ⌈t·n_a⌉ grams outside b, so among its first
    *    n_a − ⌈t·n_a⌉ + 1 grams in the shared (df asc, g64 asc)
    *    order at least one is in b — only the contained-side prefix
    *    prunes; the CONTAINER side must stay full (no symmetric
    *    prefix exists for containment).
    *  - SIZE lower bound: n_b ≥ t·n_a (b must be big enough to hold
    *    the required overlap). No upper bound — that is the point.
    *  - POSITIONAL: at the first shared gram (pa, pb) no earlier
    *    shared gram exists in a's order, so the overlap is at most
    *    1 + min(n_a − pa, n_b − pb); require ≥ ⌈t·n_a⌉ in ppm form.
    * Verify: exact sorted-set intersect; keep ni·1e6 ≥ t·n_a; emit
    * containment_ppm = ni·1e6 div n_a.
    *
    * Scale shape: identical bones to [[setSimJoin]] — the candidate
    * join carries ids only, the rarest-first prefix keeps the fan-out
    * at Σ_prefix df(g), the verify stage reuses the size-conditional
    * broadcast/shuffle_hash rule. The container side's full gram
    * table is the same persisted frame the prefix derives from (one
    * window, two consumers). */
  def containmentJoin(docs: DataFrame, idCol: String,
      tPpm: Long): DataFrame = {
    latin1Guard(docs)
    val grams = packedGrams(docs, idCol)
    val gramSets = gramSetsOf(grams)
    val sz = sizer(docs.sparkSession, gramSets)
    val cand = containmentCandidatesOf(grams, gramSets, sz, tPpm)
    cand
      .join(sz(gramSets.select(col("doc_id").as("doc_a"),
        col("gs").as("gs_a"), col("n").as("na")), sz.gramBytes), Seq("doc_a"))
      .join(sz(gramSets.select(col("doc_id").as("doc_b"),
        col("gs").as("gs_b")), sz.gramBytes), Seq("doc_b"))
      .withColumn("ni", sortedIntersectCount(col("gs_a"), col("gs_b")))
      .filter(col("ni") * lit(1000000L) >= lit(tPpm) * col("na"))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST((ni * 1000000) DIV na AS BIGINT)")
          .as("containment_ppm"))
  }

  /** Incremental exact containment (q191): for an ingest batch
    * against an existing corpus, BOTH containment directions —
    * `new_in_corpus` (the new doc is already inside something we
    * have: drop it) and `corpus_in_new` (the new doc is an EXTENDED
    * version of an existing one: supersede it) — the two decisions a
    * continuously-ingesting dedup pipeline actually takes, which the
    * symmetric q126 Jaccard join can't separate. Gram document
    * frequency — the shared total order — comes from the CORPUS side
    * only (the precomputed index-side statistic, the
    * setSimJoinIncremental asymmetry); increment-only grams take
    * df = 0 and sort first (completeness holds under ANY shared
    * order).
    *
    * Per direction the [[containmentJoin]] ladder applies with the
    * CONTAINED side prefixed and the container side full; each
    * direction verifies against its own na. One ranked-gram table per
    * side feeds both directions (prefix = filter, container = full —
    * two consumers of one persisted frame each).
    *
    * Scale shape: identical bones to [[setSimJoinIncremental]] —
    * id-only candidates, bounds inside the join, size-conditional
    * verify per side. */
  def containmentIncremental(corpus: DataFrame, corpusId: String,
      newDocs: DataFrame, newId: String, tPpm: Long): DataFrame = {
    latin1Guard(corpus); latin1Guard(newDocs)
    val gramsC = packedGrams(corpus, corpusId)
    val gramsN = packedGrams(newDocs, newId)
    val setsC = gramSetsOf(gramsC)
    val setsN = gramSetsOf(gramsN)
    val szC = sizer(corpus.sparkSession, setsC)
    val szN = sizer(corpus.sparkSession, setsN)
    val freq = gramsC.groupBy(col("g64")).agg(count(lit(1)).as("df"))
    val rankedC = register(
      rankedGrams(gramsC, freq, setsC, szC, leftJoinFreq = false)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val rankedN = register(
      rankedGrams(gramsN, freq, setsN, szN, leftJoinFreq = true)
        .persist(StorageLevel.MEMORY_AND_DISK))
    containmentDirections(rankedC, setsC, szC, rankedN, setsN, szN, tPpm)
  }

  /** The contained-side prefix cut, pos ≤ n − ⌈t·n⌉ + 1, over a
    * ranked-gram frame (pos, n). */
  private[ops] def prefixCutFilter(r: DataFrame, tPpm: Long): DataFrame =
    r.filter(col("pos") <=
      col("n") - expr(s"($tPpm * n + 999999) DIV 1000000") + 1)

  /** One containment direction's candidates: prefix-cut contained
    * side vs FULL container side, size + positional bounds inside
    * the join. */
  private[ops] def containCandidates(contained: DataFrame,
      container: DataFrame, tPpm: Long): DataFrame =
    prefixCutFilter(contained, tPpm)
      .select(col("doc_id").as("doc_a"), col("g64"),
        col("pos").as("pa"), col("n").as("na"))
      .join(container.select(col("doc_id").as("doc_b"), col("g64"),
        col("pos").as("pb"), col("n").as("nb")), Seq("g64"))
      .filter(col("nb") * lit(1000000L) >= lit(tPpm) * col("na") &&
        (least(col("na") - col("pa"), col("nb") - col("pb")) + 1) *
          lit(1000000L) >= lit(tPpm) * col("na"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()

  /** One containment direction's exact verify against the contained
    * side's na. */
  private[ops] def containVerify(cand: DataFrame, setsA: DataFrame,
      szA: SetSizer, setsB: DataFrame, szB: SetSizer,
      tPpm: Long): DataFrame = cand
    .join(szA(setsA.select(col("doc_id").as("doc_a"),
      col("gs").as("gs_a"), col("n").as("na")), szA.gramBytes),
      Seq("doc_a"))
    .join(szB(setsB.select(col("doc_id").as("doc_b"),
      col("gs").as("gs_b")), szB.gramBytes), Seq("doc_b"))
    .withColumn("ni", sortedIntersectCount(col("gs_a"), col("gs_b")))
    .filter(col("ni") * lit(1000000L) >= lit(tPpm) * col("na"))
    .select(col("doc_a"), col("doc_b"),
      expr("CAST((ni * 1000000) DIV na AS BIGINT)")
        .as("containment_ppm"))

  /** Both containment directions over ranked corpus/increment gram
    * tables — the shared core of [[containmentIncremental]] and the
    * persisted-index path. */
  private[ops] def containmentDirections(rankedC: DataFrame, setsC: DataFrame,
      szC: SetSizer, rankedN: DataFrame, setsN: DataFrame, szN: SetSizer,
      tPpm: Long): DataFrame = {
    val newInCorpus = containVerify(
        containCandidates(rankedN, rankedC, tPpm),
        setsN, szN, setsC, szC, tPpm)
      .select(col("doc_a").as("new_doc_id"),
        col("doc_b").as("corpus_doc_id"),
        lit("new_in_corpus").as("direction"), col("containment_ppm"))
    val corpusInNew = containVerify(
        containCandidates(rankedC, rankedN, tPpm),
        setsC, szC, setsN, szN, tPpm)
      .select(col("doc_b").as("new_doc_id"),
        col("doc_a").as("corpus_doc_id"),
        lit("corpus_in_new").as("direction"), col("containment_ppm"))
    newInCorpus.unionByName(corpusInNew)
  }

  /** Query (q191): both containment directions of the newest-10%-of-
    * ids ingest batch against the other 90% as the indexed corpus,
    * C ≥ 0.9. The cutoff is DATA-DERIVED ((max_id+1)·9 div 10, the
    * autoK rule, re-derived by the oracle) so the corpus:batch ratio
    * matches the deployment shape at every scale — the round-10 fixed
    * id<400 split made the "increment" 92% of the sf0.1 corpus, which
    * inverted the asymmetry the persisted index exists for. */
  def containmentIncrementalQuery(spark: SparkSession,
      dir: String): DataFrame = {
    // the corpus side rides its own persisted index snapshot (ranked
    // grams + signature table + the df order the ingest ranks by);
    // only the increment's grams are computed fresh — the deployment
    // shape: index once, probe per ingest batch.
    val maxId = Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).head().getLong(0)
    val cutoff = (maxId + 1L) * 9L / 10L
    val idx = persistedSetSimIndex(spark, dir, "docs_p90",
      (s, d) => Tables.documents(s, d).filter(col("doc_id") < cutoff))
    val newDocs = Tables.documents(spark, dir)
      .filter(col("doc_id") >= cutoff)
    latin1Guard(newDocs)
    val szC = idx.sizerOf(spark)
    val gramsN = packedGrams(newDocs, "doc_id")
    val setsN = gramSetsOf(gramsN)
    val szN = sizer(spark, setsN)
    val rankedN = register(
      rankedGrams(gramsN, idx.freq, setsN, szN, leftJoinFreq = true)
        .persist(StorageLevel.MEMORY_AND_DISK))
    // OPT-IN pre-flight budget (VERDICT r13 #1): price BOTH direction
    // joins — Σ_g cNprefix(g)·cCfull(g) + Σ_g cCprefix(g)·cNfull(g) —
    // before either fans out; row bytes from the corpus side (the
    // side that outgrows broadcast first). Unset costs nothing.
    spark.conf.getOption("graft.containment.maxExchangeBytes")
      .map(_.toLong).foreach { budget =>
        val (s1, m1) =
          joinSlots(prefixCutFilter(rankedN, 900000L), idx.ranked)
        val (s2, m2) =
          joinSlots(prefixCutFilter(idx.ranked, 900000L), rankedN)
        failBudget("containmentIncrementalQuery",
          "graft.containment.maxExchangeBytes", budget,
          s1 + s2, math.max(m1, m2),
          idx.gramBytes / math.max(idx.nDocs, 1L) + 24L)
      }
    containmentDirections(idx.ranked, idx.gramSets, szC,
        rankedN, setsN, szN, 900000L)
      .repartition(1)
      .sortWithinPartitions(col("new_doc_id"), col("corpus_doc_id"),
        col("direction"), col("containment_ppm"))
  }

  /** DuckDB oracle for [[containmentIncrementalQuery]] — brute force
    * both directions over the same split, with the 90% cutoff
    * RE-DERIVED from the data (the autoK rule). */
  def containmentIncrementalOracleSql(tPpm: Long = 900000L): String =
    s"""WITH cut AS (
       |  SELECT (MAX(doc_id) + 1) * 9 // 10 AS c FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(list_distinct([substr(text, i, 8)
       |    FOR i IN range(1, greatest(length(text) - 7, 1) + 1)])) AS gram
       |  FROM documents),
       |s AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
       |i AS (
       |  SELECT n.doc_id AS new_doc_id, c.doc_id AS corpus_doc_id,
       |    count(*) AS ni
       |  FROM g n JOIN g c ON n.gram = c.gram CROSS JOIN cut
       |  WHERE n.doc_id >= cut.c AND c.doc_id < cut.c
       |  GROUP BY 1, 2),
       |bo AS (
       |  SELECT new_doc_id, corpus_doc_id, 'new_in_corpus' AS direction,
       |    CAST((ni * 1000000) // sn.n AS BIGINT) AS containment_ppm
       |  FROM i JOIN s sn ON sn.doc_id = new_doc_id
       |  WHERE ni * 1000000 >= $tPpm * sn.n
       |  UNION ALL
       |  SELECT new_doc_id, corpus_doc_id, 'corpus_in_new',
       |    CAST((ni * 1000000) // sc.n AS BIGINT)
       |  FROM i JOIN s sc ON sc.doc_id = corpus_doc_id
       |  WHERE ni * 1000000 >= $tPpm * sc.n)
       |SELECT new_doc_id, corpus_doc_id, direction, containment_ppm
       |FROM bo
       |ORDER BY new_doc_id, corpus_doc_id, direction,
       |  containment_ppm""".stripMargin

  /** Pre-flight diagnostic: containment candidate pairs after the
    * prefix/size/positional ladder, before verify (the q126
    * setSimCandidates twin). */
  def containmentCandidates(docs: DataFrame, idCol: String,
      tPpm: Long): DataFrame = {
    latin1Guard(docs)
    val grams = packedGrams(docs, idCol)
    val gramSets = gramSetsOf(grams)
    containmentCandidatesOf(grams, gramSets,
      sizer(docs.sparkSession, gramSets), tPpm)
  }

  private[ops] def containmentCandidatesOf(grams: DataFrame,
      gramSets: DataFrame, sz: SetSizer, tPpm: Long): DataFrame = {
    val freq = grams.groupBy(col("g64")).agg(count(lit(1)).as("df"))
    val ranked = register(
      rankedGrams(grams, freq, gramSets, sz, leftJoinFreq = false)
        .persist(StorageLevel.MEMORY_AND_DISK))
    containmentCandidatesFromRanked(ranked, tPpm)
  }

  /** Containment candidate self-join over a ranked-gram table
    * (doc_id, g64, pos, n): prefix-cut contained side vs full
    * container side, excluding self-pairs — shared by the
    * from-scratch path and the persisted-index path. */
  private[ops] def containmentCandidatesFromRanked(ranked: DataFrame,
      tPpm: Long): DataFrame = {
    val a = prefixCutFilter(ranked, tPpm)
      .select(col("doc_id").as("doc_a"), col("g64"),
        col("pos").as("pa"), col("n").as("na"))
    val b = ranked.select(col("doc_id").as("doc_b"), col("g64"),
      col("pos").as("pb"), col("n").as("nb"))
    a.join(b, Seq("g64"))
      .filter(col("doc_a") =!= col("doc_b") &&
        col("nb") * lit(1000000L) >= lit(tPpm) * col("na") &&
        (least(col("na") - col("pa"), col("nb") - col("pb")) + 1) *
          lit(1000000L) >= lit(tPpm) * col("na"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Query (q181): contained→container pairs at C ≥ 0.9, ordered by
    * the q126 single-partition-sort convention. t = 0.9 over 0.8 is a
    * MEASURED choice (sf0.1, cold caches): the shorter prefix +
    * tighter positional bound cut candidates 5.6M → 1.4M and the full
    * join 11.2 → 7.7 s while the verified pair set is essentially
    * unchanged (512 → 511 — this corpus's containments are
    * near-total), so the looser threshold bought nothing but
    * candidate volume. */
  def containmentNearDups(spark: SparkSession, dir: String): DataFrame = {
    // same persisted index as q126 — one corpus artifact serves both
    // the Jaccard and the containment family (the ranked table is
    // threshold- and measure-independent).
    val idx = persistedSetSimIndex(spark, dir, "docs", Tables.documents _)
    // OPT-IN pre-flight budget (the q259 gate, containment edition —
    // VERDICT r13 #1): when graft.containment.maxExchangeBytes is
    // set, the q263 forecast runs first and an over-budget candidate
    // join fails LOUDLY with the numbers. Unset costs nothing.
    spark.conf.getOption("graft.containment.maxExchangeBytes")
      .map(_.toLong).foreach { budget =>
        val r = containmentPreflightOn(idx.ranked, idx.freq,
            idx.gramSets, idx.nDocs, idx.gramBytes)
          .filter(col("t_ppm") === 900000L).head()
        failBudget("containmentNearDups",
          "graft.containment.maxExchangeBytes", budget,
          r.getAs[Long]("fanout_slots"), r.getAs[Long]("max_gram_slots"),
          r.getAs[Long]("est_row_bytes"))
      }
    val sz = idx.sizerOf(spark)
    val cand = containmentCandidatesFromRanked(idx.ranked, 900000L)
    // same regime switch as setSimNearDups (round 14): over the
    // broadcast threshold the unpacked verify pays the gram-array
    // exchange between its two joins — both sides ride the index's
    // gv packing, so the packed verify applies verbatim
    val verified =
      if (sz.gramBytes > sz.limit &&
          packedVerifyConf(spark).getOrElse(true))
        containVerifyPacked(cand, idx.gramSets, 900000L)
      else
        containVerify(cand, idx.gramSets, sz, idx.gramSets, sz, 900000L)
    verified
      .repartition(1)
      .sortWithinPartitions(col("doc_a"), col("doc_b"),
        col("containment_ppm"))
  }

  /** DuckDB oracle for [[containmentNearDups]] — the q126 brute-force
    * shape with the asymmetric threshold (doubles as the candidate-
    * completeness gate: any filter bug drops a pair and fails the
    * hash). */
  def containmentOracleSql(tPpm: Long = 900000L): String =
    s"""WITH g AS (
       |  SELECT doc_id, unnest(list_distinct([substr(text, i, 8)
       |    FOR i IN range(1, greatest(length(text) - 7, 1) + 1)])) AS gram
       |  FROM documents),
       |s AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
       |i AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
       |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST((ni * 1000000) // sa.n AS BIGINT) AS containment_ppm
       |FROM i
       |JOIN s sa ON sa.doc_id = doc_a
       |WHERE ni * 1000000 >= $tPpm * sa.n
       |ORDER BY doc_a, doc_b, containment_ppm""".stripMargin

  /** The LENGTH and POSITIONAL PPJoin bounds, expecting columns
    * (pa, na) and (pb, nb) from the two prefixes:
    * length — J ≥ t forces t·max(na,nb) ≤ min(na,nb);
    * positional — (min_rem + 1)·(1+t) >= t·(na+nb), the exact integer
    * form of min_rem + 1 >= ⌈t/(1+t)·(na+nb)⌉. */
  private[ops] def ppjoinBounds(tPpm: Long): Column =
    col("nb") * lit(1000000L) >= lit(tPpm) * col("na") &&
      col("na") * lit(1000000L) >= lit(tPpm) * col("nb") &&
      (least(col("na") - col("pa"), col("nb") - col("pb")) + 1) *
        lit(1000000L + tPpm) >= lit(tPpm) * (col("na") + col("nb"))

  /** Verify stage: fetch both sides' sorted gram arrays (size-
    * conditionally broadcast), exact two-cursor intersect, final
    * Jaccard threshold in integer ppm. */
  private[ops] def verifyPairs(cand: DataFrame, setsA: DataFrame, aCol: String,
      setsB: DataFrame, bCol: String, szA: SetSizer, szB: SetSizer,
      tPpm: Long): DataFrame =
    cand
      .join(szA(setsA.select(col("doc_id").as(aCol),
        col("gs").as("gs_a"), col("n").as("na")), szA.gramBytes), Seq(aCol))
      .join(szB(setsB.select(col("doc_id").as(bCol),
        col("gs").as("gs_b"), col("n").as("nb")), szB.gramBytes), Seq(bCol))
      .withColumn("ni", sortedIntersectCount(col("gs_a"), col("gs_b")))
      .filter(col("ni") * lit(1000000L) >=
        lit(tPpm) * (col("na") + col("nb") - col("ni")))
      .select(col(aCol), col(bCol),
        expr("CAST((ni * 1000000) DIV (na + nb - ni) AS BIGINT)")
          .as("jaccard_ppm"))

  /** Query: every document pair with exact shingle Jaccard ≥ 0.7.
    * The total order comes from a single-partition sort rather than
    * orderBy: a global sort's range-boundary SAMPLING pass re-executes
    * the whole verify subtree (measured 2x, 35 s -> 18 s at sf0.1);
    * the surviving pair set is tiny, so one post-shuffle partition
    * sorts it with the identical deterministic result. */
  def setSimNearDups(spark: SparkSession, dir: String): DataFrame = {
    // rides the persisted corpus index (first call builds it; steady
    // state — including a later JVM on the same corpus — is a parquet
    // probe, the honest per-query cost of a deployed exact-dedup
    // system). Bit-identical to setSimJoin on the same docs.
    val idx = persistedSetSimIndex(spark, dir, "docs", Tables.documents _)
    // OPT-IN pre-flight budget (the q259 gate as a CONTROL, not just
    // a report): when graft.setsim.maxExchangeBytes is set, the
    // forecast runs first (scale-flat — 1.1 s at the 100× rehearsal
    // point) and a verify whose estimated candidate×payload exchange
    // exceeds the budget fails LOUDLY with the numbers, instead of
    // shuffling tens of GB to find out. Unset (the default) costs
    // nothing — tests and the bench never pay the extra aggregate.
    spark.conf.getOption("graft.setsim.maxExchangeBytes")
      .map(_.toLong).foreach { budget =>
      val r = setSimPreflightOn(idx.ranked, idx.gramSets, idx.nDocs,
          idx.gramBytes)
        .filter(col("t_ppm") === 700000L).head()
      val est = r.getAs[Long]("est_exchange_bytes")
      if (est > budget) throw new IllegalStateException(
        s"setSimNearDups pre-flight: estimated verify exchange $est B " +
          s"(${r.getAs[Long]("fanout_slots")} candidate-join slots × " +
          s"${r.getAs[Long]("est_row_bytes")} B/row, top gram " +
          s"${r.getAs[Long]("top_gram_share_ppm")} ppm of slots) " +
          s"exceeds graft.setsim.maxExchangeBytes=$budget — tighten " +
          "the threshold, salt the top gram, or raise the budget")
    }
    val sz = idx.sizerOf(spark)
    val cand = selfCandidatesFromPrefix(
      prefixCutFilter(idx.ranked, 700000L), 700000L)
    // over the broadcast threshold the classic verify pays the
    // gram-array exchange between its two joins (the 30× 224 s
    // cliff); the index path then switches to the PACKED verify
    // (delta-varint gram sets, ~4× smaller exchange, no array on any
    // exchange) unless explicitly disabled
    val verified =
      if (sz.gramBytes > sz.limit &&
          packedVerifyConf(spark).getOrElse(true))
        verifyPairsPacked(cand, idx.gramSets, 700000L)
      else
        verifyPairs(cand, idx.gramSets, "doc_a", idx.gramSets, "doc_b",
          sz, sz, 700000L)
    verified
      .repartition(1)
      .sortWithinPartitions(col("doc_a"), col("doc_b"), col("jaccard_ppm"))
  }

  /** Threshold sweep (q258): the payoff of the THRESHOLD-INDEPENDENT
    * index — one candidate+verify pass at the loosest threshold
    * (t = 0.6) yields the exact verified-pair table with exact
    * Jaccard per pair, and every tighter cut's pair count and mean
    * Jaccard is a FILTER over that table: "how aggressive does dedup
    * get as t moves" answered with zero extra joins. The swept cuts
    * are DATA-DERIVED (the autoK rule — round 11's fixed-constant
    * bug class): the exact nearest-rank quartile VALUES of the
    * verified-pair J distribution, so the rows differentiate at any
    * scale and the oracle re-derives the cuts; nearest-rank values
    * are tie-order-invariant (the Theil–Sen rule). */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val sess = spark
    import sess.implicits._
    import org.apache.spark.sql.expressions.Window
    val idx = persistedSetSimIndex(spark, dir, "docs", Tables.documents _)
    val sz = idx.sizerOf(spark)
    val base = 600000L
    val cand = selfCandidatesFromPrefix(
      prefixCutFilter(idx.ranked, base), base)
    val pairs = register(
      verifyPairs(cand, idx.gramSets, "doc_a", idx.gramSets, "doc_b",
        sz, sz, base).persist(StorageLevel.MEMORY_AND_DISK))
    sweepQuartiles(pairs)
  }

  /** The sweep over an exact verified-pair frame (jaccard_ppm): cuts
    * at nearest-rank quartile values, then per-cut count + integer
    * mean. Tiny input by construction — single-partition windows. */
  private[graft] def sweepQuartiles(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sess = pairs.sparkSession
    import sess.implicits._
    val ranked = pairs.select(col("jaccard_ppm"))
      .withColumn("rn", row_number().over(Window.orderBy(col("jaccard_ppm"))))
      .withColumn("nn", count(lit(1)).over(
        Window.partitionBy().orderBy().rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    // nearest rank k = ceil(pct·n/100):  (k−1)·100 < pct·n ≤ k·100
    val cuts = broadcast(Seq(25L, 50L, 75L).toDF("pct"))
      .join(ranked, col("rn") * 100L >= col("pct") * col("nn") &&
        (col("rn") - 1L) * 100L < col("pct") * col("nn"))
      .select(col("pct"), col("jaccard_ppm").as("t_ppm"))
    broadcast(cuts)
      .join(pairs, col("jaccard_ppm") >= col("t_ppm"))
      .groupBy(col("pct"), col("t_ppm"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("CAST(sum(jaccard_ppm) div count(1) AS BIGINT)")
          .as("mean_j_ppm"))
      .orderBy(col("pct"))
  }

  /** DuckDB oracle for [[thresholdSweep]] — brute-force exact Jaccard
    * via the gram EQUIJOIN (the q126 completeness-gate form: only
    * co-occurring pairs pay an intersection, vs the all-pairs
    * LIST_INTERSECT that ran 12.5M comparisons at sf0.1), quartile
    * cuts re-derived by the same nearest-rank rule. */
  def thresholdSweepOracleSql(): String =
    s"""WITH g AS (
       |  SELECT doc_id, unnest(list_distinct([substr(text, i, 8)
       |    FOR i IN range(1, greatest(length(text) - 7, 1) + 1)])) AS gram
       |  FROM documents),
       |s AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
       |i AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
       |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT (ni * 1000000) // (sa.n + sb.n - ni) AS jppm
       |  FROM i JOIN s sa ON sa.doc_id = doc_a
       |  JOIN s sb ON sb.doc_id = doc_b
       |  WHERE ni * 1000000 >= 600000 * (sa.n + sb.n - ni)),
       |r AS (
       |  SELECT jppm, ROW_NUMBER() OVER (ORDER BY jppm) AS rn,
       |    COUNT(*) OVER () AS nn
       |  FROM j),
       |c AS (
       |  SELECT pct, jppm AS t_ppm
       |  FROM (SELECT UNNEST([25, 50, 75]) AS pct) t JOIN r
       |    ON rn * 100 >= pct * nn AND (rn - 1) * 100 < pct * nn)
       |SELECT CAST(pct AS BIGINT) AS pct, CAST(t_ppm AS BIGINT) AS t_ppm,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |  CAST(SUM(jppm) // COUNT(*) AS BIGINT) AS mean_j_ppm
       |FROM c JOIN j ON j.jppm >= c.t_ppm
       |GROUP BY 1, 2
       |ORDER BY pct""".stripMargin

}
