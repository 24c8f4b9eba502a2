package graft.ops

import graft.Tables
import graft.functions.GraftFunctions.{eqCount, minhash64, pack8S4,
  shingle8, simhash64, simhash64Fnv, sortedIntersectCount, wordGramsArr}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication family for a training-data pipeline (SURVEY.md §2B
  * [ext]): exact (content-hash groupBy), MinHash+LSH, SimHash — all
  * built so that NO stage ever materializes the all-pairs cross
  * product. At 100 TB the only admissible shapes are per-row maps,
  * key-partitioned shuffles on hash buckets, and joins restricted to
  * bucket-collision candidates.
  */
object Dedup extends SetSimJoins with SetSimIndexing
    with SetSimPreflights with SetSimPackedVerify {

  /** Tri-state `graft.setsim.packedVerify`, parsed ONCE for every
    * family (ADVICE r14 — the incremental path matched the exact
    * strings "true"/"false" while the fresh/containment paths used
    * toBoolean, so "TRUE" pinned one plan and silently fell back to
    * auto in the other): Some(true)/Some(false) for any
    * case-insensitive boolean spelling, None = unset, loud error on
    * anything else. */
  private[graft] def packedVerifyConf(spark: SparkSession): Option[Boolean] =
    spark.conf.getOption("graft.setsim.packedVerify")
      .map(_.trim.toLowerCase(java.util.Locale.ROOT))
      .map {
        case "true" => true
        case "false" => false
        case other => throw new IllegalArgumentException(
          s"graft.setsim.packedVerify must be true or false, got '$other'")
      }

  // ---------------------------------------------------------------- exact

  /** Exact dedup via sha2(text) groupBy: one representative (min
    * doc_id) per distinct content. Hash-groupBy shuffles 32-byte
    * digests, not documents. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("content_hash"))
      .orderBy(col("keep_id"))

  /** Incremental exact dedup: rows of the increment whose content is
    * new to the corpus AND first-in-increment for their hash — the
    * daily-ingest complement of [[exactDedup]]. Both sides reduce to
    * 32-byte digests before the anti-join; documents never shuffle. */
  def incrementalExactNew(corpus: DataFrame, increment: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val hashed = increment.withColumn("__h", sha2(col("text"), 256))
    val firstPerHash = hashed
      .groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
    hashed.select(col(idCol), col("__h"))
      .join(firstPerHash, Seq("__h", idCol), "left_semi")
      .join(corpus.select(sha2(col("text"), 256).as("__h")),
        Seq("__h"), "left_anti")
      .select(col(idCol))
  }

  /** Query: docs with id >= 400 are "today's ingest"; keep those whose
    * content appears in neither the id < 400 corpus nor earlier in the
    * ingest itself. */
  def incrementalExactQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    incrementalExactNew(docs.filter(col("doc_id") < 400),
        docs.filter(col("doc_id") >= 400))
      .orderBy(col("doc_id"))
  }

  /** Passage-level dedup (the sub-document half of corpus dedup):
    * split each document into fixed `w`-token chunks, keep only the
    * corpus-wide FIRST occurrence of each chunk text (ordered by
    * (doc_id, chunk index)), and report per-doc survival — the
    * boilerplate-paragraph removal step of a web-corpus pipeline.
    *
    * Scale shape: chunks shuffle by chunk text exactly once (the
    * first-occurrence window); at 100 TB replace the raw chunk string
    * with its sha2 digest as the partition key to cap key width —
    * semantics are unchanged because equality is all that's used. */
  def passageDedup(spark: SparkSession, dir: String, w: Int = 8): DataFrame =
    passageDedupDocs(Tables.documents(spark, dir), w)

  /** `w`-token chunk column (array<string>) — shared by the batch op
    * and its streaming twin so the chunking cannot drift.
    * transform() runs interpreted, but it is amortized over a whole
    * row's chunks; the per-chunk work downstream dominates. */
  private[graft] def chunkCol(w: Int): Column =
    expr(s"""transform(sequence(0, (size(split(text, ' ')) + ${w - 1}) div $w - 1),
             i -> array_join(slice(split(text, ' '), i * $w + 1, $w), ' '))""")

  /** (doc_id, cidx, chunk, __rn) — every chunk ranked by corpus-wide
    * first occurrence of its text, (doc_id, cidx) tie order. The ONE
    * place the first-occurrence rule lives: the batch aggregate, the
    * streaming twin's batch reference, and any future consumer all
    * read `__rn === 1` from here, so the tie rule cannot drift. */
  private def rankedChunks(docs: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // first-occurrence window keyed by the chunk DIGEST, not the text:
    // equality is all that's used, and the measured q119 point (10x
    // corpus, same change) was 17.4 -> 1.7 s — sorting long common-
    // prefix strings inside the window exchange dominates; 32-byte
    // binaries compare fast and distribute uniformly (the documented
    // q75 sha2-key move, now actually taken)
    docs.select(col("doc_id"), posexplode(chunkCol(w)).as(Seq("cidx", "chunk")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(unhex(sha2(col("chunk"), 256)))
          .orderBy(col("doc_id"), col("cidx"))))
  }

  /** The chunk keys the batch op KEEPS: corpus-wide first occurrence
    * of each chunk text — exposed so the streaming twin's admissions
    * can be asserted against it. */
  def passageFirstOccurrences(docs: DataFrame, w: Int = 8): DataFrame =
    rankedChunks(docs, w).filter(col("__rn") === 1)
      .select(col("doc_id"), col("cidx"))

  /** Core passage dedup over any (doc_id, text) frame. */
  def passageDedupDocs(docs: DataFrame, w: Int = 8): DataFrame = {
    rankedChunks(docs, w)
      .withColumn("kept", (col("__rn") === 1).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("kept")).as("n_kept"))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"),
        round(col("n_kept").cast("double") /
          col("n_chunks").cast("double"), 6).as("kept_frac"))
      .orderBy(col("doc_id"), col("n_chunks"), col("n_kept"),
        col("kept_frac"))
  }

  /** Substring-level exact dedup — the overlapping-extent
    * generalization of [[passageDedupDocs]] and the distributed
    * re-expression of suffix-array training-data dedup ("find every
    * duplicated span of ≥ w tokens, wherever it starts"). Fixed-chunk
    * passage dedup misses a duplicate whenever it is SHIFTED relative
    * to chunk boundaries; here a w-token window slides at stride 1,
    * a window is duplicated iff its text occurred strictly earlier in
    * the corpus ((doc_id, start) order), and overlapping-or-adjacent
    * duplicate windows (gap ≤ w) merge into maximal duplicated
    * extents via a per-doc gaps-and-islands pass. Output: one row per
    * doc that contains any duplicated extent — token count, extent
    * count, duplicated-token count, and the integer dup rate in ppm
    * (no float anywhere, the q91+ rule).
    *
    * Scale shape: stride-1 windows cost w× the rows of fixed chunks —
    * the price of catching shifted duplicates. The first-occurrence
    * rank is ONE shuffle keyed by window text (swap the text for its
    * sha2 digest at 100 TB to cap key width — only equality is used,
    * q75's documented move); the extent merge is a keyed window per
    * doc over the pruned DUPLICATE rows only (orders of magnitude
    * smaller than the window set). At corpus scale you would
    * pre-select candidate docs with the winnowed fingerprints (q74)
    * and run the extent pass on survivors. */
  /** (doc_id, n_tokens, s, wtext): every stride-1 `w`-token window of
    * every document — pos IS the 0-based start token index (sequence
    * starts at 0); short docs (n ≤ w) produce the single whole-text
    * window, like windowHashes. Shared by [[substringDedup]] and
    * [[windowNovelty]] so the window rule cannot drift. */
  private def tokenWindows(docs: DataFrame, w: Int): DataFrame = {
    // one native pass (graft.functions.WordGramsArr, minOne = true: a
    // doc under w tokens contributes ONE window, the whole text — the
    // slice-cap semantics of the interpreted array_join lambda it
    // replaces, bit-identically; WordGramsSpec). The ARRAY-input form
    // on purpose: with the text-input form the optimizer inlined the
    // sibling size(split(text)) ABOVE the Generate — the split then
    // ran once per exploded window and text rode every generated row
    // (the round-13 CollapseProject-through-Generate class, measured
    // 2x on q119/q120); toks referenced twice below the Generate
    // keeps the split projection put
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        posexplode(wordGramsArr(col("toks"), w, minOne = true))
          .as(Seq("s", "wtext")))
  }

  def substringDedup(docs: DataFrame, w: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = tokenWindows(docs, w)
    // window keyed by digest, not text — measured 17.4 -> 1.7 s at the
    // 10x rehearsal point (sorting long common-prefix strings in the
    // window exchange dominated; equality/grouping is all that's used)
    val dups = wins.withColumn("__rn", row_number().over(
        Window.partitionBy(unhex(sha2(col("wtext"), 256)))
          .orderBy(col("doc_id"), col("s"))))
      .filter(col("__rn") >= 2)
      .select(col("doc_id"), col("n_tokens"), col("s").cast("long").as("s"))
    // gaps and islands over duplicate starts: a NULL lag (first dup of
    // a doc) takes the otherwise-branch and opens an island
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val extents = dups
      .withColumn("brk",
        when(col("s") - lag(col("s"), 1).over(wDoc) <= w, 0L).otherwise(1L))
      .withColumn("island", sum(col("brk")).over(wDoc))
      .groupBy(col("doc_id"), col("n_tokens"), col("island"))
      .agg(min(col("s")).as("ext_start"), max(col("s")).as("max_s"))
      .select(col("doc_id"), col("n_tokens"), col("ext_start"),
        least(col("max_s") + lit(w - 1), col("n_tokens") - 1).as("ext_end"))
    extents.groupBy(col("doc_id"), col("n_tokens"))
      .agg(count(lit(1)).as("n_extents"),
        sum(col("ext_end") - col("ext_start") + 1).as("n_dup_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_extents"),
        col("n_dup_tokens"),
        expr("n_dup_tokens * 1000000 div n_tokens").as("dup_ppm"))
      .orderBy(col("doc_id"), col("n_tokens"), col("n_extents"),
        col("n_dup_tokens"), col("dup_ppm"))
  }

  /** Query entry (q119): duplicated extents over the documents corpus. */
  def substringDedupQuery(spark: SparkSession, dir: String): DataFrame =
    substringDedup(Tables.documents(spark, dir))

  /** Substring-level corpus novelty — the monitoring mirror of
    * [[substringDedup]]: for each INGEST document, the fraction of
    * its stride-1 `w`-token windows whose text never occurs in the
    * REFERENCE corpus, as an integer ppm rate. This is the "how much
    * of today's crawl is actually new content" gauge a curation
    * pipeline tracks per source/day; whole-doc incremental dedup
    * (q63) can say only new-or-not, this says how much and survives
    * boilerplate wrappers around copied bodies.
    *
    * Scale shape: the corpus side collapses to DISTINCT window texts
    * before the join (set semantics — corpus size stops mattering,
    * only vocabulary does); one shuffle keyed by window text (swap
    * text for its sha2 digest at 100 TB, equality-only as in q75);
    * the per-doc aggregate is map-side-combinable. */
  def windowNovelty(ingest: DataFrame, corpus: DataFrame,
      w: Int = 8): DataFrame = {
    val seen = tokenWindows(corpus, w).select(col("wtext")).distinct()
      .withColumn("__seen", lit(1L))
    tokenWindows(ingest, w)
      .join(seen, Seq("wtext"), "left")
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("__seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        col("n_novel"),
        expr("n_novel * 1000000 div n_windows").as("novelty_ppm"))
      .orderBy(col("doc_id"), col("n_tokens"), col("n_windows"),
        col("n_novel"), col("novelty_ppm"))
  }

  /** Query entry (q120): novelty of the id ≥ 400 ingest against the
    * id < 400 reference corpus (the q63 split). */
  def windowNoveltyQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    windowNovelty(docs.filter(col("doc_id") >= 400),
      docs.filter(col("doc_id") < 400))
  }

  /** Fuzzy entity matching: distinct-name pairs within `maxDist` edit
    * distance, joined only inside a blocking key (first token) — the
    * block-then-verify shape every entity-resolution pipeline uses so
    * the quadratic verify runs per block, never corpus-wide. At 100 TB
    * the blocking key graduates to (first token, length bucket) or a
    * q-gram LSH; the join shape is unchanged. Distinct names (not
    * part ids) keep the pair space the vocabulary's, not the table's. */
  def fuzzyNameMatches(spark: SparkSession, dir: String,
      maxDist: Int = 3): DataFrame = {
    val names = Tables.part(spark, dir).select(col("p_name")).distinct()
      .withColumn("blk", split(col("p_name"), " ").getItem(0))
    val a = names.select(col("p_name").as("name_a"), col("blk"))
    val b = names.select(col("p_name").as("name_b"), col("blk"))
    a.join(b, Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("edit_dist",
        levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("edit_dist") <= maxDist)
      .select(col("name_a"), col("name_b"), col("edit_dist"))
      .orderBy(col("name_a"), col("name_b"), col("edit_dist"))
  }

  // -------------------------------------------------------------- minhash

  val NumHashes = 64
  // 16 bands × 4 rows: pair-collision probability 1-(1-J^4)^16 —
  // ≈99.95% recall at J=0.78 while background pairs (J≈0.04 in this
  // corpus, measured) collide with p≈4e-5, so candidates stay rare.
  // The bucket aggregate carries only ids, so even a skewed bucket
  // costs little; a sharper curve (8×8) was measured to drop planted
  // near-dups at J≈0.79 to ~70% recall.
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands

  /** (id, band_id, band_hash) rows for a signature table — THE banding
    * scheme, shared by same-corpus and incremental candidate
    * generation. Ids only: the band rows must never carry shingle
    * arrays or signatures — there are `Bands` of them per document,
    * and the candidate set can be orders of magnitude larger than the
    * corpus, so every byte on a band or candidate row multiplies the
    * shuffle. */
  def bandedIds(sigs: DataFrame, idAs: String): DataFrame =
    sigs.select(col(sigs.columns.head).as(idAs),
      posexplode(array((0 until Bands).map(b =>
        hash(slice(col("sig"), b * RowsPerBand + 1, RowsPerBand), lit(b))): _*))
        .as(Seq("band_id", "band_hash")))

  /** The estimate filter: the share of matching signature positions
    * (native graft.functions.EqCount) is within the estimator's noise
    * margin of the threshold (σ ≈ sqrt(J(1-J)/64) ≈ 0.06; 0.2 ≈ 3σ). */
  def estimateKeeps(sigA: Column, sigB: Column, minJaccard: Double): Column =
    eqCount(sigA, sigB).cast("double") / NumHashes >= minJaccard - 0.2

  /** Exact Jaccard of two texts' 8-byte shingle sets, rounded to 6
    * places; only the pairs that reach it pay for shingle arrays. */
  def shingleJaccard(textA: Column, textB: Column): Column = {
    val (a, b) = (shingle8(textA), shingle8(textB))
    round(size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double"), 6)
  }

  /** Candidate-pruning by signature estimate ([[estimateKeeps]]): each
    * pair side joins its (id, sig) frame once (the same frame for a
    * self-join; distinct frames for incremental). */
  def estimatePrune(pairs: DataFrame, sigsA: DataFrame, sigsB: DataFrame,
      aCol: String, bCol: String, minJaccard: Double): DataFrame =
    pairs
      .join(sigsA.select(col(sigsA.columns.head).as(aCol),
        col("sig").as("sig_a")), aCol)
      .join(sigsB.select(col(sigsB.columns.head).as(bCol),
        col("sig").as("sig_b")), bCol)
      .where(estimateKeeps(col("sig_a"), col("sig_b"), minJaccard))
      .select(aCol, bCol)

  /** Bucket-size cap: above this, a bucket's pairs switch
    * from all-pairs to star pairing. A corpus with a 10k-copy
    * boilerplate cluster puts all 10k ids into ONE (band, hash) bucket
    * in every band — 10^8 candidate pairs from a single key, the
    * quadratic blowup the banding scheme exists to avoid. */
  val MaxBucket = 256

  /** LSH candidate pairs within one corpus (ids only), as
    * (doc_a, doc_b) with doc_a < doc_b.
    *
    * One aggregate per (band, hash) bucket collects its sorted ids;
    * pairs are then emitted inside each bucket row, so the only
    * exchange before the pair dedup is the aggregate's.
    * `collect_list` skips NULL ids, so a NULL id neither pairs nor
    * counts toward the bucket size. Memory: one row holds a whole
    * bucket's ids, 8 B per member for a bigint id, so a 10k-copy
    * cluster is one 80 KB row per band.
    *
    * Degenerate-bucket guard: buckets with more than `maxBucket`
    * members emit (bucket-min-id, member) star pairs instead of
    * all-pairs — O(n) per bucket instead of O(n²), and every member
    * stays connected to the representative, so dedup-cluster
    * connectivity is preserved (a mega-bucket is near-identical
    * content, which all verifies against the representative; the
    * estimate/exact stages still prune false edges). Salting would
    * only split the bucket while silently LOSING cross-salt pairs —
    * star pairing keeps the linear cost without that recall hole. */
  def lshCandidatePairs(sigs: DataFrame, idCol: String,
      maxBucket: Int = MaxBucket): DataFrame = {
    val (ids, i) = (col("ids"), col("i"))
    bandedIds(sigs.select(col(idCol), col("sig")), "id")
      .groupBy(col("band_id"), col("band_hash"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .where(size(ids) > 1)
      .select(ids, posexplode(ids).as(Seq("i", "doc_a")))
      // a small bucket pairs each member with every later one; a
      // large one pairs only ids[0], its min id, with the rest
      .select(col("doc_a"), explode(slice(ids, i + 2,
        when(size(ids) <= maxBucket || i === 0, size(ids)).otherwise(0)))
        .as("doc_b"))
      // sorted ids: this keeps j > i and drops a repeated id's self pair
      .where(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Materialized (id, sig) signature table: 64 native MinHash values
    * per row (graft.functions.MinHashSignature), the most expensive
    * linear pass over the corpus. The bands and the estimate's two
    * joins read it, so the shingling runs once, not per plan branch
    * (six corpus re-shinglings in the round-1 q41 plan). Only the
    * 512-byte signatures are cached, NOT the shingle arrays (~8 bytes
    * per character, a corpus-sized copy at 100 TB).
    *
    * `track = false` hands the cache lifecycle to the caller: the frame
    * is NOT added to the global registry, so a concurrent
    * `unpersistCaches` can't strip it and repeated per-run builds can't
    * grow the registry; the caller then owns the unpersist. */
  def signatureTable(df: DataFrame, idCol: String,
      track: Boolean = true): DataFrame = {
    val sigs = df.select(col(idCol), minhash64(shingle8(col("text"))).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    if (track) register(sigs) else sigs
  }

  // internal caches pinned by signatureTable/simhashNearDups; a
  // long-lived session releases them with [[unpersistCaches]] once all
  // in-flight results are materialized. The registry is JVM-global, so
  // a run needing its own lifecycle caches its signatures itself and
  // unpersists exactly that frame (Pipeline.curateObserved's
  // exact-dedup cache, read by cachedNearDupPairs).
  private val cached =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  private[graft] def register(df: DataFrame): DataFrame = { cached.add(df); df }

  /** Unpersist every signature cache pinned so far, session-wide. Safe
    * for correctness any time (downstream lineage stays valid; an
    * evicted frame recomputes) but meant for idle points — concurrent
    * dedup runs would lose their caches and pay recomputation. */
  def unpersistCaches(): Unit = {
    var df = cached.poll()
    while (df != null) { df.unpersist(); df = cached.poll() }
  }

  /** Exact shingle-set Jaccard ([[shingleJaccard]]) over candidate id
    * pairs: each pair side joins its documents once, for the text. */
  def exactVerify(pairs: DataFrame, docsA: DataFrame, idA: String, aCol: String,
      docsB: DataFrame, idB: String, bCol: String, minJaccard: Double): DataFrame =
    pairs
      .join(docsA.select(col(idA).as(aCol), col("text").as("text_a")), aCol)
      .join(docsB.select(col(idB).as(bCol), col("text").as("text_b")), bCol)
      .select(col(aCol), col(bCol),
        shingleJaccard(col("text_a"), col("text_b")).as("jaccard"))
      .where(col("jaccard") >= minJaccard)

  /** LSH → estimate → exact verify (the scalable three-stage shape).
    * The signatures run ONCE into an (id, sig) cache ([[signatureTable]])
    * read by the bands and [[estimatePrune]]'s two joins; only the
    * survivors join their texts ([[exactVerify]]); no text is cached.
    *
    * [[cachedNearDupPairs]] runs the same stages over a cache that also
    * holds the text: one join per pair side, for signature and text,
    * then the estimate and verify filters. Bound: those joins carry
    * both texts of every LSH candidate, also of those the estimate
    * prunes, so a shuffled pair-side join moves up to (candidates −
    * estimate survivors) × 2 texts more than the estimate's joins. On
    * the 10x rehearsal corpus the pair sides still broadcast, and time
    * and shuffle bytes matched the separate joins' (SCALE.md). */
  def nearDupPairs(df: DataFrame, idCol: String, minJaccard: Double): DataFrame = {
    val sigs = signatureTable(df, idCol)
    exactVerify(estimatePrune(lshCandidatePairs(sigs, idCol),
        sigs, sigs, "doc_a", "doc_b", minJaccard),
      df, idCol, "doc_a", df, idCol, "doc_b", minJaccard)
  }

  /** [[nearDupPairs]] over a caller-owned cache of (`idCol`, `text`,
    * `sig`) rows: one join per pair side (the bound is stated there). */
  def cachedNearDupPairs(cache: DataFrame, idCol: String,
      minJaccard: Double): DataFrame = {
    def side(s: String) = cache.select(col(idCol).as(s"doc_$s"),
      col("sig").as(s"sig_$s"), col("text").as(s"text_$s"))
    lshCandidatePairs(cache, idCol)
      .join(side("a"), "doc_a").join(side("b"), "doc_b")
      .where(estimateKeeps(col("sig_a"), col("sig_b"), minJaccard))
      .select(col("doc_a"), col("doc_b"),
        shingleJaccard(col("text_a"), col("text_b")).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** MinHash accuracy contract (q192): over the exact near-dup pairs
    * of an id-bounded slice, the NATIVE MinHash estimate must land
    * within `boundPpm` of the exact shingle-set Jaccard — the
    * q57/q176 accuracy-contract pattern applied to the LSH family's
    * estimator. The engine computes est = matching-signature-position
    * count (the statistic [[estimatePrune]] prunes on, kept IN-PATH);
    * the oracle replays the exact Jaccard and TRUE for the flag, so
    * an estimator regression (hash change, signature truncation,
    * permutation bug) flips the boolean and fails the hash at both
    * scales. boundPpm = 250000 ≈ 5.6σ at NumHashes = 64 and J ≈ 0.5 —
    * loose enough that a healthy estimator never trips it over any
    * realistic pair count, tight enough that a broken one (σ-scale
    * errors are the benign failure; bugs are gross) cannot hide.
    *
    * Scale shape: the id-bounded all-pairs slice is the audit-grade
    * yardstick (the q44/embeddingNearDups convention — one side
    * broadcasts); the production estimator path stays q41's
    * LSH → estimate → verify. */
  /** The audit slice is DATA-DEPENDENT: ids < greatest(200,
    * (max_id+1) div 5) — the fixed 200-id slice went vacuous at
    * sf0.1 (its docs hold no J ≥ 0.5 pair there), and a vacuous
    * accuracy audit certifies nothing. The oracle re-derives the cap
    * (the autoK rule); small corpora keep the original 200. Pass
    * `maxId > 0` to pin an explicit slice. */
  def minhashAccuracy(spark: SparkSession, dir: String,
      maxId: Long = 0L, minJPpm: Long = 500000L,
      boundPpm: Long = 250000L): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cap =
      if (maxId > 0) maxId
      else math.max(200L,
        (docs.agg(max(col("doc_id"))).head().getLong(0) + 1L) / 5L)
    minhashAccuracyOn(docs.filter(col("doc_id") < cap),
      minJPpm, boundPpm)
  }

  /** Frame-based core of [[minhashAccuracy]] (needs doc_id, text;
    * caller bounds the slice). */
  def minhashAccuracyOn(docs: DataFrame, minJPpm: Long = 500000L,
      boundPpm: Long = 250000L): DataFrame = {
    // sort once per doc, intersect with the native two-cursor
    // expression: array_intersect/array_union built per-pair hash
    // sets and ran 95 s on the sf0.1 slice; sorted_intersect_count
    // is the same count at a fraction of the per-pair cost (the
    // setsim verify discipline)
    val sh = register(docs.select(col("doc_id"),
        sort_array(shingle8(col("text"))).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val sigs = docs.select(col("doc_id"), minhash64(shingle8(col("text"))).as("sig"))
    // exact PPJoin PREFIX candidates on the HASH total order instead
    // of the all-pairs join: two docs with J >= t must share a hash
    // among each one's first n - ceil(t*n) + 1 SMALLEST hashes (the
    // prefix theorem — complete for any shared total order), so only
    // prefix-colliding pairs pay the intersect. The audit stays an
    // LSH-independent path: the prefix bound is a theorem, not a
    // banding heuristic with recall.
    // ${minJPpm}L: the ppm literal × size() as INT×INT overflows ANSI
    // at ≥ ~4295 distinct shingles (ADVICE r11) — long arithmetic
    val prefix = sh.select(col("doc_id"), explode(expr(
      s"slice(sh, 1, cast(size(sh) -" +
        s" ((${minJPpm}L * cast(size(sh) as bigint) + 999999L)" +
        s" div 1000000) + 1 as int))")).as("h"))
    val cand = prefix.select(col("doc_id").as("doc_a"), col("h"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    // the q126 LENGTH bound + exact intersect on the candidates
    cand
      .join(broadcast(sh.select(col("doc_id").as("doc_a"),
        col("sh").as("sh_a"))), Seq("doc_a"))
      .join(broadcast(sh.select(col("doc_id").as("doc_b"),
        col("sh").as("sh_b"))), Seq("doc_b"))
      .filter(size(col("sh_a")).cast("long") * 1000000L >=
          lit(minJPpm) * size(col("sh_b")).cast("long") &&
        size(col("sh_b")).cast("long") * 1000000L >=
          lit(minJPpm) * size(col("sh_a")).cast("long"))
      .withColumn("ni", sortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("nu",
        size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long")
          - col("ni"))
      .withColumn("jaccard_ppm", expr("ni * 1000000 div nu"))
      .filter(col("jaccard_ppm") >= minJPpm)
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        Seq("doc_a"))
      .join(broadcast(sigs.select(col("doc_id").as("doc_b"),
        col("sig").as("sig_b"))), Seq("doc_b"))
      .withColumn("est_ppm", call_function("div",
        eqCount(col("sig_a"), col("sig_b")) * 1000000L,
        lit(NumHashes.toLong)))
      .select(col("doc_a"), col("doc_b"), col("jaccard_ppm"),
        (abs(col("est_ppm") - col("jaccard_ppm")) <= boundPpm)
          .as("est_within"))
      .orderBy(col("doc_a"), col("doc_b"), col("jaccard_ppm"),
        col("est_within"))
  }

  /** DuckDB oracle for [[minhashAccuracy]] — exact Jaccard over the
    * same slice, TRUE for the contract flag (the q57 convention; the
    * native signature stays in the measured path). */
  def minhashAccuracyOracleSql(minJPpm: Long = 500000L): String =
    s"""WITH cut AS (
       |  SELECT GREATEST(200, (MAX(doc_id) + 1) // 5) AS c
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(list_distinct([substr(text, i, 8)
       |    FOR i IN range(1, greatest(length(text) - 7, 1) + 1)])) AS gram
       |  FROM documents CROSS JOIN cut WHERE doc_id < cut.c),
       |s AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
       |i AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
       |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(ni * 1000000 // (sa.n + sb.n - ni) AS BIGINT)
       |    AS jaccard_ppm,
       |  TRUE AS est_within
       |FROM i
       |JOIN s sa ON sa.doc_id = doc_a
       |JOIN s sb ON sb.doc_id = doc_b
       |WHERE ni * 1000000 >= $minJPpm * (sa.n + sb.n - ni)
       |ORDER BY doc_a, doc_b, jaccard_ppm, est_within""".stripMargin

  /** Query: near-duplicate pairs (J ≥ 0.8) in documents. */
  def minhashNearDups(spark: SparkSession, dir: String): DataFrame =
    nearDupPairs(Tables.documents(spark, dir), "doc_id", 0.8)
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(100)

  // ------------------------------------------------------------- clusters

  /** Dedup clusters from near-dup pairs: distributed connected
    * components by iterative min-label propagation, in the FUSED form
    * (round-4 measurement, see below): edges carry a self-loop per
    * node, so `min(label)` over a node's in-neighbours IS its next
    * label — one keyed join + one aggregate per round, no label-carry
    * join at all. Convergence is the label-sum fixpoint: labels are
    * monotone non-increasing (the self-loop keeps the own label in
    * every min), so an unchanged sum means no label moved; the sum is
    * one tiny aggregate in DECIMAL(38,0) (overflow-safe at any node
    * count), checked every 2nd round — detection one round late costs
    * less than an extra action per round. Labels are checkpointed per
    * round (`localCheckpoint` truncates the doubling lineage; a
    * cluster deployment would use reliable `checkpoint`).
    *
    * Pointer jumping (label := label(label), the extra self-join that
    * compresses paths for O(log diameter) convergence) is DEFERRED to
    * round 9: the star pairs emitted by the degenerate-bucket guard
    * keep real near-dup components at small diameter, where the jump
    * join is pure overhead — measured at sf0.1 (1126 edges, 200
    * nodes, same-session medians): two-join form 1.55 s, fused+jump
    * 1.15 s, fused no-jump check-every-2 0.80 s, all with identical
    * clusters. A pathological long chain still converges in O(log d)
    * rounds once the jump kicks in. Returns (node, cluster_id = min
    * id reachable).
    *
    * ONE persisted frame, ONE generator scan: the pair generator may
    * be expensive (q65's is a cosine join), so both directed edges AND
    * both endpoints' self-loops are exploded out of a single pass over
    * `pairs` — the only persist is the edge table every round reuses;
    * nodes and initial labels re-derive from that cache. A node's
    * self-loop appears once per incident pair (duplicates are
    * harmless under `min(label)` and map-side combine collapses them
    * before the shuffle), which beats a distinct/union pre-pass that
    * would re-evaluate the generator two more times: measured at
    * sf0.1 the drained q65 median fell 3.33 s → 1.64 s. */
  def dedupClusters(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    // pre-partitioning by dst lets every round's join reuse the
    // persisted layout instead of re-shuffling the edge table
    val edges = pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")),
        struct(col(aCol).as("src"), col(aCol).as("dst")),
        struct(col(bCol).as("src"), col(bCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edges.filter(col("src") === col("dst"))
      .select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("node").as("dst"), col("label")), "dst")
        .groupBy(col("src")).agg(min(col("label")).as("label"))
        .select(col("src").as("node"), col("label"))
      val next =
        if (it < 8) nbrMin.localCheckpoint()
        else nbrMin
          .join(nbrMin.select(col("node").as("label"), col("label").as("jump")),
            Seq("label"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("jump"), col("label"))).as("label"))
          .localCheckpoint()
      labels = next
      it += 1
      if (it % 2 == 0 || it >= maxIter) {
        val s = labelSum(labels)
        converged = s.compareTo(prevSum) == 0
        prevSum = s
      }
    }
    edges.unpersist()
    labels.select(col("node"), col("label").as("cluster_id"))
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash over whitespace tokens via the native codegen
    * expression (graft.functions.SimHash64): one JIT'd byte-walk per
    * row instead of nested interpreted aggregate/zip_with lambdas. */
  def simhashExpr(textCol: String): Column = simhash64(col(textCol))

  /** Query entry: deterministic SimHash + 16-bit band split per doc.
    * Uses the native codegen expression (simhash64_fnv): the xxhash64
    * SimHash with the FNV-1a token hash (`rolling_hash`) in place
    * of xxhash64 — the one piece of the SimHash pipeline DuckDB cannot
    * replay — so the SimHash capability is a hash-checked oracle row
    * (q83); the xxhash64 form stays the production default. */
  def simhashDetFingerprints(spark: SparkSession, dir: String): DataFrame = {
    val withSim = Tables.documents(spark, dir)
      .select(col("doc_id"), simhash64Fnv(col("text")).as("simhash_det"))
    (0 until 4).foldLeft(withSim) { (df, c) =>
      df.withColumn(s"band_$c",
        shiftrightunsigned(col("simhash_det"), c * 16).bitwiseAND(lit(0xFFFFL)))
    }.orderBy(col("doc_id"), col("simhash_det"), col("band_0"),
      col("band_1"), col("band_2"), col("band_3"))
  }

  /** Per-document simhash + its 4×16-bit bands (the hamming-LSH keys). */
  def simhashFingerprints(spark: SparkSession, dir: String): DataFrame = {
    val withSim = Tables.documents(spark, dir)
      .select(col("doc_id"), simhashExpr("text").as("simhash"))
    (0 until 4).foldLeft(withSim) { (df, c) =>
      df.withColumn(s"band_$c",
        shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL)))
    }.orderBy(col("doc_id"))
  }

  /** Oracle-checkable face of the SimHash capability (q42): per band
    * position, the value-distribution moments of the DETERMINISTIC
    * sibling's 16-bit bands — count, distinct values, exact integer
    * sum and sum-of-squares, min, max. DuckDB replays the FNV SimHash
    * bit-exactly (HashSql.simhashBandMomentsOracle), so this row is
    * hash-checked where the raw xxhash64 fingerprints (q83's
    * arrangement, [[simhashFingerprints]]) cannot be; the xxhash64
    * production path stays exercised by [[simhashNearDups]] and the
    * AnalyticsSpec native-vs-interpreted differential. sum_sq peaks at
    * 65535² ≈ 4.3e9 per doc — BIGINT-safe to ~2e9 docs/band; past
    * that, lift the two sums to decimal(38,0) (same ppm discipline as
    * joinSkewReport). */
  def simhashBandMoments(spark: SparkSession, dir: String): DataFrame = {
    val withSim = Tables.documents(spark, dir)
      .select(col("doc_id"), simhash64Fnv(col("text")).as("sim"))
    withSim.select(posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("sim"), c * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("bp", "band_val")))
      .groupBy(col("bp").cast("long").as("band_pos"))
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("band_val")).as("n_distinct"),
        sum(col("band_val")).as("sum_val"),
        sum(col("band_val") * col("band_val")).as("sum_sq"),
        min(col("band_val")).as("min_val"),
        max(col("band_val")).as("max_val"))
      .orderBy(col("band_pos"), col("n_docs"), col("n_distinct"),
        col("sum_val"), col("sum_sq"), col("min_val"), col("max_val"))
  }

  /** SimHash near-dups: docs sharing any 16-bit band (pigeonhole: any
    * pair within hamming distance 3 shares at least one of 4 bands),
    * verified by exact popcount. Bucket-join only — no all-pairs. */
  def simhashNearDups(df: DataFrame, idCol: String, maxHamming: Int): DataFrame = {
    // materialize (id, simhash) before the band self-join — otherwise
    // both join branches re-tokenize + re-hash the corpus
    val sims = register(df.select(col(idCol), simhashExpr("text").as("simhash"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val banded = sims.select(col(idCol), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band_id", "band_val")))
    val a = banded.select(col(idCol).as("doc_a"), col("simhash").as("sim_a"),
      col("band_id"), col("band_val"))
    val b = banded.select(col(idCol).as("doc_b"), col("simhash").as("sim_b"),
      col("band_id"), col("band_val"))
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming",
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Cross-source contamination matrix: for every pair of sources,
    * the number of distinct 8-char shingles (stride 4) they share —
    * the domain-overlap diagnostic a curation pipeline reads before
    * deciding what to dedup against what. An 8-char shingle is as
    * compact as a 64-bit hash, so shipping the literal substring is
    * already the scale-correct move AND keeps the op fully
    * oracle-replayable (no hash crosses engines, per the q63 rule).
    *
    * Scale shape: distinct (shingle, source) partial-aggregates
    * map-side; the pair join fans out per shingle only to the sources
    * containing it (≤ |sources|², independent of corpus size). With
    * millions of domains a stop-shingle cap (the LSH degenerate-
    * bucket guard pattern) bounds hot shingles; at this corpus'
    * 16 sources it is unnecessary. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // stride-4 shingles as injectively packed longs (pack8_s4, one
    // native pass — r15): the join/dedup identity is exactly the gram
    // string's for NUL-free Latin-1 text, and no hash crosses engines
    // (a pack is invertible; the q63 rule is satisfied the same way
    // the q126 g64 pipeline satisfies it)
    val sh = graft.Tables.documents(spark, dir)
      .filter(length(col("text")) >= 8)
      .select(col("source"),
        explode(pack8S4(col("text"))).as("g"))
      .distinct()
    val a = sh.select(col("g"), col("source").as("source_a"))
    val b = sh.select(col("g"), col("source").as("source_b"))
    a.join(b, Seq("g"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("source_a"), col("source_b"), col("n_shared"))
  }

  /** Dedup-savings accounting (q156): the token-budget view of exact
    * dedup — per source, how many documents and tokens survive when
    * only the corpus-wide FIRST copy (min doc_id over identical text)
    * of each document is kept. Duplicates die in the source holding
    * the HIGHER id, so a source that mostly re-hosts content shows a
    * high savings_ppm even though the content survives elsewhere —
    * the cross-source twin of the q114 contamination matrix, answering
    * the planning question "how many tokens does each source really
    * contribute".
    *
    * The keep decision groups by sha2(text) in the engine (32-byte
    * shuffle keys, the q33/q75 discipline) while the oracle groups by
    * text itself — digests never cross engines (q63 rule); equality
    * is all that is used, so the verdicts are identical.
    *
    * Scale shape: one digest-keyed window (the same single shuffle as
    * exactDedup) + one map-side-combined source aggregate. */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame =
    dedupSavingsDocs(Tables.documents(spark, dir))

  /** Frame-based core of [[dedupSavings]]. */
  def dedupSavingsDocs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(sha2(col("text"), 256))
    docs
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        (col("doc_id") === min(col("doc_id")).over(w)).as("keep"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_tok")).as("sum_tokens"),
        sum(when(col("keep"), col("n_tok")).otherwise(0L))
          .as("kept_tokens"),
        expr("CAST((sum(n_tok) - sum(CASE WHEN keep THEN n_tok ELSE 0 END))" +
          " * 1000000 div sum(n_tok) AS BIGINT)").as("savings_ppm"))
      .orderBy(col("source"), col("n_docs"), col("n_kept"),
        col("sum_tokens"), col("kept_tokens"), col("savings_ppm"))
  }

  /** DuckDB oracle for [[dedupSavings]]: text-equality grouping. */
  val dedupSavingsOracleSql: String =
    """WITH k AS (
      |  SELECT source, doc_id,
      |    LEN(STRING_SPLIT(text, ' ')) AS n_tok,
      |    doc_id = MIN(doc_id) OVER (PARTITION BY text) AS keep
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
      |  CAST(SUM(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT)
      |    AS kept_tokens,
      |  CAST((SUM(n_tok) - SUM(CASE WHEN keep THEN n_tok ELSE 0 END))
      |    * 1000000 // SUM(n_tok) AS BIGINT) AS savings_ppm
      |FROM k GROUP BY source
      |ORDER BY source, n_docs, n_kept, sum_tokens, kept_tokens,
      |  savings_ppm""".stripMargin

  /** Document boundary-stitch detection (q237): pairs (a, b) where
    * b BEGINS with the last L characters of a (8 ≤ L ≤ 64) — the
    * crawl-pagination artifact (the fetcher repeats the previous
    * page's tail as context) that whole-doc dedup misses and
    * corpus-wide window dedup (q119/q120) only catches at stride-1
    * cost on both sides. Candidates: a's packed SUFFIX 8-gram (the
    * q126 injective long) joined against every 8-gram position in
    * b's first 64 chars; a match at position p claims overlap
    * L = p+7, verified EXACTLY by comparing b's first L chars to a's
    * last L (both carried as 64-char probes — the verify never
    * touches full texts). Periodic boundaries can claim several L —
    * the maximal verified overlap is reported. Suffix keys more
    * frequent than `maxKeyFreq` are suppressed on both sides
    * (generic endings explode quadratically — the LSH MaxBucket
    * rule, replayed by the oracle so the cap is hash-checked).
    *
    * Scale shape: one ≤57-key head explode + one suffix key per doc,
    * an equi-join on longs with per-key frequency caps, 64-char
    * probes as the only payload. */
  def boundaryStitches(spark: SparkSession, dir: String,
      maxKeyFreq: Long = 64L): DataFrame =
    boundaryStitchesDocs(Tables.documents(spark, dir), maxKeyFreq)

  /** Frame-based core of [[boundaryStitches]] (needs doc_id,
    * text). */
  def boundaryStitchesDocs(docs: DataFrame,
      maxKeyFreq: Long = 64L): DataFrame = {
    val f = register(boundaryFeatures(docs)
      .persist(StorageLevel.MEMORY_AND_DISK))
    boundaryStitchesFromFeatures(f, f, maxKeyFreq)
      .orderBy(col("doc_a"), col("doc_b"), col("overlap_len"))
  }

  /** The per-doc state the stitch join needs: first/last 64 chars +
    * length — 128 chars per doc, never the payload (the feature-
    * before-bytes discipline; this is also the streaming twin's
    * corpus state). */
  def boundaryFeatures(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) >= 8)
      .select(col("doc_id"),
        expr("substring(text, 1, 64)").as("head64"),
        expr("substring(text, greatest(length(text) - 63, 1), 64)")
          .as("tail64"),
        length(col("text")).cast("long").as("len"))

  /** Stitch join over two feature frames ([[boundaryFeatures]]):
    * pairs (a ∈ featA, b ∈ featB) where b begins with a's last L
    * chars, 8 ≤ L ≤ 64. No internal persist (streaming callers manage
    * their own micro-batch lifecycles — the round-10 leak rule); the
    * batch form persists the shared feature frame at its call site. */
  def boundaryStitchesFromFeatures(featA: DataFrame, featB: DataFrame,
      maxKeyFreq: Long = 64L): DataFrame = {
    // when the cap base IS the joined side, a window computes the
    // frequency in the same pass — measured 0.8 s cheaper than the
    // aggregate+semi-join form at sf0.1; the Capped variant exists
    // for the incremental op whose cap base is a SUPERSET
    import org.apache.spark.sql.expressions.Window
    def windowCapped(side: DataFrame): DataFrame =
      side.withColumn("kf",
          count(lit(1)).over(Window.partitionBy(col("k8"))))
        .filter(col("kf") <= maxKeyFreq).drop("kf", "k8")
    boundaryStitchTail(
      windowCapped(boundaryASide(featA)),
      windowCapped(boundaryBSide(featB)))
  }

  private def boundaryPack(c: Column): Column =
    (1 to 8).foldLeft(lit(0L)) {
      (acc, i) => shiftleft(acc, 8) + ascii(substring(c, i, 1)).cast("long")
    }

  /** A-side rows (suffix key per doc), uncapped. */
  private def boundaryASide(feat: DataFrame): DataFrame =
    feat.select(col("doc_id").as("doc_a"),
      expr("substring(tail64, length(tail64) - 7, 8)").as("k8"),
      boundaryPack(expr("substring(tail64, length(tail64) - 7, 8)"))
        .as("k"),
      col("tail64"),
      col("len").as("len_a"))

  /** B-side rows (one per head-gram position), uncapped. */
  private def boundaryBSide(feat: DataFrame): DataFrame =
    feat.select(col("doc_id").as("doc_b"),
        col("head64"), col("len").as("len_b"),
        explode(expr("sequence(1, least(greatest(len - 7, 1), 57))"))
          .as("p"))
      .select(col("doc_b"), col("head64"), col("len_b"),
        col("p").cast("long").as("p"),
        expr("substring(head64, cast(p as int), 8)").as("k8"),
        boundaryPack(expr("substring(head64, cast(p as int), 8)"))
          .as("k"))

  /** Stitch join with the frequency caps COUNTED over `capA`/`capB`
    * (the cap base can be a superset of the joined side — the
    * incremental form caps over the full seen corpus while joining
    * only batch rows, so its verdicts equal the full batch run's).
    * The cap keys on the RAW 8-char substring (the oracle's key);
    * the packed long is only the join key — ascii() returns full
    * code points, so the 8-bit packing is injective only over
    * Latin-1, and capping on the packed value would merge distinct
    * non-Latin-1 keys and flip the suppression filter vs the oracle.
    * Packed-key COLLISIONS in the join are harmless: the exact
    * 64-char probe comparison removes false candidates. */
  private def boundaryStitchesCapped(featA: DataFrame, featB: DataFrame,
      maxKeyFreq: Long, capA: DataFrame, capB: DataFrame): DataFrame = {
    def capped(side: DataFrame, capBase: DataFrame): DataFrame =
      side.join(
        capBase.groupBy(col("k8")).agg(count(lit(1)).as("kf"))
          .filter(col("kf") <= maxKeyFreq).select(col("k8")),
        Seq("k8"), "left_semi").drop("k8")
    boundaryStitchTail(
      capped(boundaryASide(featA), boundaryASide(capA)),
      capped(boundaryBSide(featB), boundaryBSide(capB)))
  }

  /** The shared packed-key join + exact 64-char verify + per-pair
    * maximal overlap. */
  private def boundaryStitchTail(aTail: DataFrame,
      bHead: DataFrame): DataFrame =
    aTail.join(bHead, Seq("k"))
      .filter(col("doc_a") =!= col("doc_b"))
      .withColumn("ln", col("p") + 7L)
      .filter(col("ln") <= col("len_a") && col("ln") <= col("len_b") &&
        expr("substring(head64, 1, cast(ln as int)) = " +
          "substring(tail64," +
          " cast(length(tail64) - ln + 1 as int), cast(ln as int))"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("ln")).as("overlap_len"))

  /** Incremental boundary-stitch (q254): the stitch pairs INVOLVING
    * the newest-10%-of-ids ingest batch (the q191 split convention,
    * cutoff re-derived by the oracle), under the frequency caps of
    * the FULL seen corpus — so the result is exactly the full q237
    * run filtered to pairs touching the batch (the reconciliation
    * semantics the streaming twin's state read provides), while the
    * candidate join fans out only on batch-side rows: direction 1
    * joins every seen tail against BATCH heads, direction 2 batch
    * tails against prior heads. Feature frames only (head64/tail64/
    * len per doc); the cap bases are the union side. */
  def boundaryStitchesIncrementalQuery(spark: SparkSession,
      dir: String, maxKeyFreq: Long = 64L): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cutoff =
      (docs.agg(max(col("doc_id"))).head().getLong(0) + 1L) * 9L / 10L
    boundaryStitchesIncrementalOn(docs, col("doc_id") >= cutoff,
      maxKeyFreq)
      .repartition(1)
      .sortWithinPartitions(col("doc_a"), col("doc_b"),
        col("overlap_len"))
  }

  /** Frame-based core of [[boundaryStitchesIncrementalQuery]]:
    * `isBatch` marks the ingest batch inside `docs` (the full seen
    * corpus). Registers a persist of the union feature frame — drain
    * via [[unpersistCaches]]. */
  def boundaryStitchesIncrementalOn(docs: DataFrame, isBatch: Column,
      maxKeyFreq: Long = 64L): DataFrame = {
    val union = register(boundaryFeatures(docs)
      .persist(StorageLevel.MEMORY_AND_DISK))
    val corpusF = union.filter(!isBatch)
    val batchF = union.filter(isBatch)
    boundaryStitchesCapped(union, batchF, maxKeyFreq, union, union)
      .unionByName(
        boundaryStitchesCapped(batchF, corpusF, maxKeyFreq, union, union))
  }

  /** DuckDB oracle for [[boundaryStitchesIncrementalQuery]] — the
    * full q237 brute force, filtered to pairs touching the derived
    * ingest batch. */
  def boundaryStitchesIncrementalOracleSql(
      maxKeyFreq: Long = 64L): String = {
    val full = boundaryStitchesOracleSql(maxKeyFreq)
    // splice the cutoff CTE in and filter the final select
    full
      .replace("WITH d AS (",
        """WITH cut AS (
          |  SELECT (MAX(doc_id) + 1) * 9 // 10 AS c FROM documents),
          |d AS (""".stripMargin)
      .replace("FROM v GROUP BY doc_a, doc_b",
        """FROM v CROSS JOIN cut
          |WHERE doc_a >= cut.c OR doc_b >= cut.c
          |GROUP BY doc_a, doc_b""".stripMargin)
  }

  /** DuckDB oracle for [[boundaryStitches]] — string keys
    * throughout; the Spark side also caps frequency on the raw
    * 8-char substring (packed longs are join keys only), so the
    * suppression filter agrees even off Latin-1. Same position
    * window, caps and exact verify. */
  def boundaryStitchesOracleSql(maxKeyFreq: Long = 64L): String =
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents WHERE LENGTH(text) >= 8),
       |a AS (
       |  SELECT doc_id AS doc_a,
       |    SUBSTR(text, LENGTH(text) - 7, 8) AS k,
       |    SUBSTR(text, GREATEST(LENGTH(text) - 63, 1), 64) AS tail64,
       |    CAST(LENGTH(text) AS BIGINT) AS len_a
       |  FROM d
       |  QUALIFY COUNT(*) OVER (PARTITION BY
       |    SUBSTR(text, LENGTH(text) - 7, 8)) <= $maxKeyFreq),
       |b0 AS (
       |  SELECT doc_id AS doc_b, SUBSTR(text, 1, 64) AS head64,
       |    CAST(LENGTH(text) AS BIGINT) AS len_b,
       |    CAST(UNNEST(range(1,
       |      LEAST(GREATEST(LENGTH(text) - 7, 1), 57) + 1)) AS BIGINT)
       |      AS p
       |  FROM d),
       |b AS (
       |  SELECT doc_b, head64, len_b, p,
       |    SUBSTR(head64, CAST(p AS INTEGER), 8) AS k
       |  FROM b0
       |  QUALIFY COUNT(*) OVER (PARTITION BY k) <= $maxKeyFreq),
       |v AS (
       |  SELECT doc_a, doc_b, p + 7 AS ln
       |  FROM a JOIN b USING (k)
       |  WHERE doc_a != doc_b AND p + 7 <= len_a AND p + 7 <= len_b
       |    AND SUBSTR(head64, 1, CAST(p + 7 AS INTEGER))
       |      = SUBSTR(tail64,
       |          CAST(LENGTH(tail64) - (p + 7) + 1 AS INTEGER),
       |          CAST(p + 7 AS INTEGER)))
       |SELECT doc_a, doc_b, CAST(MAX(ln) AS BIGINT) AS overlap_len
       |FROM v GROUP BY doc_a, doc_b
       |ORDER BY doc_a, doc_b, overlap_len""".stripMargin
}
