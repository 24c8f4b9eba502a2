package graft.ops

import graft.Tables
import graft.functions.GraftFunctions.{rollingHash, shingle8Seq}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout operators: Z-order (Morton) clustering for
  * multi-column scan pruning — the "OPTIMIZE ZORDER BY" capability of
  * lakehouse table formats, expressed as a plain Spark write.
  *
  * Why it matters at 100 TB: a parquet scan prunes files (and row
  * groups) whose min/max stats exclude the predicate. A layout sorted
  * by ONE key gives perfect pruning on that key and none on any other;
  * interleaving the bits of two keys gives every file a narrow range
  * in BOTH dimensions (~sqrt of the per-file fraction each), so
  * point/range predicates on either column skip most files. The write
  * is one range-repartition shuffle on the z-value — the same cost as
  * any clustered write.
  *
  * Everything here is exact integer arithmetic (shift/mask/div), so
  * the z-value computation replays bit-for-bit in DuckDB (q130).
  */
object Layout {

  /** Spread the low 16 bits of `c` to even bit positions (classic
    * magic-number bit spread; inputs stay < 2^32 so ANSI long
    * arithmetic cannot overflow). */
  def spread16(c: Column): Column = {
    val s1 = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(16711935L))
    val s2 = s1.bitwiseOR(shiftleft(s1, 4)).bitwiseAND(lit(252645135L))
    val s3 = s2.bitwiseOR(shiftleft(s2, 2)).bitwiseAND(lit(858993459L))
    s3.bitwiseOR(shiftleft(s3, 1)).bitwiseAND(lit(1431655765L))
  }

  /** Morton-interleave two 16-bit values: a in even bits, b in odd. */
  def interleave16(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** Z-order-cluster `df` on two long columns and write parquet:
    * range-repartition by z-value (one shuffle; range boundaries from
    * Spark's reservoir sample) + sort within partitions so row-group
    * stats are narrow too. Bounds are computed from the data (one
    * 1-row aggregate broadcast). */
  def zorderWrite(df: DataFrame, c1: String, c2: String, out: String,
      numFiles: Int): Unit = {
    val b = df.agg(min(col(c1)).as("mn1"), max(col(c1)).as("mx1"),
      min(col(c2)).as("mn2"), max(col(c2)).as("mx2"))
    val z = df.crossJoin(broadcast(b))
      .withColumn("__z", interleave16(
        expr(s"(($c1 - mn1) * 65536) div (mx1 - mn1 + 1)"),
        expr(s"(($c2 - mn2) * 65536) div (mx2 - mn2 + 1)")))
      .drop("mn1", "mx1", "mn2", "mx2")
    z.repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(out)
  }

  /** Query (q130): the z-cell occupancy map of lineitem's
    * (l_partkey, l_suppkey) space — per 2^18-wide z-cell, the row
    * count and both keys' min/max extents. The narrow per-cell extents
    * ARE the pruning property the clustered write exploits; the map is
    * also what a layout advisor reads to pick the file count.
    * All integer shift/mask/div — replayed exactly in DuckDB. */
  def zorderCells(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
    val b = li.agg(min(col("l_partkey")).as("mn1"),
      max(col("l_partkey")).as("mx1"),
      min(col("l_suppkey")).as("mn2"), max(col("l_suppkey")).as("mx2"))
    li.crossJoin(broadcast(b))
      .withColumn("z", interleave16(
        expr("((l_partkey - mn1) * 65536) div (mx1 - mn1 + 1)"),
        expr("((l_suppkey - mn2) * 65536) div (mx2 - mn2 + 1)")))
      .withColumn("z_cell", expr("z div 262144"))
      .groupBy(col("z_cell"))
      .agg(count(lit(1)).as("n"),
        min(col("l_partkey")).as("p_min"), max(col("l_partkey")).as("p_max"),
        min(col("l_suppkey")).as("s_min"), max(col("l_suppkey")).as("s_max"))
      .orderBy(col("z_cell"), col("n"), col("p_min"), col("p_max"),
        col("s_min"), col("s_max"))
  }

  /** Deterministic training-shard assignment + manifest (q147): each
    * document routes to shard `idBucket(doc_id) mod nShards` — the
    * Sampling hash, so assignment is a pure function of the id
    * (retry/AQE/growth-stable, the property a resumable training run
    * needs from its shards), and shard fill is uniform-ish regardless
    * of id clustering. The manifest row per shard carries the row
    * count, total text bytes, and an exact integer content digest
    * (sum of the FNV token hash folded to a prime residue — bounded,
    * no wraparound), which is what a training loader checks before
    * trusting a shard it resumes from.
    *
    * Scale shape: one narrow projection + one keyed aggregate;
    * [[exportTrainingShards]] adds the partitionBy write (one shuffle
    * on the shard key) and re-derives the manifest from the WRITTEN
    * files, so the spec's round-trip equality is a real end-to-end
    * integrity check, not a replay of the same lineage. */
  def shardManifest(docs: DataFrame, nShards: Int): DataFrame = {
    docs.select(
        pmod(Sampling.idBucket(col("doc_id")), lit(nShards.toLong))
          .as("shard"),
        length(col("text")).cast("long").as("len"),
        pmod(rollingHash(col("text")), lit(Sampling.Prime)).as("h"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_len"),
        sum(col("h")).as("content_digest"))
      .orderBy(col("shard"), col("n_docs"), col("sum_len"),
        col("content_digest"))
  }

  /** Query entry (q147). */
  def shardManifestQuery(spark: SparkSession, dir: String,
      nShards: Int = 16): DataFrame =
    shardManifest(Tables.documents(spark, dir), nShards)

  /** Right-to-be-forgotten propagation audit (q210): given a forget
    * set (here the deterministic ~1% slice doc_id ≡ 0 mod 97,
    * standing in for a DSR deletion list), prove the q147 shard
    * artifact forgets EXACTLY that set and nothing else. Three
    * INDEPENDENT computations per shard — the full manifest, the
    * forget-only manifest, and the post-forget manifest rebuilt from
    * the filtered corpus — then two hash-checked invariants:
    * `residual_forgotten` (forget docs still assigned after the
    * rebuild — must be 0; the q195 zero-residual pattern) and
    * `digest_ok` (digest_before − digest_forgotten = digest_after —
    * holds iff the rebuild moved or mutated NO survivor, which is
    * what per-doc deterministic assignment guarantees and what any
    * renumber-after-delete implementation violates).
    *
    * Scale shape: one projection over the corpus persisted for its
    * three shard-keyed aggregate consumers; output is
    * |shards|-sized. */
  def forgetAudit(spark: SparkSession, dir: String,
      nShards: Int = 16, forgetMod: Int = 97): DataFrame = {
    val assigned = Dedup.register(Tables.documents(spark, dir)
      .select(col("doc_id"),
        pmod(Sampling.idBucket(col("doc_id")), lit(nShards.toLong))
          .as("shard"),
        pmod(rollingHash(col("text")), lit(Sampling.Prime)).as("h"),
        (pmod(col("doc_id"), lit(forgetMod.toLong)) === 0L)
          .as("forget"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    forgetAuditOn(assigned)
  }

  /** Frame-based core of [[forgetAudit]] over an already-persisted
    * (doc_id, shard, h, forget) assignment. */
  def forgetAuditOn(assigned: DataFrame): DataFrame = {
    val before = assigned.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_before"),
        sum(col("h")).as("digest_before"))
    val forgotten = assigned.filter(col("forget"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_forgotten"),
        sum(col("h")).as("digest_forgotten"))
    val after = assigned.filter(!col("forget"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_after"),
        sum(col("h")).as("digest_after"),
        sum(when(col("forget"), 1L).otherwise(0L))
          .as("residual_forgotten"))
    before
      .join(forgotten, Seq("shard"), "left")
      .join(after, Seq("shard"), "left")
      .select(col("shard"), col("n_before"),
        coalesce(col("n_forgotten"), lit(0L)).as("n_forgotten"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("residual_forgotten"), lit(0L))
          .as("residual_forgotten"),
        (col("digest_before") - coalesce(col("digest_forgotten"), lit(0L))
          === coalesce(col("digest_after"), lit(0L))).as("digest_ok"))
      .orderBy(col("shard"), col("n_before"), col("n_forgotten"),
        col("n_after"), col("residual_forgotten"), col("digest_ok"))
  }

  /** DuckDB oracle for [[forgetAudit]] — the q147 assignment CTE with
    * the same forget predicate, three independent rollups. */
  def forgetAuditOracleSql(nShards: Int = 16,
      forgetMod: Int = 97): String = {
    val p = Sampling.Prime
    val fnv = graft.ops.HashSql.fnvSignedSql(
      "[ascii(substr(text, i, 1))::HUGEINT FOR i IN range(1, length(text)+1)]")
    s"""WITH d AS (
       |  SELECT doc_id,
       |    ${Sampling.idBucketSql("doc_id")} % $nShards AS shard,
       |    (($fnv % $p) + $p) % $p AS h,
       |    (doc_id % $forgetMod = 0) AS forget
       |  FROM documents),
       |bf AS (
       |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_before,
       |    CAST(SUM(h) AS BIGINT) AS digest_before
       |  FROM d GROUP BY shard),
       |fo AS (
       |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_forgotten,
       |    CAST(SUM(h) AS BIGINT) AS digest_forgotten
       |  FROM d WHERE forget GROUP BY shard),
       |af AS (
       |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_after,
       |    CAST(SUM(h) AS BIGINT) AS digest_after,
       |    CAST(COALESCE(SUM(CASE WHEN forget THEN 1 ELSE 0 END), 0)
       |      AS BIGINT) AS residual_forgotten
       |  FROM d WHERE NOT forget GROUP BY shard)
       |SELECT CAST(bf.shard AS BIGINT) AS shard, bf.n_before,
       |  COALESCE(fo.n_forgotten, 0) AS n_forgotten,
       |  COALESCE(af.n_after, 0) AS n_after,
       |  COALESCE(af.residual_forgotten, 0) AS residual_forgotten,
       |  (bf.digest_before - COALESCE(fo.digest_forgotten, 0)
       |    = COALESCE(af.digest_after, 0)) AS digest_ok
       |FROM bf
       |LEFT JOIN fo ON fo.shard = bf.shard
       |LEFT JOIN af ON af.shard = bf.shard
       |ORDER BY shard, n_before, n_forgotten, n_after,
       |  residual_forgotten, digest_ok""".stripMargin
  }

  /** Shuffle-mixing audit (q212): does the q153 deterministic
    * training order actually INTERLEAVE sources within each shard?
    * Per shard, the adjacent-pair same-source rate in the shuffled
    * order (ppm) next to the rate a uniform random permutation of
    * the same multiset would give in expectation —
    * Σ nₛ(nₛ−1) / (n(n−1)), exact integers, truncating div. A
    * same_adj_ppm far above expected_ppm means the shuffle key
    * correlates with source (batch-composition bias: consecutive
    * training batches over-sample one domain); at or below it, the
    * order is as mixed as random. The audit every pre-training run
    * should read before trusting a deterministic shuffle.
    *
    * Scale shape: one corpus projection persisted for its two
    * consumers (the per-shard ordered adjacency walk — a RUNNING lag
    * frame, the q180 rule — and the (shard, source) share counts);
    * output is |shards|-sized. */
  def shuffleMixAudit(spark: SparkSession, dir: String,
      nShards: Int = 16): DataFrame = {
    val assigned = Dedup.register(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        pmod(Sampling.idBucket(col("doc_id")), lit(nShards.toLong))
          .as("shard"),
        Sampling.idShuffleKey(col("doc_id")).as("shuffle_key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    shuffleMixAuditOn(assigned)
  }

  /** Frame-based core of [[shuffleMixAudit]] over an
    * already-persisted (doc_id, source, shard, shuffle_key)
    * assignment. */
  def shuffleMixAuditOn(assigned: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("shuffle_key"), col("doc_id"))
    val adj = assigned
      .withColumn("prev_source", lag(col("source"), 1).over(w))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("prev_source") === col("source"), 1L)
          .otherwise(0L)).as("same_adj"))
    val shares = assigned.groupBy(col("shard"), col("source"))
      .agg(count(lit(1)).as("ns"))
      .groupBy(col("shard"))
      .agg(sum(col("ns") * (col("ns") - 1L)).as("same_mass"))
    adj.join(shares, Seq("shard"))
      .select(col("shard"), col("n_docs"), col("same_adj"),
        when(col("n_docs") > 1L,
          expr("same_adj * 1000000 div (n_docs - 1)"))
          .otherwise(0L).as("same_adj_ppm"),
        when(col("n_docs") > 1L,
          expr("same_mass * 1000000 div (n_docs * (n_docs - 1))"))
          .otherwise(0L).as("expected_ppm"))
      .orderBy(col("shard"), col("n_docs"), col("same_adj"),
        col("same_adj_ppm"), col("expected_ppm"))
  }

  /** DuckDB oracle for [[shuffleMixAudit]] — the q153 order CTE
    * (same two mixers), LAG adjacency, exact share mass. Positive
    * operands throughout, so `//` = Spark's `div`. */
  def shuffleMixAuditOracleSql(nShards: Int = 16): String =
    s"""WITH a AS (
       |  SELECT doc_id, source,
       |    CAST(${Sampling.idBucketSql("doc_id")} % $nShards AS BIGINT)
       |      AS shard,
       |    CAST(${Sampling.idShuffleKeySql("doc_id")} AS BIGINT)
       |      AS shuffle_key
       |  FROM documents),
       |adj AS (
       |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(COALESCE(SUM(CASE WHEN prev_source = source
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS same_adj
       |  FROM (SELECT shard, source,
       |          LAG(source) OVER (PARTITION BY shard
       |            ORDER BY shuffle_key, doc_id) AS prev_source
       |        FROM a)
       |  GROUP BY shard),
       |sh AS (
       |  SELECT shard, CAST(SUM(ns * (ns - 1)) AS BIGINT) AS same_mass
       |  FROM (SELECT shard, source, CAST(COUNT(*) AS BIGINT) AS ns
       |        FROM a GROUP BY shard, source)
       |  GROUP BY shard)
       |SELECT adj.shard, adj.n_docs, adj.same_adj,
       |  CAST(CASE WHEN adj.n_docs > 1
       |    THEN same_adj * 1000000 // (adj.n_docs - 1)
       |    ELSE 0 END AS BIGINT) AS same_adj_ppm,
       |  CAST(CASE WHEN adj.n_docs > 1
       |    THEN same_mass * 1000000 // (adj.n_docs * (adj.n_docs - 1))
       |    ELSE 0 END AS BIGINT) AS expected_ppm
       |FROM adj JOIN sh ON sh.shard = adj.shard
       |ORDER BY adj.shard, n_docs, same_adj, same_adj_ppm,
       |  expected_ppm""".stripMargin

  /** DuckDB oracle for [[shardManifestQuery]]: same id mixer
    * (Sampling.idBucketSql), same FNV hash (HashSql replay, converted
    * to the SIGNED value first — Spark's pmod acts on the signed
    * long, and the prime modulus is not a power of two). */
  def shardManifestOracleSql(nShards: Int = 16): String = {
    val p = Sampling.Prime
    val fnv = graft.ops.HashSql.fnvSignedSql(
      "[ascii(substr(text, i, 1))::HUGEINT FOR i IN range(1, length(text)+1)]")
    s"""WITH d AS (
       |  SELECT ${Sampling.idBucketSql("doc_id")} % $nShards AS shard,
       |    length(text) AS len,
       |    (($fnv % $p) + $p) % $p AS h
       |  FROM documents)
       |SELECT CAST(shard AS BIGINT) AS shard,
       |  COUNT(*) AS n_docs, CAST(SUM(len) AS BIGINT) AS sum_len,
       |  CAST(SUM(h) AS BIGINT) AS content_digest
       |FROM d GROUP BY shard
       |ORDER BY shard, n_docs, sum_len, content_digest""".stripMargin
  }

  /** Deterministic training-order shuffle (q153): assign every
    * document a (shard, position) so that reading shards in position
    * order yields a reproducible pseudo-random global order — the
    * training-data shuffle that must NOT be rand() (retries, re-runs
    * and engine ports must see the identical order; same argument as
    * Sampling.idBucket). Shard = the q147 id-mixer bucket (so shuffle
    * shards and export shards agree); within-shard order = a SECOND
    * independent mixer (different multiplier — ordering by the shard
    * mixer itself would correlate position with shard membership),
    * ties broken by doc_id.
    *
    * Scale shape: narrow hash projection + one window rank per shard
    * partition — the per-shard sort is the irreducible cost of
    * producing an explicit order, and shard count scales with the
    * cluster. No global sort: positions are per-shard by design
    * (training readers consume shards independently). */
  def trainingOrder(spark: SparkSession, dir: String,
      nShards: Int = 16): DataFrame =
    trainingOrderDocs(Tables.documents(spark, dir), nShards)

  /** Frame-based core of [[trainingOrder]] (needs doc_id). */
  def trainingOrderDocs(docs: DataFrame, nShards: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("shuffle_key"), col("doc_id"))
    docs
      .select(col("doc_id"),
        pmod(Sampling.idBucket(col("doc_id")), lit(nShards.toLong))
          .as("shard"),
        Sampling.idShuffleKey(col("doc_id")).as("shuffle_key"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("shuffle_key"), col("pos"))
      .orderBy(col("doc_id"), col("shard"), col("shuffle_key"), col("pos"))
  }

  /** DuckDB oracle for [[trainingOrder]]: same two mixers, same
    * window rank. Positive operands, so `%` = Spark's pmod. */
  def trainingOrderOracleSql(nShards: Int = 16): String =
    s"""SELECT doc_id,
       |  CAST(${Sampling.idBucketSql("doc_id")} % $nShards AS BIGINT)
       |    AS shard,
       |  CAST(${Sampling.idShuffleKeySql("doc_id")} AS BIGINT)
       |    AS shuffle_key,
       |  CAST(ROW_NUMBER() OVER (
       |    PARTITION BY ${Sampling.idBucketSql("doc_id")} % $nShards
       |    ORDER BY ${Sampling.idShuffleKeySql("doc_id")}, doc_id)
       |    AS BIGINT) AS pos
       |FROM documents
       |ORDER BY doc_id, shard, shuffle_key, pos""".stripMargin

  /** Sliding-window chunking (q154): split each document into
    * training sequences of `chunk` tokens with stride `stride`
    * (overlap = chunk − stride, the standard context-window
    * chunking for pre-training ingestion; the companion of q79's
    * sequence PACKING — chunking cuts long docs down, packing fills
    * short ones up). Emits (doc_id, start_tok, chunk_idx, n_tok)
    * spans; the materialization step (substring slice per span) is a
    * narrow follow-on projection.
    *
    * Scale shape: one generator per row (sequence over token starts,
    * ~n/stride elements) — no shuffle at all; span arithmetic is
    * codegen'd integer math. */
  def chunkSpans(spark: SparkSession, dir: String, chunk: Int = 128,
      stride: Int = 96): DataFrame =
    chunkSpansDocs(Tables.documents(spark, dir), chunk, stride)

  /** Frame-based core of [[chunkSpans]] (needs doc_id + text). */
  def chunkSpansDocs(docs: DataFrame, chunk: Int = 128,
      stride: Int = 96): DataFrame = {
    require(stride > 0 && chunk >= stride, "need 0 < stride <= chunk")
    docs
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .select(col("doc_id"), col("n"),
        explode(expr(s"sequence(0L, n - 1, ${stride}L)")).as("start_tok"))
      .select(col("doc_id"), col("start_tok"),
        expr(s"CAST(start_tok div $stride AS BIGINT)").as("chunk_idx"),
        least(lit(chunk.toLong), col("n") - col("start_tok")).as("n_tok"))
      .orderBy(col("doc_id"), col("start_tok"), col("chunk_idx"),
        col("n_tok"))
  }

  /** Truncation-waste audit (q197): per source, the token mass LOST
    * when documents are cut at `maxTokens` — q157's padding audit is
    * the short-document cost of a fixed sequence length, this is the
    * long-document cost (the other blade of the same scissors; the
    * two together pick max_seq_len). The q154 sliding-chunk op is
    * the remedy for sources where truncation waste is high — this
    * audit says WHERE. All exact integers.
    *
    * Scale shape: one narrow projection + one map-side-combined
    * source rollup — nothing but the scan grows. */
  def truncationWaste(spark: SparkSession, dir: String,
      maxTokens: Long = 128L): DataFrame =
    truncationWasteDocs(Tables.documents(spark, dir), maxTokens)

  /** Frame-based core of [[truncationWaste]] (needs source, text). */
  def truncationWasteDocs(docs: DataFrame,
      maxTokens: Long = 128L): DataFrame =
    docs
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("total_tokens"),
        sum(least(col("n"), lit(maxTokens))).as("kept_tokens"),
        expr(s"count_if(n > ${maxTokens}L)").as("docs_truncated"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("kept_tokens"), col("docs_truncated"),
        expr("(total_tokens - kept_tokens) * 1000000 div total_tokens")
          .as("waste_ppm"))
      .orderBy(col("source"), col("n_docs"), col("total_tokens"),
        col("kept_tokens"), col("docs_truncated"), col("waste_ppm"))

  /** DuckDB oracle for [[truncationWaste]]. */
  def truncationWasteOracleSql(maxTokens: Long = 128L): String =
    s"""WITH s AS (
       |  SELECT source, LEN(STRING_SPLIT(text, ' ')) AS n
       |  FROM documents)
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(n) AS BIGINT) AS total_tokens,
       |  CAST(SUM(LEAST(n, $maxTokens)) AS BIGINT) AS kept_tokens,
       |  CAST(COUNT(*) FILTER (n > $maxTokens) AS BIGINT)
       |    AS docs_truncated,
       |  CAST((SUM(n) - SUM(LEAST(n, $maxTokens))) * 1000000
       |    // SUM(n) AS BIGINT) AS waste_ppm
       |FROM s GROUP BY source
       |ORDER BY source, n_docs, total_tokens, kept_tokens,
       |  docs_truncated, waste_ppm""".stripMargin

  /** Content-defined chunking audit (q183): split each document at
    * ROLLING-HASH boundaries (a window position whose FNV+splitmix
    * hash has its low 6 bits zero — expected chunk ≈ 64 chars) and
    * report per-source chunk counts, cross-doc duplicated-chunk mass
    * and the max chunk length. The FastCDC/rsync insight, applied to
    * corpus dedup: FIXED chunking (q75 passages) misses every
    * duplicate after a single inserted prefix shifts the grid, while
    * content-defined cuts REALIGN at the next hash boundary — so
    * shared text between shifted copies still lands in identical
    * chunks (Round9OpsSpec plants exactly that). Boundary test uses
    * the splitmix-finalized window hash (the round-3 rule: plain FNV
    * of short windows is non-uniform) with a power-of-two modulus so
    * Spark's signed pmod and the DuckDB replay agree on the low bits.
    * Distinctness is by sha2 digest in the engine and raw chunk text
    * in the oracle (the q63 digests-never-cross-engines rule).
    *
    * Scale shape: linear in corpus bytes (one interpreted HOF pass to
    * find cuts — audit cadence, like q174), one (source, digest)
    * map-side-combined aggregate, a |sources|-row rollup. */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    cdcChunksDocs(Tables.documents(spark, dir))
  }

  /** Frame-based core of [[cdcChunks]] (needs source + text). */
  def cdcChunksDocs(docs: DataFrame): DataFrame = {
    // cuts computed ONCE into their own projection (shingle8_seq is
    // the per-byte cost; referencing it twice would double it)
    val cuts = filter(transform(shingle8Seq(col("text")),
      (h, i) => when(i > 0 && pmod(h, lit(64L)) === 0L, i + 1)),
      x => x.isNotNull)
    val chunks = expr(
      """zip_with(concat(array(1), cuts),
        |  concat(cuts, array(length(text) + 1)),
        |  (s, e) -> substring(text, s, e - s))""".stripMargin)
    docs
      .select(col("source"), col("text"), cuts.as("cuts"))
      .select(col("source"), explode(chunks).as("chunk"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        count_distinct(sha2(col("chunk"), 256)).as("n_distinct"),
        max(length(col("chunk"))).cast("long").as("max_chunk_len"))
      .select(col("source"), col("n_chunks"), col("n_distinct"),
        expr("(n_chunks - n_distinct) * 1000000 div n_chunks")
          .as("dup_chunk_ppm"),
        col("max_chunk_len"))
      .orderBy(col("source"), col("n_chunks"), col("n_distinct"),
        col("dup_chunk_ppm"), col("max_chunk_len"))
  }

  /** DuckDB oracle for [[cdcChunks]] — the HashSql window-hash replay,
    * the same power-of-two boundary test on the signed hash
    * (((h % 64) + 64) % 64 = low 6 bits = Spark pmod), raw-text
    * distinctness. */
  def cdcChunksOracleSql: String =
    s"""WITH ${HashSql.windowHashCtes},
       |cuts AS (
       |  SELECT w.doc_id, w.source, d.text, length(d.text) AS nn,
       |    list_filter(list_transform(range(1, len(wh) + 1),
       |      i -> CASE WHEN i > 1 AND ((wh[i] % 64) + 64) % 64 = 0
       |           THEN i END), x -> x IS NOT NULL) AS cs
       |  FROM whs w JOIN documents d ON d.doc_id = w.doc_id),
       |ck AS (
       |  SELECT source, unnest(list_transform(
       |    range(1, len(cs) + 2),
       |    j -> substr(text,
       |      CASE WHEN j = 1 THEN 1 ELSE cs[j - 1] END,
       |      (CASE WHEN j = len(cs) + 1 THEN nn + 1 ELSE cs[j] END)
       |        - (CASE WHEN j = 1 THEN 1 ELSE cs[j - 1] END))))
       |    AS chunk
       |  FROM cuts)
       |SELECT source, COUNT(*) AS n_chunks,
       |  CAST(COUNT(DISTINCT chunk) AS BIGINT) AS n_distinct,
       |  CAST((COUNT(*) - COUNT(DISTINCT chunk)) * 1000000 // COUNT(*)
       |    AS BIGINT) AS dup_chunk_ppm,
       |  CAST(MAX(LENGTH(chunk)) AS BIGINT) AS max_chunk_len
       |FROM ck
       |GROUP BY source
       |ORDER BY source, n_chunks, n_distinct, dup_chunk_ppm,
       |  max_chunk_len""".stripMargin

  /** DuckDB oracle for [[chunkSpans]]: half-open range(0, n, stride)
    * equals Spark's inclusive sequence(0, n-1, stride) for n ≥ 1. */
  def chunkSpansOracleSql(chunk: Int = 128, stride: Int = 96): String =
    s"""WITH d AS (
       |  SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, n, UNNEST(range(0, n, $stride)) AS start_tok
       |  FROM d)
       |SELECT doc_id, CAST(start_tok AS BIGINT) AS start_tok,
       |  CAST(start_tok // $stride AS BIGINT) AS chunk_idx,
       |  CAST(LEAST($chunk, n - start_tok) AS BIGINT) AS n_tok
       |FROM s
       |ORDER BY doc_id, start_tok, chunk_idx, n_tok""".stripMargin

  /** Padding-waste packing audit (q157): batch the q154 chunk spans
    * greedily in length-sorted order (the standard length-bucketing
    * trick) into fixed batches of `batchSize`, and report each
    * batch's padding waste — the fraction of the padded token grid
    * (n_seqs × batch_max_len) that is padding. The training-efficiency
    * pre-flight: high waste means the chunk/stride/batch knobs burn
    * accelerator time on pad tokens. Integer-exact (counts and one
    * ppm division), so DuckDB replays the batching bit-for-bit.
    *
    * Scale shape: the length-sort rank is parameterized by the q153
    * SHARD KEY (round-8, the autoK precedent — the scale swap is
    * code, not scaladoc): `nShards = 0` (the audit/test default)
    * ranks globally in one window; `nShards > 0` partitions the rank
    * by `pmod(idBucket(doc_id), nShards)` — the SAME mixer shard the
    * training-order shuffle (q153) and shard export (q147) use, so
    * batches are formed within the shards training readers actually
    * consume and no window ever sees more than 1/nShards of the span
    * stream. The oracle takes the same parameter and replays either
    * branch (q157 checks the global form, q170 the sharded form).
    * Batch aggregation is keyed by (shard, batch_idx). */
  def paddingWaste(spark: SparkSession, dir: String, chunk: Int = 128,
      stride: Int = 96, batchSize: Int = 32, nShards: Int = 0): DataFrame =
    paddingWasteDocs(Tables.documents(spark, dir), chunk, stride,
      batchSize, nShards)

  /** Frame-based core of [[paddingWaste]]. */
  def paddingWasteDocs(docs: DataFrame, chunk: Int = 128,
      stride: Int = 96, batchSize: Int = 32, nShards: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = chunkSpansDocs(docs, chunk, stride)
    val shardCol =
      if (nShards > 0) pmod(Sampling.idBucket(col("doc_id")), lit(nShards.toLong))
      else lit(0L)
    val r = row_number().over(Window.partitionBy(col("shard"))
      .orderBy(col("n_tok").desc, col("doc_id"), col("start_tok")))
    spans
      .withColumn("shard", shardCol)
      .withColumn("rk", r.cast("long"))
      .withColumn("batch_idx", expr(s"(rk - 1L) div ${batchSize}L"))
      .groupBy(col("shard"), col("batch_idx"))
      .agg(count(lit(1)).as("n_seqs"), max(col("n_tok")).as("max_tok"),
        sum(col("n_tok")).as("sum_tok"))
      .select(col("shard"), col("batch_idx"), col("n_seqs"),
        col("max_tok"), col("sum_tok"),
        expr("CAST((n_seqs * max_tok - sum_tok) * 1000000" +
          " div (n_seqs * max_tok) AS BIGINT)").as("waste_ppm"))
      .orderBy(col("shard"), col("batch_idx"), col("n_seqs"),
        col("max_tok"), col("sum_tok"), col("waste_ppm"))
  }

  /** DuckDB oracle for [[paddingWaste]]: same span construction
    * ([[chunkSpansOracleSql]]'s CTEs), same (possibly sharded) rank,
    * same ppm — `nShards` replays the engine's parameter the way
    * kSql replays autoK. */
  def paddingWasteOracleSql(chunk: Int = 128, stride: Int = 96,
      batchSize: Int = 32, nShards: Int = 0): String = {
    val shardSql =
      if (nShards > 0) s"${Sampling.idBucketSql("doc_id")} % $nShards"
      else "0"
    s"""WITH d AS (
       |  SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, n, UNNEST(range(0, n, $stride)) AS start_tok
       |  FROM d),
       |sp AS (
       |  SELECT doc_id, start_tok, $shardSql AS shard,
       |    LEAST($chunk, n - start_tok) AS n_tok
       |  FROM s),
       |rk AS (
       |  SELECT shard, n_tok,
       |    (ROW_NUMBER() OVER (PARTITION BY shard
       |        ORDER BY n_tok DESC, doc_id, start_tok)
       |      - 1) // $batchSize AS batch_idx
       |  FROM sp)
       |SELECT CAST(shard AS BIGINT) AS shard,
       |  CAST(batch_idx AS BIGINT) AS batch_idx,
       |  COUNT(*) AS n_seqs, CAST(MAX(n_tok) AS BIGINT) AS max_tok,
       |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
       |  CAST((COUNT(*) * MAX(n_tok) - SUM(n_tok)) * 1000000
       |    // (COUNT(*) * MAX(n_tok)) AS BIGINT) AS waste_ppm
       |FROM rk GROUP BY shard, batch_idx
       |ORDER BY shard, batch_idx, n_seqs, max_tok, sum_tok, waste_ppm""".stripMargin
  }

  /** Write the sharded corpus (partitionBy the shard key: one hash
    * shuffle, one directory per shard) and return a manifest computed
    * from the files JUST WRITTEN. */
  def exportTrainingShards(docs: DataFrame, outDir: String,
      nShards: Int): DataFrame = {
    val spark = docs.sparkSession
    docs.withColumn("shard",
        pmod(Sampling.idBucket(col("doc_id")), lit(nShards.toLong)))
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
    spark.read.parquet(outDir)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("sum_len"),
        sum(pmod(rollingHash(col("text")), lit(Sampling.Prime)))
          .as("content_digest"))
      .orderBy(col("shard"))
  }
}
