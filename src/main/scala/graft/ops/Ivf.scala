package graft.ops

import graft.Tables
import graft.functions.GraftFunctions.{cellArgmin, l2mu, scaleRound}
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbour — the second ANN
  * scale path next to hyperplane LSH (Similarity.annBuckets):
  * a coarse k-means quantizer partitions vectors into cells; a query
  * probes only its nProbe nearest cells and exact-reranks inside them.
  *
  * Scale shape: the quantizer is fitted on a seeded SAMPLE (k-means
  * needs only enough points to place k coarse centroids — fitting on
  * the full corpus is wasted passes at 100 TB); assignment is one
  * narrow codegen'd pass; the cell table is persisted
  * `partitionBy("cell")` so a probe is partition-pruned I/O
  * (PartitionFilters at the scan, nProbe/k of the files read). The
  * index is built once per corpus and reused across queries — never
  * rebuilt per query.
  */
object Ivf {

  final case class Index(centroids: Array[Array[Double]], assigned: DataFrame)

  /** Target mean cell occupancy for the auto-k rule. */
  val TargetCellSize = 256L

  /** Within-cell pair-generation cap: cells above this star-pair
    * against the cell's lowest id instead of all-pairs (see
    * [[semanticCandidates]]). 4x the target occupancy, so healthy
    * Lloyd skew never triggers it — only degenerate mass does. */
  val MaxCell = 1024

  /** r15: the two-regime assignment (literal least() under k=32, the
    * round-8 LiteralArgminMaxK crossover; broadcast-join argmin
    * above) is GONE — [[argminStruct]] computes the same exact
    * (d², cell) argmin as one native expression at every k, with
    * neither the literal form's per-action analyzer/Janino cost nor
    * the join form's N×k row stream. */

  /** Ceiling for the DETERMINISTIC index's k (round-8, verdict #5):
    * the remaining O(k) costs are the per-Lloyd-round
    * k-row centroid collect, the broadcast of the k×64-long centroid
    * table (~2 MB at this ceiling), and the DuckDB verify replay's
    * N×k cross product. Since [[autoK]] grows k ∝ N, an unguarded
    * huge corpus would quietly drag gigabytes of centroid state
    * through the driver. Above the ceiling the deterministic path
    * REFUSES loudly and the caller must use [[persistedIndex]]
    * (ML-KMeans: distributed centroids, no replay contract) — i.e.
    * the oracle-replayable envelope is corpora up to
    * ~MaxDetK·TargetCellSize ≈ 1M vectors; beyond that the
    * production index serves, with its recall specs standing in for
    * the hash oracle. */
  val MaxDetK = 4096

  /** k ∝ N, executable: k = max(8, ⌈N / target⌉). Round 6 measured
    * why this must be code, not scaladoc: fixed k=8 at 10x data →
    * 15.4x runtime (Σ|cell|² grows quadratically in |cell|); k scaled
    * with N → 1.7x. Pure integer arithmetic so the DuckDB oracle
    * ([[kSql]]) derives the SAME k from the same count. */
  def autoK(n: Long, target: Long = TargetCellSize): Int =
    math.max(8L, (n + target - 1) / target).toInt

  /** The [[autoK]] formula as a DuckDB scalar subquery over the same
    * corpus — `//` truncates on integers (positive operands, so it
    * equals the Scala truncating division above). */
  def kSql(target: Long = TargetCellSize): String =
    s"GREATEST(8, ((SELECT COUNT(*) FROM embeddings) + ${target - 1}) // $target)"

  /** Build: fit a seeded k-means coarse quantizer on a sample, assign
    * every vector to its cell. `fitFraction` bounds the fit cost: the
    * sample only has to be large enough to place k coarse centroids
    * (guarded to >= 20*k expected rows; tiny inputs fit on everything
    * so local tests and huge corpora take the same code path). */
  def build(emb: DataFrame, k: Int = -1, fitFraction: Double = 1.0): Index = {
    val resolvedK = if (k > 0) k else autoK(emb.count())
    val featurized = emb.withColumn("features",
      array_to_vector(col("embedding").cast("array<double>")))
    val fitOn =
      if (fitFraction >= 1.0) featurized
      else {
        val sampled = featurized.sample(withReplacement = false, fitFraction, 42L)
        if (sampled.limit(20 * resolvedK).count() < 20 * resolvedK) featurized
        else sampled
      }
    val model = new KMeans().setK(resolvedK).setSeed(42L).setMaxIter(10)
      .fit(fitOn)
    val assigned = model.transform(featurized)
      .select(col("vec_id"), col("embedding"),
        col("prediction").as("cell"))
    Index(model.clusterCenters.map(_.toArray), assigned)
  }

  /** Persist an index: the cell table partitioned by cell id (so probes
    * are partition-pruned) plus the k centroids. */
  def writeIndex(index: Index, path: String): Unit = {
    index.assigned.write.mode("overwrite")
      .partitionBy("cell").parquet(s"$path/cells")
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Load a persisted index; `assigned` reads the partitioned cell
    * table, so cell filters prune at the file level. */
  def readIndex(spark: SparkSession, path: String): Index = {
    val centroids = spark.read.parquet(s"$path/centroids")
      .orderBy("cell").collect()
      .map(_.getSeq[Double](1).toArray)
    Index(centroids, spark.read.parquet(s"$path/cells"))
  }

  /** The persisted index for a corpus dir: built + written on first
    * use (sampled fit), read from the partitioned parquet after —
    * including across JVMs (centroids/_SUCCESS probe, a reuse the
    * hand-rolled resolver never had). `indexRoot` may be any
    * Hadoop-FS path (local tmp by default; a distributed FS on a
    * cluster). Cache identity via the shared graft.Artifacts
    * resolver: source fingerprint + "ivf1" schema version. */
  def persistedIndex(spark: SparkSession, dir: String,
      indexRoot: String = sys.props("java.io.tmpdir") + "/graft_ivf"): Index =
    readIndex(spark, graft.Artifacts.resolve(indexRoot, dir,
      Tables.sourceFingerprint(dir, Seq("embeddings")), "ivf1")(
      p => new java.io.File(s"$p/centroids/_SUCCESS").exists()) {
      (p, _) =>
        writeIndex(build(Tables.embeddings(spark, dir),
          fitFraction = 0.25), p)
    })

  /** Query: rank cells by centroid distance (driver-side — k tiny),
    * probe the nProbe nearest, exact cosine re-rank inside them. */
  def search(index: Index, queryVec: Array[Float], topK: Int,
      nProbe: Int = 4): DataFrame = {
    val q = queryVec.map(_.toDouble)
    def dist2(c: Array[Double]): Double =
      c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum
    val cells = index.centroids.zipWithIndex
      .sortBy { case (c, _) => dist2(c) }
      .take(nProbe).map(_._2)
    val qCol = array(queryVec.map(lit): _*)
    index.assigned
      .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
      .select(col("vec_id"),
        round(Similarity.cosine(col("embedding"), qCol), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(topK)
  }

  /** Query entry: cell sizes from the PERSISTED index (first call
    * builds it; steady state is a pruned parquet read, which is the
    * honest per-query cost of an IVF system). */
  def cellSummary(spark: SparkSession, dir: String): DataFrame = {
    val idx = persistedIndex(spark, dir)
    idx.assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec_id"))
      .orderBy(col("cell"))
  }

  // ---- deterministic, oracle-replayable IVF (integer micro-units) ----
  //
  // The ML-KMeans index above is the production path; its k-means||
  // init is not replayable outside Spark, so its queries carry recall
  // specs instead of a hash oracle. This variant trades init quality
  // for EXACT cross-engine determinism: seed centroids are the k
  // lowest-vec_id embeddings, Lloyd refinement runs a fixed number of
  // rounds, and every number in play is an integer count of 1e-6
  // "micro-units" (vectors quantized via round(v * 1e6)) — distances
  // and sums stay in exact BIGINT arithmetic (max |term| ~1.6e13,
  // far under 2^63), the only division is the centroid mean
  // (exact-int numerator, rounded half-away-from-zero, identical in
  // Spark, JVM BigDecimal and DuckDB), so the DuckDB oracle replays
  // the ENTIRE build+probe bit-exactly with zero float ambiguity.

  final case class DetIndex(centroids: Seq[(Long, Array[Long])],
      assigned: DataFrame)

  private def muCol: Column =
    // one native pass (graft.functions.ScaleRound) — bit-identical to
    // the interpreted transform/round lambda it replaces
    // (ScaleRoundSpec)
    scaleRound(col("embedding"), 1000000L)

  /** The (d2, cell) argmin of `x` over a fixed centroid set as ONE
    * native codegen expression (graft.functions.CellArgmin): the
    * centroid matrix rides a single array literal, so the expression
    * tree is 3 nodes whatever k is. Replaces, bit-identically
    * (CellArgminSpec):
    *  - the k-way least(struct(d2_literal, id)) form — whose k×64
    *    literal tree paid an analyzer walk + Janino compile per
    *    ACTION (the r7 q150 lesson; at sf0.1's k=8 that overhead WAS
    *    most of q261's wall) and OOMed codegen near k≈10²;
    *  - the broadcast-join argmin (crossJoin + min_by), which
    *    streamed N×k rows each carrying both 64-long arrays plus a
    *    (vec_id)-keyed aggregate and a join back — nothing N×k
    *    exists here, and no exchange at all. */
  private[graft] def argminStruct(x: Column,
      cents: Seq[(Long, Array[Long])]): Column =
    cellArgmin(x,
      typedLit(cents.map(_._2.toSeq)), typedLit(cents.map(_._1)))

  /** Attach the argmin `cell` column to a frame carrying a unique
    * `vec_id` and the micro-unit `x` array. */
  private def withCellCol(df: DataFrame,
      cents: Seq[(Long, Array[Long])]): DataFrame = {
    df.withColumn("cell", argminStruct(col("x"), cents).getField("cell"))
  }

  private val detIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, DetIndex]()

  /** Build (or reuse) the deterministic index for a corpus dir. The
    * per-round aggregate collects k rows of (cell, 64 sums, count) —
    * centroid state is O(k·dim) regardless of corpus size, the same
    * driver-side footprint as readIndex. */
  // corpus count per (dir, source fingerprint): the autoK resolution
  // would otherwise launch a (metadata-only, but scheduled) count job
  // on EVERY index lookup; the fingerprint key makes an in-place
  // testdata regen refresh it
  private val corpusCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def deterministicIndex(spark: SparkSession, dir: String, k: Int = -1,
      iters: Int = 2): DetIndex = {
    // k <= 0 means the autoK rule (k ∝ N) — resolved BEFORE the cache
    // key so explicit-k and auto-k callers share an entry when they
    // agree. The count is a parquet-metadata read, not a data scan.
    val resolvedK =
      if (k > 0) k
      else autoK(corpusCounts.computeIfAbsent(
        s"$dir|${Tables.sourceFingerprint(dir, Seq("embeddings"))}",
        _ => Tables.embeddings(spark, dir).count()))
    require(resolvedK <= MaxDetK,
      s"deterministic IVF k=$resolvedK exceeds MaxDetK=$MaxDetK: the " +
        s"per-round centroid collect, centroid broadcast and oracle " +
        s"replay are O(k) driver/verify costs (see MaxDetK scaladoc). " +
        s"For corpora above ~${MaxDetK * TargetCellSize} vectors use " +
        s"Ivf.persistedIndex (ML-KMeans production path).")
    // keyed by sessionUUID too: DetIndex.assigned is a persisted
    // DataFrame BOUND to its session (unlike persistedIndex, which
    // stores an on-disk path any session can re-read) — a cached entry
    // from a stopped session would poison later sessions in this JVM
    detIndexes.computeIfAbsent(
        s"${System.identityHashCode(spark)}|$dir|$resolvedK|$iters",
        _ => deterministicIndexOn(
          Tables.embeddings(spark, dir), resolvedK, iters))
  }

  /** Frame-based deterministic build (the rehearsal entry point —
    * no cache, no dir fingerprint; [[deterministicIndex]] wraps this
    * with both). `k` must be explicit here; the [[MaxDetK]] guard
    * applies the same. */
  def deterministicIndexOn(emb: DataFrame, k: Int,
      iters: Int = 2): DetIndex = {
    require(k > 0 && k <= MaxDetK,
      s"deterministic IVF k=$k outside (0, MaxDetK=$MaxDetK] — see " +
        s"MaxDetK scaladoc; use Ivf.persistedIndex above the ceiling.")
    val xi = emb.select(col("vec_id"), muCol.as("x"))
    var cents: Seq[(Long, Array[Long])] = xi.filter(col("vec_id") < k)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toSeq
    for (_ <- 1 to iters) {
      val sumCols = (0 until 64).map(i =>
        sum(element_at(col("x"), i + 1)).as(s"s$i"))
      val rows = withCellCol(xi, cents)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .collect()
      cents = rows.map { r =>
        val n = r.getLong(1)
        (r.getLong(0),
          (0 until 64).map(i => Det.halfUpLong(r.getLong(2 + i).toDouble / n)).toArray)
      }.sortBy(_._1).toSeq
    }
    // persist the tiny (vec_id, cell) table: every probe would
    // otherwise re-evaluate the assignment (literal expression or
    // argmin join) over the whole corpus (measured as the slowest
    // bench entry); the production path persists its cell table
    // partitionBy(cell) the same way
    DetIndex(cents, withCellCol(xi, cents)
      .select(col("vec_id"), col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** Release the persisted deterministic indexes (test/driver hygiene —
    * mirrors Dedup.unpersistCaches). */
  def clearDetIndexes(): Unit = {
    detIndexes.values.forEach(i => i.assigned.unpersist())
    detIndexes.clear()
  }

  /** Query entry: probe the deterministic index for the query vector's
    * topK cosine neighbours over the nProbe nearest cells. Cell
    * ranking is exact integer distance on the driver (centroids are
    * driver state, as in [[search]]); candidate fetch + cosine re-rank
    * are the distributed part. Output carries the probed cell so the
    * oracle checks BOTH the routing and the ranking. */
  def deterministicSearch(spark: SparkSession, dir: String,
      queryId: Long = 7, nProbe: Int = 2, topK: Int = 10): DataFrame = {
    deterministicSearchOn(deterministicIndex(spark, dir),
      Tables.embeddings(spark, dir), queryId, nProbe, topK)
  }

  /** Frame-based probe core of [[deterministicSearch]] (the rehearsal
    * entry point — caller supplies the index and the embedding
    * frame). */
  def deterministicSearchOn(idx: DetIndex, emb: DataFrame,
      queryId: Long, nProbe: Int = 2, topK: Int = 10): DataFrame = {
    val qEmb = emb
      .filter(col("vec_id") === queryId).select(col("embedding"))
      .head().getSeq[Float](0)
    val qMu = qEmb.map(v => Det.halfUpLong(v.toDouble * 1e6)).toArray
    def d2(c: Array[Long]): Long =
      c.zip(qMu).map { case (a, b) => (a - b) * (a - b) }.sum
    val probed = idx.centroids.map { case (id, c) => (d2(c), id) }
      .sorted.take(nProbe).map(_._2)
    val qCol = array(qEmb.map(lit): _*)
    idx.assigned
      .filter(col("cell").isin(probed.map(java.lang.Long.valueOf): _*))
      .join(emb, Seq("vec_id"))
      .select(col("vec_id"), col("cell"),
        round(Similarity.cosine(col("embedding"), qCol), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"), col("cell"))
      .limit(topK)
  }

  private def oracleD2(x: String, c: String) =
    s"list_sum(list_transform(range(1, 65), i -> ($x[i] - $c[i]) * ($x[i] - $c[i])))"

  /** Shared oracle CTE chain replaying the [[deterministicIndex]]
    * BUILD: micro-unit quantization → seed centroids → `iters`
    * unrolled Lloyd rounds → `afin` = final (vec_id, cell). `kExpr`
    * is a SQL expression — the default replays the [[autoK]] rule
    * from the corpus's own count, so the oracle derives k the same
    * way the engine does and the hash compare proves the rule. */
  private def buildCtes(iters: Int, kExpr: String = kSql(),
      where: String = "TRUE"): String = {
    val mu = "list_transform(range(1, 65), i -> CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))"
    val rounds = (0 until iters).map { r =>
      s"""d$r AS (SELECT x.vec_id, c.cell, ${oracleD2("x.x", "c.c")} AS d2
         |        FROM xi x CROSS JOIN cent$r c),
         |a$r AS (SELECT vec_id, cell FROM d$r
         |        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell) = 1),
         |s$r AS (SELECT a.cell, s.i AS pos,
         |          CAST(ROUND(CAST(SUM(x.x[s.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS m
         |        FROM a$r a JOIN xi x ON a.vec_id = x.vec_id
         |        CROSS JOIN generate_series(1, 64) s(i)
         |        GROUP BY a.cell, s.i),
         |cent${r + 1} AS (SELECT cell, list(m ORDER BY pos) AS c FROM s$r GROUP BY cell)""".stripMargin
    }.mkString(",\n")
    s"""xi AS (SELECT vec_id, $mu AS x FROM embeddings WHERE $where),
       |cent0 AS (SELECT vec_id AS cell, x AS c FROM xi WHERE vec_id < ($kExpr)),
       |$rounds,
       |afin AS (SELECT x.vec_id, c.cell FROM xi x CROSS JOIN cent$iters c
       |         QUALIFY ROW_NUMBER() OVER (PARTITION BY x.vec_id
       |           ORDER BY ${oracleD2("x.x", "c.c")}, c.cell) = 1)""".stripMargin
  }

  /** Oracle-checkable face of the IVF capability (q46): the cell
    * population summary (size + lowest member id per cell) of the
    * DETERMINISTIC index — exactly [[cellSummary]]'s shape, replayed
    * bit-exactly by [[detCellSummaryOracleSql]] because the
    * integer-Lloyd build has zero float ambiguity. The ML-KMeans
    * production index keeps its recall specs (AnalyticsSpec /
    * BucketingSpec) — its k-means|| init is what no oracle can
    * replay, which is why THIS face fronts the capability. */
  def detCellSummary(spark: SparkSession, dir: String): DataFrame = {
    val idx = deterministicIndex(spark, dir)
    idx.assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec_id"))
      .orderBy(col("cell"), col("n_vecs"), col("min_vec_id"))
  }

  /** DuckDB oracle for [[detCellSummary]]: replay the build, group by
    * final cell. */
  def detCellSummaryOracleSql(iters: Int = 2): String =
    s"""WITH ${buildCtes(iters)}
       |SELECT CAST(cell AS BIGINT) AS cell,
       |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  CAST(MIN(vec_id) AS BIGINT) AS min_vec_id
       |FROM afin GROUP BY cell
       |ORDER BY cell, n_vecs, min_vec_id""".stripMargin

  /** Embedding-occupancy drift (q261): the ANN-index staleness /
    * retrain trigger every deployed vector store needs and the
    * embedding-space member of the drift family (q122 KS, q125 TVD,
    * q179/q187 PSI, q210 schema, q257 tokenizer). The index is built
    * on the PRIOR corpus ONLY (vec_id below the derived newest-10%
    * cutoff — the q191/q254/q257 split), the ingest batch is assigned
    * through THAT index (exactly what a deployment's router does),
    * and the output is per-cell occupancy: prior/batch counts and
    * shares in ppm plus the absolute share drift. A batch that no
    * longer matches the index's density (new domains, new encoder)
    * shows mass piling into few cells — the "retrain the quantizer"
    * signal read BEFORE recall degrades.
    *
    * Determinism: the integer-Lloyd build has zero float ambiguity
    * (the q46 contract), batch assignment is the same exact-integer
    * argmin with the cell-id tie-break, and shares are truncating
    * integer ppm — the oracle replays build, assignment, and the
    * arithmetic symbol-for-symbol.
    *
    * Scale shape: index build is iters× (broadcast-argmin + k-row
    * collect) over the prior corpus; the batch pays one broadcast
    * argmin; everything after is cell-keyed counts (k keys) and a
    * broadcast 1-row totals join — no global window, no pair stage. */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cutoff =
      (emb.agg(max(col("vec_id"))).head().getLong(0) + 1L) * 9L / 10L
    embeddingDriftOn(emb.filter(col("vec_id") < cutoff),
      emb.filter(col("vec_id") >= cutoff))
  }

  /** Frame-based core of [[embeddingDrift]]. */
  def embeddingDriftOn(prior: DataFrame, batch: DataFrame): DataFrame = {
    val sess = prior.sparkSession
    import sess.implicits._
    val idx = deterministicIndexOn(prior, autoK(prior.count()))
    // the prior-only index is NOT the (dir)-cached one — its persisted
    // assignment frame must ride the drained registry or every bench
    // sample leaks one cache entry (the round-6 rule)
    Dedup.register(idx.assigned)
    val priorCnt = idx.assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_prior"))
    val batchCnt = withCellCol(
        batch.select(col("vec_id"), muCol.as("x")), idx.centroids)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_batch"))
    val cells = idx.centroids.map(_._1).toDF("cell")
    val totals = priorCnt.agg(sum(col("n_prior")).as("tp"))
      .crossJoin(batchCnt.agg(
        coalesce(sum(col("n_batch")), lit(0L)).as("tb")))
    cells
      .join(priorCnt, Seq("cell"), "left")
      .join(batchCnt, Seq("cell"), "left")
      .na.fill(0L, Seq("n_prior", "n_batch"))
      .crossJoin(broadcast(totals))
      .select(col("cell"), col("n_prior"), col("n_batch"),
        expr("CAST(n_prior * 1000000 div tp AS BIGINT)")
          .as("prior_share_ppm"),
        when(col("tb") === 0L, 0L)
          .otherwise(expr("CAST(n_batch * 1000000 div tb AS BIGINT)"))
          .as("batch_share_ppm"))
      .withColumn("drift_ppm",
        abs(col("prior_share_ppm") - col("batch_share_ppm")))
      .orderBy(col("cell"), col("n_prior"), col("n_batch"),
        col("prior_share_ppm"), col("batch_share_ppm"), col("drift_ppm"))
  }

  /** DuckDB oracle for [[embeddingDrift]]: re-derive the cutoff,
    * replay the prior-only integer-Lloyd build ([[buildCtes]] with
    * the cutoff filter and prior-count autoK), assign the batch
    * against the final centroids with the same (d2, cell) argmin,
    * and replay the ppm arithmetic. */
  def embeddingDriftOracleSql(iters: Int = 2): String = {
    val mu = "list_transform(range(1, 65), i -> CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))"
    val priorWhere = "vec_id < (SELECT c FROM cut)"
    val kExpr = s"GREATEST(8, ((SELECT COUNT(*) FROM embeddings " +
      s"WHERE $priorWhere) + ${TargetCellSize - 1}) // $TargetCellSize)"
    s"""WITH cut AS (
       |  SELECT (MAX(vec_id) + 1) * 9 // 10 AS c FROM embeddings),
       |${buildCtes(iters, kExpr, priorWhere)},
       |bi AS (SELECT vec_id, $mu AS x FROM embeddings
       |       WHERE vec_id >= (SELECT c FROM cut)),
       |ba AS (SELECT b.vec_id, c.cell FROM bi b CROSS JOIN cent$iters c
       |       QUALIFY ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |         ORDER BY ${oracleD2("b.x", "c.c")}, c.cell) = 1),
       |pc AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_prior
       |       FROM afin GROUP BY cell),
       |bc AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_batch
       |       FROM ba GROUP BY cell),
       |tot AS (
       |  SELECT (SELECT COUNT(*) FROM afin) AS tp,
       |    (SELECT COUNT(*) FROM ba) AS tb)
       |SELECT CAST(k.cell AS BIGINT) AS cell,
       |  COALESCE(n_prior, 0) AS n_prior,
       |  COALESCE(n_batch, 0) AS n_batch,
       |  CAST(COALESCE(n_prior, 0) * 1000000 // tp AS BIGINT)
       |    AS prior_share_ppm,
       |  CASE WHEN tb = 0 THEN 0
       |    ELSE CAST(COALESCE(n_batch, 0) * 1000000 // tb AS BIGINT)
       |    END AS batch_share_ppm,
       |  ABS(CAST(COALESCE(n_prior, 0) * 1000000 // tp AS BIGINT)
       |    - CASE WHEN tb = 0 THEN 0
       |      ELSE CAST(COALESCE(n_batch, 0) * 1000000 // tb AS BIGINT)
       |      END) AS drift_ppm
       |FROM (SELECT cell FROM cent$iters) k
       |LEFT JOIN pc ON pc.cell = k.cell
       |LEFT JOIN bc ON bc.cell = k.cell
       |CROSS JOIN tot
       |ORDER BY cell, n_prior, n_batch, prior_share_ppm,
       |  batch_share_ppm, drift_ppm""".stripMargin
  }

  /** Cell-medoid coreset (q186): per deterministic-IVF cell, the
    * member vector closest to the cell centroid (exact integer µu
    * L2², tie-break min vec_id) with the cell population — the
    * diversity-preserving coreset selection (one representative per
    * region, the k-center-lite every "select a diverse subsample"
    * recipe starts from, and the natural companion of SemDeDup: q145
    * keeps min-id per ε-ball, this keeps the most CENTRAL member per
    * cell). Distances ride the native codegen `l2mu` (round-8) over
    * the broadcast k-row centroid table; the medoid is a map-side
    * combined min(struct) — no window, no pair join.
    *
    * Scale shape: one broadcast join (k rows) + one cell-keyed
    * aggregate; at k ∝ N the per-cell work is constant. */
  def cellMedoids(spark: SparkSession, dir: String): DataFrame =
    cellMedoidsOn(deterministicIndex(spark, dir),
      Tables.embeddings(spark, dir))

  /** Frame-based core of [[cellMedoids]] (caller supplies index +
    * embeddings) — the planted-fixture / rehearsal entry point. */
  def cellMedoidsOn(idx: DetIndex, emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val centDf = idx.centroids.map { case (id, c) => (id, c.toSeq) }
      .toDF("cell", "cent")
    idx.assigned
      .join(emb, Seq("vec_id"))
      .select(col("vec_id"), col("cell"), muCol.as("xmu"))
      .join(broadcast(centDf), Seq("cell"))
      .withColumn("d2", l2mu(col("xmu"), col("cent")))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        min(struct(col("d2"), col("vec_id"))).as("m"))
      .select(col("cell"), col("n_vecs"),
        col("m.vec_id").as("medoid_id"), col("m.d2").as("d2_mu"))
      .orderBy(col("cell"), col("n_vecs"), col("medoid_id"),
        col("d2_mu"))
  }

  /** DuckDB oracle for [[cellMedoids]] — replay the build, compute
    * the same integer distances against the final centroids. */
  def cellMedoidsOracleSql(iters: Int = 2): String =
    s"""WITH ${buildCtes(iters)},
       |dd AS (
       |  SELECT a.vec_id, a.cell, ${oracleD2("x.x", "c.c")} AS d2
       |  FROM afin a
       |  JOIN xi x ON x.vec_id = a.vec_id
       |  JOIN cent$iters c ON c.cell = a.cell),
       |nn AS (SELECT cell, COUNT(*) AS n_vecs FROM afin GROUP BY cell),
       |md AS (
       |  SELECT cell, vec_id, d2 FROM dd
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY cell
       |    ORDER BY d2, vec_id) = 1)
       |SELECT CAST(md.cell AS BIGINT) AS cell,
       |  CAST(nn.n_vecs AS BIGINT) AS n_vecs,
       |  CAST(md.vec_id AS BIGINT) AS medoid_id,
       |  CAST(md.d2 AS BIGINT) AS d2_mu
       |FROM md JOIN nn ON nn.cell = md.cell
       |ORDER BY cell, n_vecs, medoid_id, d2_mu""".stripMargin

  /** Embedding-space outlier screen (q200): per deterministic-IVF
    * cell, the FAR tail — members whose exact integer µu L2² distance
    * to their own centroid ranks in the top ⌈10%⌉ of the cell
    * (`row_number` by (d2 desc, vec_id) ≤ `greatest(1, n div 10)`).
    * The mirror of [[cellMedoids]]: medoids pick the representative
    * per region, this flags the vectors no region represents —
    * mislabeled/garbled documents whose embeddings sit far from every
    * cluster mass, the standard embedding-space curation screen
    * (prune-or-review list). Rank-based (order statistics), so the
    * contract is float-free end to end and a fixed-τ radius knob is
    * deliberately NOT part of it — the 10% tail adapts per cell.
    *
    * Scale shape: one broadcast join (k centroid rows) + native
    * codegen `l2mu` + a cell-PARTITIONED window (cells are ~constant
    * size under [[autoK]], so the per-partition sort never grows with
    * the corpus) + the tail filter. */
  def cellOutliers(spark: SparkSession, dir: String): DataFrame =
    cellOutliersOn(deterministicIndex(spark, dir),
      Tables.embeddings(spark, dir))

  /** Frame-based core of [[cellOutliers]] (caller supplies index +
    * embeddings) — the planted-fixture / rehearsal entry point. */
  def cellOutliersOn(idx: DetIndex, emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val centDf = idx.centroids.map { case (id, c) => (id, c.toSeq) }
      .toDF("cell", "cent")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell"))
    idx.assigned
      .join(emb, Seq("vec_id"))
      .select(col("vec_id"), col("cell"), muCol.as("xmu"))
      .join(broadcast(centDf), Seq("cell"))
      .withColumn("d2_mu", l2mu(col("xmu"), col("cent")))
      .withColumn("n_vecs", count(lit(1)).over(w))
      .withColumn("rnk", row_number().over(
        w.orderBy(col("d2_mu").desc, col("vec_id"))))
      .filter(col("rnk") <= greatest(lit(1L), expr("n_vecs div 10")))
      .select(col("cell"), col("vec_id"), col("d2_mu"),
        col("n_vecs"), col("rnk").cast("long").as("rnk"))
      .orderBy(col("cell"), col("vec_id"), col("d2_mu"),
        col("n_vecs"), col("rnk"))
  }

  /** DuckDB oracle for [[cellOutliers]] — replay the build, rank the
    * same integer distances per cell, keep the far tail. */
  def cellOutliersOracleSql(iters: Int = 2): String =
    s"""WITH ${buildCtes(iters)},
       |dd AS (
       |  SELECT a.vec_id, a.cell, ${oracleD2("x.x", "c.c")} AS d2
       |  FROM afin a
       |  JOIN xi x ON x.vec_id = a.vec_id
       |  JOIN cent$iters c ON c.cell = a.cell),
       |rk AS (
       |  SELECT cell, vec_id, d2,
       |    COUNT(*) OVER (PARTITION BY cell) AS n_vecs,
       |    ROW_NUMBER() OVER (PARTITION BY cell
       |      ORDER BY d2 DESC, vec_id) AS rnk
       |  FROM dd)
       |SELECT CAST(cell AS BIGINT) AS cell,
       |  CAST(vec_id AS BIGINT) AS vec_id,
       |  CAST(d2 AS BIGINT) AS d2_mu,
       |  CAST(n_vecs AS BIGINT) AS n_vecs,
       |  CAST(rnk AS BIGINT) AS rnk
       |FROM rk
       |WHERE rnk <= GREATEST(1, n_vecs // 10)
       |ORDER BY cell, vec_id, d2_mu, n_vecs, rnk""".stripMargin

  /** SemDeDup-style semantic dedup (q145): cluster embeddings, then
    * prune within each cluster — a document whose embedding has a
    * LOWER-id cluster-mate at cosine ≥ τ is dropped; the lowest id in
    * every ε-ball survives (greedy keep-first, the deterministic
    * variant of the paper's per-cluster pruning; SemDeDup, Abbas et
    * al. 2023, arXiv:2303.09540). The cluster stage IS the reused
    * [[deterministicIndex]] (integer-Lloyd, zero float ambiguity), so
    * pair generation is within-cell only — never all-pairs — and the
    * whole op replays bit-exactly in DuckDB: cosine rounds to 6
    * decimals then scales to integer ppm BEFORE the threshold compare
    * (the q144 discipline), so no boundary decision rides a float.
    *
    * τ defaults to 0.40 ppm-scaled: the synthetic corpus has no true
    * near-dup embeddings (max pair cosine ≈ 0.51 at sf0.01 — measured
    * via the q144 density curve), so a production-style 0.95 would
    * never exercise the drop path; 0.40 yields a small planted-free
    * drop set at every SF. On real embeddings τ is the calibrated
    * knob (paper uses ~0.95) and the q144 curve is the pre-flight
    * that picks it.
    *
    * Scale shape: one cell-keyed self-join (cells are the blocking
    * unit — pair count is Σ|cell|², never N²), one keyed min-aggregate
    * for survivors, one left join back. Both 100 TB knobs are CODE,
    * not advice (round-7): k grows ∝ N via [[autoK]] (the 10x
    * rehearsal measured fixed k=8 → 15.4x time, scaled k → 1.7x),
    * with the oracle deriving the same k from the same count
    * ([[kSql]]); and skewed mega-cells get the LSH star-guard
    * treatment in [[semanticCandidates]], replayed verbatim by the
    * oracle so the guard itself is hash-checked. */
  def semanticDedup(spark: SparkSession, dir: String,
      tauPpm: Long = 400000L): DataFrame = {
    val idx = deterministicIndex(spark, dir)
    val withEmb = idx.assigned
      .join(Tables.embeddings(spark, dir), Seq("vec_id"))
      .select(col("vec_id"), col("cell"), col("embedding"))
    semanticDedupOn(withEmb, tauPpm)
      .orderBy(col("vec_id"), col("cell"), col("kept"), col("dup_of"),
        col("max_cos_ppm"))
  }

  /** DuckDB oracle for [[semanticDedup]]: replay the integer-Lloyd
    * build, brute-force the within-cell pairs, apply the identical
    * ppm threshold. Nullable output columns order NULLS FIRST to
    * match Spark's asc default. */
  def semanticDedupOracleSql(iters: Int = 2,
      tauPpm: Long = 400000L, maxCell: Int = MaxCell): String = {
    val cos =
      """LIST_INNER_PRODUCT(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])) /
        |      (SQRT(LIST_INNER_PRODUCT(CAST(ea.embedding AS DOUBLE[]), CAST(ea.embedding AS DOUBLE[]))) *
        |       SQRT(LIST_INNER_PRODUCT(CAST(eb.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[]))))""".stripMargin
    s"""WITH ${buildCtes(iters)},
       |sized AS (
       |  SELECT vec_id, cell,
       |    COUNT(*) OVER (PARTITION BY cell) AS cell_n,
       |    MIN(vec_id) OVER (PARTITION BY cell) AS rep
       |  FROM afin),
       |cand AS (
       |  SELECT fa.vec_id AS a_id, fb.vec_id AS b_id
       |  FROM sized fa JOIN sized fb
       |    ON fa.cell = fb.cell AND fa.vec_id < fb.vec_id
       |  WHERE fa.cell_n <= $maxCell
       |  UNION ALL
       |  SELECT rep AS a_id, vec_id AS b_id FROM sized
       |  WHERE cell_n > $maxCell AND vec_id != rep),
       |pairs AS (
       |  SELECT c.a_id, c.b_id,
       |    CAST(ROUND(ROUND($cos, 6) * 1000000) AS BIGINT) AS cppm
       |  FROM cand c
       |  JOIN embeddings ea ON ea.vec_id = c.a_id
       |  JOIN embeddings eb ON eb.vec_id = c.b_id),
       |dropped AS (
       |  SELECT b_id, CAST(MIN(a_id) AS BIGINT) AS dup_of,
       |    CAST(MAX(cppm) AS BIGINT) AS max_cos_ppm
       |  FROM pairs WHERE cppm >= $tauPpm GROUP BY b_id)
       |SELECT f.vec_id, CAST(f.cell AS BIGINT) AS cell,
       |  d.b_id IS NULL AS kept, d.dup_of, d.max_cos_ppm
       |FROM afin f LEFT JOIN dropped d ON f.vec_id = d.b_id
       |ORDER BY f.vec_id, cell, kept, dup_of NULLS FIRST,
       |  max_cos_ppm NULLS FIRST""".stripMargin
  }

  /** Assign an arbitrary (vec_id, embedding) frame to a FIXED centroid
    * set (micro-unit quantization + exact integer argmin, cell id
    * tie-break — the same rule the build uses). The incremental /
    * streaming entry point: new vectors route to existing cells
    * without refitting, exactly how a production IVF index absorbs
    * an ingest batch between rebuilds. */
  def assignToCells(frame: DataFrame,
      cents: Seq[(Long, Array[Long])]): DataFrame =
    withCellCol(frame.withColumn("x", muCol), cents)
      .drop("x")

  /** Incremental corpus-vs-batch semantic dedup: batch vectors route
    * to the CORPUS index's cells, then a batch vector is dropped if
    * its cell holds a corpus vector at cosine ≥ τ (corpus always
    * wins — it is already kept data) or a lower-id batch-mate at
    * cosine ≥ τ (in-batch first-win). The embedding-space analogue of
    * [[graft.ops.Dedup.incrementalDedup]]'s corpus-anti-join +
    * in-batch-first-win, and the same greedy rule as
    * [[semanticDedupOn]]: SemDeDupSpec proves batch verdicts equal a
    * full run over corpus ∪ batch under the same cell assignment.
    *
    * Scale shape: centroids are driver state (O(k·64)); both prune
    * joins are cell-keyed; the corpus side reads the persisted
    * assignment — nothing refits, nothing is all-pairs. */
  def semanticDedupIncremental(spark: SparkSession, dir: String,
      batch: DataFrame, tauPpm: Long = 400000L): DataFrame = {
    val idx = deterministicIndex(spark, dir)
    // the routed batch feeds FOUR plan branches (vsPrior, both sides
    // of vsBatch, final verdicts); unpersisted, each re-evaluates the
    // batch union AND the k×64-literal assignment expression — worse,
    // the ANALYZER re-walks that ~4k-node tree once per branch, which
    // persist alone cannot avoid (cache substitution happens after
    // analysis; measured 12.5 s warm unpersisted, 4.2 s persisted).
    // localCheckpoint truncates the logical plan itself (the
    // dedupClusters rule), so every branch sees a leaf — 1.1 s warm.
    val b = assignToCells(
        batch.select(col("vec_id"), col("embedding")), idx.centroids)
      .localCheckpoint()
    val corpus = idx.assigned
      .join(Tables.embeddings(spark, dir), Seq("vec_id"))
      .select(col("cell"), col("vec_id").as("c_id"),
        col("embedding").as("c_emb"))
    semanticDedupAgainst(b, corpus, tauPpm)
  }

  /** Core prune shared by [[semanticDedupIncremental]] and the
    * streaming twin (graft.streaming.EmbStream): batch rows
    * (vec_id, cell, embedding) against prior rows
    * (cell, c_id, c_emb). A prior match ≥ τ always drops the batch
    * row (prior data is already kept/seen); within the batch the
    * lower id wins. */
  def semanticDedupAgainst(b: DataFrame, prior: DataFrame,
      tauPpm: Long, maxCell: Int = MaxCell): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def cppm(a: Column, bc: Column): Column =
      round(round(Similarity.cosine(a, bc), 6) * 1000000d, 0).cast("long")
    // Mega-cell guards, mirroring [[semanticCandidates]]: a prior
    // cell over the cap contributes only its representative (lowest
    // c_id) to the batch-vs-prior join — batch x |mega prior cell|
    // fan-out becomes batch x 1; a batch cell over the cap star-pairs
    // against the batch cell's lowest id. Below the cap (every spec /
    // oracle corpus) verdicts are identical to the unguarded form, so
    // incremental == full parity holds exactly where SemDeDupSpec
    // asserts it.
    val wp = Window.partitionBy(col("cell"))
    val priorSized = prior
      .withColumn("cell_n", count(lit(1)).over(wp))
      .withColumn("rep", min(col("c_id")).over(wp))
    val priorPruned = priorSized
      .filter(col("cell_n") <= maxCell || col("c_id") === col("rep"))
      .select(col("cell"), col("c_id"), col("c_emb"))
    val vsPrior = b.join(priorPruned, Seq("cell"))
      .filter(cppm(col("embedding"), col("c_emb")) >= tauPpm)
      .groupBy(col("vec_id")).agg(min(col("c_id")).as("dup_of_corpus"))
    val bSized = b
      .withColumn("cell_n", count(lit(1)).over(wp))
      .withColumn("rep", min(col("vec_id")).over(wp))
    val lower = bSized
      .filter(col("cell_n") <= maxCell || col("vec_id") === col("rep"))
      .select(col("cell"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb"))
    val vsBatch = b.join(lower, Seq("cell"))
      .filter(col("b_id") < col("vec_id") &&
        cppm(col("embedding"), col("b_emb")) >= tauPpm)
      .groupBy(col("vec_id")).agg(min(col("b_id")).as("dup_of_batch"))
    // both verdict aggregates are ≤ batch-sized; shuffle_hash skips
    // the static planner's sort-merge sorts without assuming the
    // batch fits a broadcast (a backfill-sized batch must not pin an
    // unbounded broadcast — the SetSizer argument; AQE still converts
    // truly tiny sides to broadcast at runtime)
    b.select(col("vec_id"), col("cell"))
      .join(vsPrior.hint("shuffle_hash"), Seq("vec_id"), "left")
      .join(vsBatch.hint("shuffle_hash"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        (col("dup_of_corpus").isNull && col("dup_of_batch").isNull)
          .as("kept"),
        col("dup_of_corpus"), col("dup_of_batch"))
  }

  /** Production-shape semantic dedup over an arbitrary embedding frame:
    * same cluster-then-prune, but cells come from the caller (the
    * ML-KMeans [[persistedIndex]] assignment at corpus scale, where k
    * grows with N). No oracle — k-means|| init is not replayable —
    * so SemDeDupSpec proves the prune semantics on planted
    * duplicates. */
  /** Within-cell candidate pairs (a_id < b_id, embeddings attached)
    * with the mega-cell star guard: cells over `maxCell` emit
    * (cell-min-id, member) star pairs instead of all-pairs — O(n) per
    * cell instead of O(n²), the same degenerate-mass treatment as
    * Dedup.lshCandidatePairs. A semantic mega-cell is a pile of
    * near-identical mass (healthy Lloyd skew stays under 4x the
    * [[TargetCellSize]] the autoK rule provisions), which all
    * verifies against the representative; members below τ to the rep
    * simply survive — bounded cost, never an unbounded |cell|² pair
    * blowup. The size window shuffles on the cell key the pair join
    * needs anyway. The q145 oracle replays this rule verbatim, so
    * the guard itself is hash-checked. */
  private[graft] def semanticCandidates(assigned: DataFrame,
      maxCell: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cell"))
    val sized = assigned
      .select(col("cell"), col("vec_id"), col("embedding"))
      .withColumn("cell_n", count(lit(1)).over(w))
      .withColumn("rep", min(col("vec_id")).over(w))
    val small = sized.filter(col("cell_n") <= maxCell)
    val smallPairs = small
      .select(col("cell"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb"))
      .join(small.select(col("cell"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb")), Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_emb"), col("b_emb"))
    val mega = sized.filter(col("cell_n") > maxCell)
    val starPairs = mega.filter(col("vec_id") =!= col("rep"))
      .select(col("cell"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb"))
      .join(mega.filter(col("vec_id") === col("rep"))
        .select(col("cell"), col("vec_id").as("a_id"),
          col("embedding").as("a_emb")), Seq("cell"))
      .select(col("a_id"), col("b_id"), col("a_emb"), col("b_emb"))
    smallPairs.unionByName(starPairs)
  }

  def semanticDedupOn(assigned: DataFrame, tauPpm: Long,
      maxCell: Int = MaxCell): DataFrame = {
    val dropped = semanticCandidates(assigned, maxCell)
      .withColumn("cppm",
        round(round(Similarity.cosine(col("a_emb"), col("b_emb")), 6)
          * 1000000d, 0).cast("long"))
      .filter(col("cppm") >= tauPpm)
      .groupBy(col("b_id"))
      .agg(min(col("a_id")).as("dup_of"), max(col("cppm")).as("max_cos_ppm"))
    assigned.select(col("vec_id"), col("cell"))
      .join(dropped.withColumnRenamed("b_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of").isNull.as("kept"),
        col("dup_of"), col("max_cos_ppm"))
  }

  /** Deterministic ingest batch for the q150 oracle — built from the
    * corpus itself with only EXACT float ops (copy, negation), so the
    * DuckDB replay is bit-identical with zero rounding rules:
    *  - ids +1e6: exact copies of vec_id < 25 (cos 1.0 with their
    *    originals ⇒ must drop against the corpus),
    *  - ids +2e6: negations of 25 ≤ vec_id < 50 (cos −1.0 with their
    *    originals; mostly novel ⇒ kept, unless −cos(v,u) ≥ τ for some
    *    cell-mate — the oracle decides identically),
    *  - ids +3e6: second copies of vec_id < 5 (suppressed by BOTH the
    *    corpus original and the lower-id +1e6 batch-mate — populates
    *    dup_of_corpus AND dup_of_batch in one verdict row). */
  def incrementalBatch(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val neg = expr("transform(embedding, v -> cast(-v as float))")
    e.filter(col("vec_id") < 25)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      .unionByName(e.filter(col("vec_id") >= 25 && col("vec_id") < 50)
        .select((col("vec_id") + 2000000L).as("vec_id"),
          neg.as("embedding")))
      .unionByName(e.filter(col("vec_id") < 5)
        .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding")))
  }

  /** q150: the oracle-checked face of [[semanticDedupIncremental]] —
    * the round-6 gap (incremental/streaming semantic dedup was
    * spec-only). Batch vectors route onto the CORPUS index's cells
    * (fixed centroids, no refit) and prune against corpus + lower-id
    * batch-mates; [[incrementalSemanticDedupOracleSql]] replays the
    * index build, the routing argmin, and both prune joins. */
  def incrementalSemanticDedup(spark: SparkSession, dir: String,
      tauPpm: Long = 400000L): DataFrame =
    // single-partition sort, not orderBy: the verdict set is batch-
    // sized (tiny) and a global orderBy would re-execute the join
    // child for range-boundary sampling (the q126 rule)
    semanticDedupIncremental(spark, dir, incrementalBatch(spark, dir), tauPpm)
      .repartition(1)
      .sortWithinPartitions(col("vec_id"), col("cell"), col("kept"),
        col("dup_of_corpus"), col("dup_of_batch"))

  /** DuckDB replay of [[incrementalSemanticDedup]]: corpus build CTEs
    * (same autoK k), batch construction with the same exact float
    * ops, micro-unit routing argmin with the same (d2, cell)
    * tie-break, then the two prune joins with the identical ppm
    * threshold — INCLUDING the mega-cell star guard
    * [[semanticDedupAgainst]] applies on both the prior and the
    * in-batch side (round-8, ADVICE r7: the unguarded oracle would
    * silently diverge the moment a regenerated corpus produced a
    * cell over MaxCell, with a confusing hash diff instead of a
    * guarded replay). */
  def incrementalSemanticDedupOracleSql(iters: Int = 2,
      tauPpm: Long = 400000L, maxCell: Int = MaxCell): String = {
    val muB = "list_transform(range(1, 65), i -> CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))"
    def cos(a: String, b: String) =
      s"""ROUND(LIST_INNER_PRODUCT(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])) /
         |  (SQRT(LIST_INNER_PRODUCT(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[]))) *
         |   SQRT(LIST_INNER_PRODUCT(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])))), 6)""".stripMargin
    def cppm(a: String, b: String) =
      s"CAST(ROUND(${cos(a, b)} * 1000000) AS BIGINT)"
    s"""WITH ${buildCtes(iters)},
       |batch AS (
       |  SELECT vec_id + 1000000 AS vec_id, embedding
       |  FROM embeddings WHERE vec_id < 25
       |  UNION ALL
       |  SELECT vec_id + 2000000,
       |    list_transform(embedding, v -> -v)
       |  FROM embeddings WHERE vec_id >= 25 AND vec_id < 50
       |  UNION ALL
       |  SELECT vec_id + 3000000, embedding
       |  FROM embeddings WHERE vec_id < 5),
       |bx AS (SELECT vec_id, $muB AS x, embedding FROM batch),
       |bcell AS (
       |  SELECT b.vec_id, c.cell, b.embedding
       |  FROM bx b CROSS JOIN cent$iters c
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |    ORDER BY ${oracleD2("b.x", "c.c")}, c.cell) = 1),
       |prior_pruned AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      COUNT(*) OVER (PARTITION BY cell) AS cell_n,
       |      MIN(vec_id) OVER (PARTITION BY cell) AS rep
       |    FROM afin)
       |  WHERE cell_n <= $maxCell OR vec_id = rep),
       |b_lower AS (
       |  SELECT vec_id, cell, embedding FROM (
       |    SELECT vec_id, cell, embedding,
       |      COUNT(*) OVER (PARTITION BY cell) AS cell_n,
       |      MIN(vec_id) OVER (PARTITION BY cell) AS rep
       |    FROM bcell)
       |  WHERE cell_n <= $maxCell OR vec_id = rep),
       |vs_prior AS (
       |  SELECT bc.vec_id, CAST(MIN(f.vec_id) AS BIGINT) AS dup_of_corpus
       |  FROM bcell bc
       |  JOIN prior_pruned f ON f.cell = bc.cell
       |  JOIN embeddings ce ON ce.vec_id = f.vec_id
       |  WHERE ${cppm("bc.embedding", "ce.embedding")} >= $tauPpm
       |  GROUP BY bc.vec_id),
       |vs_batch AS (
       |  SELECT hi.vec_id, CAST(MIN(lo.vec_id) AS BIGINT) AS dup_of_batch
       |  FROM bcell hi
       |  JOIN b_lower lo ON lo.cell = hi.cell AND lo.vec_id < hi.vec_id
       |  WHERE ${cppm("hi.embedding", "lo.embedding")} >= $tauPpm
       |  GROUP BY hi.vec_id)
       |SELECT bc.vec_id, CAST(bc.cell AS BIGINT) AS cell,
       |  (p.vec_id IS NULL AND q.vec_id IS NULL) AS kept,
       |  p.dup_of_corpus, q.dup_of_batch
       |FROM bcell bc
       |LEFT JOIN vs_prior p ON p.vec_id = bc.vec_id
       |LEFT JOIN vs_batch q ON q.vec_id = bc.vec_id
       |ORDER BY bc.vec_id, cell, kept,
       |  dup_of_corpus NULLS FIRST, dup_of_batch NULLS FIRST""".stripMargin
  }

  /** ANN recall audit (q169): overlap@k between the deterministic IVF
    * probe ([[deterministicSearch]]) and the brute-force exact cosine
    * top-k for the same query — the index-quality gate every ANN
    * deployment runs before trusting probe results (recall loss from
    * a bad fit/probe budget shows up here, not in a crash). One row:
    * (k, n_overlap, recall_ppm). Both rankings are deterministic
    * (rounded cosine, id tie-breaks), so the DuckDB oracle replays
    * the ENTIRE audit — index build, probe routing, both rankings,
    * and the overlap count.
    *
    * Scale shape: the approx side is the partition-pruned probe; the
    * exact side is one corpus cosine pass with a TakeOrdered top-k —
    * the audit's honest cost (run per release or on a sampled query
    * set, not per query). */
  def annRecallAudit(spark: SparkSession, dir: String, queryId: Long = 7,
      nProbe: Int = 2, topK: Int = 10): DataFrame = {
    annRecallAuditOn(deterministicIndex(spark, dir),
      Tables.embeddings(spark, dir), queryId, nProbe, topK)
  }

  /** Frame-based core of [[annRecallAudit]] (the rehearsal entry
    * point): probe-vs-exact overlap@k against a caller-supplied index
    * and embedding frame. */
  def annRecallAuditOn(idx: DetIndex, emb: DataFrame, queryId: Long,
      nProbe: Int = 2, topK: Int = 10): DataFrame = {
    val approx = deterministicSearchOn(idx, emb, queryId, nProbe, topK)
      .select(col("vec_id"))
    val qEmb = emb
      .filter(col("vec_id") === queryId).select(col("embedding"))
      .head().getSeq[Float](0)
    val qCol = array(qEmb.map(lit): _*)
    val exact = emb
      .select(col("vec_id"),
        round(Similarity.cosine(col("embedding"), qCol), 6).as("cs"))
      .orderBy(col("cs").desc, col("vec_id"))
      .limit(topK)
      .select(col("vec_id"))
    approx.join(exact, Seq("vec_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .select(lit(topK.toLong).as("k"), col("n_overlap"),
        expr(s"n_overlap * 1000000 div ${topK}L").as("recall_ppm"))
  }

  /** DuckDB oracle for [[annRecallAudit]] — the q71 probe CTEs plus
    * the exact ranking and the overlap count. */
  def annRecallAuditOracleSql(queryId: Long = 7, nProbe: Int = 2,
      topK: Int = 10): String =
    s"""WITH ${buildCtes(2)},
       |q AS (SELECT x AS qx FROM xi WHERE vec_id = $queryId),
       |qe AS (SELECT CAST(embedding AS DOUBLE[]) AS qemb FROM embeddings WHERE vec_id = $queryId),
       |probe AS (SELECT c.cell FROM cent2 c CROSS JOIN q
       |          QUALIFY ROW_NUMBER() OVER (ORDER BY ${oracleD2("q.qx", "c.c")}, c.cell) <= $nProbe),
       |approx AS (
       |  SELECT a.vec_id,
       |    ROUND(LIST_INNER_PRODUCT(CAST(e.embedding AS DOUBLE[]), qe.qemb) /
       |      (SQRT(LIST_INNER_PRODUCT(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
       |       SQRT(LIST_INNER_PRODUCT(qe.qemb, qe.qemb))), 6) AS cos_sim
       |  FROM afin a
       |  JOIN probe p ON a.cell = p.cell
       |  JOIN embeddings e ON e.vec_id = a.vec_id
       |  CROSS JOIN qe
       |  ORDER BY cos_sim DESC, a.vec_id LIMIT $topK),
       |exact AS (
       |  SELECT e.vec_id,
       |    ROUND(LIST_INNER_PRODUCT(CAST(e.embedding AS DOUBLE[]), qe.qemb) /
       |      (SQRT(LIST_INNER_PRODUCT(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
       |       SQRT(LIST_INNER_PRODUCT(qe.qemb, qe.qemb))), 6) AS cs
       |  FROM embeddings e CROSS JOIN qe
       |  ORDER BY cs DESC, e.vec_id LIMIT $topK)
       |SELECT CAST($topK AS BIGINT) AS k, COUNT(*) AS n_overlap,
       |  CAST(COUNT(*) * 1000000 // $topK AS BIGINT) AS recall_ppm
       |FROM approx JOIN exact ON approx.vec_id = exact.vec_id""".stripMargin

  /** DuckDB oracle replaying [[deterministicIndex]] + [[deterministicSearch]]
    * end-to-end: seeds → `iters` unrolled Lloyd rounds (assignment by
    * exact integer distance with cell tie-break, means re-rounded to
    * micro-units) → probe ranking → cosine re-rank. */
  def deterministicOracleSql(iters: Int = 2, queryId: Long = 7,
      nProbe: Int = 2, topK: Int = 10): String = {
    s"""WITH ${buildCtes(iters)},
       |q AS (SELECT x AS qx FROM xi WHERE vec_id = $queryId),
       |qe AS (SELECT CAST(embedding AS DOUBLE[]) AS qemb FROM embeddings WHERE vec_id = $queryId),
       |probe AS (SELECT c.cell FROM cent$iters c CROSS JOIN q
       |          QUALIFY ROW_NUMBER() OVER (ORDER BY ${oracleD2("q.qx", "c.c")}, c.cell) <= $nProbe)
       |SELECT a.vec_id, a.cell,
       |  ROUND(LIST_INNER_PRODUCT(CAST(e.embedding AS DOUBLE[]), qe.qemb) /
       |    (SQRT(LIST_INNER_PRODUCT(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
       |     SQRT(LIST_INNER_PRODUCT(qe.qemb, qe.qemb))), 6) AS cos_sim
       |FROM afin a
       |JOIN probe p ON a.cell = p.cell
       |JOIN embeddings e ON e.vec_id = a.vec_id
       |CROSS JOIN qe
       |ORDER BY cos_sim DESC, a.vec_id, a.cell LIMIT $topK""".stripMargin
  }

  /** Product-quantization codebook audit (q216): the third
    * quantization scheme next to IVF routing (q46/q71) and int8 SQ
    * (q76/q174). Each vector splits into `nSub` subvectors; each
    * subspace trains its own k-code codebook by the deterministic
    * integer-µu Lloyd rule (seeds = the first k vectors' subvectors,
    * `iters` rounds, the exact q71 discipline per subspace — so the
    * oracle replays the ENTIRE build bit-for-bit). Output is the
    * audit a PQ deployment reads before trusting ADC distances: per
    * (subspace, code) the population, max and mean squared
    * reconstruction error in µu² — dead codes, lopsided cells and
    * high-error subspaces all jump out of 64 rows.
    *
    * Scale shape: the corpus is touched `iters`+1 times through ONE
    * exploded (vec_id, subspace, subvector) projection (all
    * subspaces per pass, map-side-combined aggregates); codebook
    * state is nSub·k·dsub longs on the driver — O(1) in the corpus.
    * Mean error divides an exact DECIMAL(38,0) sum (ANSI-safe at any
    * corpus size). */
  def pqAudit(spark: SparkSession, dir: String, nSub: Int = 4,
      k: Int = 16, iters: Int = 2): DataFrame =
    pqAuditOn(Tables.embeddings(spark, dir), nSub, k, iters)

  /** Frame-based core of [[pqAudit]] (needs vec_id + `dim`-float
    * embedding; vec_ids 0..k−1 must exist — they seed every
    * codebook). Assignment is the native [[argminStruct]] per
    * subspace (r15 — it replaced the broadcast codebook join +
    * min-struct aggregate, which had itself replaced the 16 s
    * literal-argmin form in round 10). */
  def pqAuditOn(emb: DataFrame, nSub: Int = 4, k: Int = 16,
      iters: Int = 2, dim: Int = 64): DataFrame = {
    val (_, assigned, _) = pqState(emb, nSub, k, iters, dim)
    assigned
      .groupBy(col("m"), col("code"))
      .agg(count(lit(1)).as("n"), max(col("d2")).as("max_err_mu2"),
        sum(col("d2").cast("decimal(38,0)")).as("serr"))
      .select(col("m").as("subspace"), col("code"), col("n"),
        col("max_err_mu2"),
        expr("CAST(serr div n AS BIGINT)").as("mean_err_mu2"))
      .orderBy(col("subspace"), col("code"), col("n"),
        col("max_err_mu2"), col("mean_err_mu2"))
  }

  /** Deterministic PQ build shared by q216/q220: runs the
    * per-subspace integer-µu Lloyd and returns (final codebooks, the
    * final (m, code, d2, sub, vec_id) assignment frame, the µu
    * vector frame `xi`). */
  private def pqState(emb: DataFrame, nSub: Int, k: Int, iters: Int,
      dim: Int): (Map[Int, Seq[(Long, Array[Long])]], DataFrame,
        DataFrame) = {
    require(dim % nSub == 0, s"dim=$dim not divisible by nSub=$nSub")
    val dsub = dim / nSub
    val xi = emb.select(col("vec_id"), muCol.as("x"))
    val subs = pqSubs(xi, nSub, dsub)
    // seeds = the k smallest vec_ids (rank-based, so a subset corpus
    // — q223's frozen-codebook side — seeds the same way)
    val seeds = xi.orderBy("vec_id").limit(k).collect()
    require(seeds.length == k, s"need at least $k vectors as PQ seeds")
    var cents: Map[Int, Seq[(Long, Array[Long])]] = (0 until nSub).map {
      m => m -> seeds.map(r => (r.getLong(0),
        r.getSeq[Long](1).slice(m * dsub, (m + 1) * dsub).toArray)).toSeq
    }.toMap
    def assigned: DataFrame = pqAssign(subs, cents)
    for (_ <- 1 to iters) {
      val sumCols = (0 until dsub).map(i =>
        sum(element_at(col("sub"), i + 1)).as(s"s$i"))
      val rows = assigned
        .groupBy(col("m"), col("code"))
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .collect()
      cents = rows.groupBy(_.getLong(0).toInt).map { case (m, rs) =>
        m -> rs.map { r =>
          val n = r.getLong(2)
          (r.getLong(1), (0 until dsub).map(i =>
            Det.halfUpLong(r.getLong(3 + i).toDouble / n)).toArray)
        }.sortBy(_._1).toSeq
      }
    }
    (cents, assigned, xi)
  }

  /** Exploded (vec_id, m, sub) view over a µu-vector frame — all
    * subspaces of a vector travel in one scan. */
  private def pqSubs(xi: DataFrame, nSub: Int, dsub: Int): DataFrame =
    xi.select(col("vec_id"),
        explode(array((0 until nSub).map(m =>
          struct(lit(m.toLong).as("m"),
            slice(col("x"), m * dsub + 1, dsub).as("sub"))): _*)).as("e"))
      .select(col("vec_id"), col("e.m").as("m"), col("e.sub").as("sub"))

  /** Per-(vec_id, subspace) argmin over the codebook as a pure
    * PROJECTION (r15): a per-m CASE dispatches to the native
    * [[argminStruct]] for that subspace's codebook — no broadcast
    * join, no N·nSub·k row stream, no (vec_id, m) exchange at all
    * (the prior aggregate's shuffle is gone from the plan). The
    * struct lands in one column first so both getFields read a
    * single evaluation (the q31 CollapseProject rule: non-cheap
    * expressions referenced twice stay in their own projection). */
  private def pqAssign(subs: DataFrame,
      cents: Map[Int, Seq[(Long, Array[Long])]]): DataFrame = {
    val ms = cents.keys.toSeq.sorted
    val dispatch = ms.tail.foldLeft(
        when(col("m") === ms.head.toLong,
          argminStruct(col("sub"), cents(ms.head)))) { (acc, m) =>
      acc.when(col("m") === m.toLong, argminStruct(col("sub"), cents(m)))
    }
    subs.withColumn("best", dispatch)
      .select(col("vec_id"), col("m"), col("best").getField("cell").as("code"),
        col("best").getField("d2").as("d2"), col("sub"))
  }

  /** PQ retrain-gain audit (q223): the index-maintenance decision —
    * when the corpus doubles, how much reconstruction error does the
    * FROZEN codebook (trained on the even-id half, standing in for
    * "the corpus before the ingest") cost versus RETRAINING on
    * everything? Per subspace: mean squared µu error of the full
    * corpus under both codebooks and the excess in ppm of the fresh
    * error. Low excess = keep serving the frozen codebook (no
    * re-encode); high = drift, rebuild. (Raw code-label churn is NOT
    * the metric — labels of independently trained codebooks carry no
    * identity; reconstruction error is what ADC actually pays.)
    *
    * Scale shape: two O(k·dsub)-driver-state Lloyd builds + two
    * broadcast-join assignments over one exploded projection; the
    * verdict join is keyed on (vec_id, m) and folds to nSub rows.
    * Means divide exact DECIMAL(38,0) sums; the excess guards a
    * zero fresh error with GREATEST(fresh, 1). */
  def pqRetrainGain(spark: SparkSession, dir: String, nSub: Int = 4,
      k: Int = 16, iters: Int = 2): DataFrame =
    pqRetrainGainOn(Tables.embeddings(spark, dir), nSub, k, iters)

  /** Frame-based core of [[pqRetrainGain]]. */
  def pqRetrainGainOn(emb: DataFrame, nSub: Int = 4, k: Int = 16,
      iters: Int = 2, dim: Int = 64): DataFrame = {
    val dsub = dim / nSub
    val centsOld = pqState(emb.filter(pmod(col("vec_id"), lit(2L)) === 0L),
      nSub, k, iters, dim)._1
    val centsNew = pqState(emb, nSub, k, iters, dim)._1
    val subs = pqSubs(emb.select(col("vec_id"), muCol.as("x")), nSub, dsub)
    def d(c: Column) = c.cast("decimal(38,0)")
    val oldA = pqAssign(subs, centsOld)
      .select(col("vec_id"), col("m"), col("d2").as("d2_frozen"))
    val newA = pqAssign(subs, centsNew)
      .select(col("vec_id"), col("m"), col("d2").as("d2_fresh"))
    oldA.join(newA, Seq("vec_id", "m"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n"),
        sum(d(col("d2_frozen"))).as("sf"),
        sum(d(col("d2_fresh"))).as("sn"))
      .select(col("m").as("subspace"), col("n"),
        expr("CAST(sf div n AS BIGINT)").as("mean_frozen_mu2"),
        expr("CAST(sn div n AS BIGINT)").as("mean_fresh_mu2"))
      .withColumn("excess_ppm",
        expr("CAST(((mean_frozen_mu2 - mean_fresh_mu2)" +
          " * CAST(1000000 AS DECIMAL(38,0)))" +
          " div GREATEST(mean_fresh_mu2, 1L) AS BIGINT)"))
      .orderBy(col("subspace"), col("n"), col("mean_frozen_mu2"),
        col("mean_fresh_mu2"), col("excess_ppm"))
  }

  /** DuckDB oracle for [[pqRetrainGain]] — two prefixed build chains
    * (frozen trains on vec_id % 2 = 0, fresh on everything; both
    * assign the full corpus), joined on (vec_id, m). */
  def pqRetrainGainOracleSql(nSub: Int = 4, k: Int = 16,
      iters: Int = 2, dim: Int = 64): String =
    s"""WITH ${pqBuildCtes(nSub, k, iters, dim, "vec_id % 2 = 0", "o_")},
       |${pqBuildCtes(nSub, k, iters, dim, "TRUE", "n_")},
       |j AS (
       |  SELECT o.m,
       |    CAST(SUM(CAST(o.d2 AS HUGEINT)) // COUNT(*) AS BIGINT)
       |      AS mean_frozen_mu2,
       |    CAST(SUM(CAST(n2.d2 AS HUGEINT)) // COUNT(*) AS BIGINT)
       |      AS mean_fresh_mu2,
       |    COUNT(*) AS n
       |  FROM o_afin o JOIN n_afin n2
       |    ON n2.vec_id = o.vec_id AND n2.m = o.m
       |  GROUP BY o.m)
       |SELECT m AS subspace, n, mean_frozen_mu2, mean_fresh_mu2,
       |  CAST((mean_frozen_mu2 - mean_fresh_mu2)
       |    * CAST(1000000 AS HUGEINT)
       |    // GREATEST(mean_fresh_mu2, 1) AS BIGINT) AS excess_ppm
       |FROM j
       |ORDER BY subspace, n, mean_frozen_mu2, mean_fresh_mu2,
       |  excess_ppm""".stripMargin

  /** PQ ADC recall audit (q220): the q169 companion for the q216
    * codebooks — rank the corpus by ASYMMETRIC distance (query
    * subvector → assigned code centroid, the constant-time lookup a
    * PQ index actually serves) and report the ADC top-k with a flag
    * for membership in the EXACT µu-L2 top-k. The audit that decides
    * whether nSub/k give usable recall before a PQ index ships.
    *
    * Scale shape: the ADC distance is a broadcast join of the
    * nSub·k-row lookup table against the (vec_id, m, code) frame +
    * one keyed sum — never a vector-by-vector distance; the exact
    * ranking is the one full scan any recall audit needs. */
  def pqAdcRecall(spark: SparkSession, dir: String, queryId: Long = 7,
      nSub: Int = 4, k: Int = 16, iters: Int = 2,
      topK: Int = 10): DataFrame =
    pqAdcRecallOn(Tables.embeddings(spark, dir), queryId, nSub, k,
      iters, topK)

  /** Frame-based core of [[pqAdcRecall]]. */
  def pqAdcRecallOn(emb: DataFrame, queryId: Long, nSub: Int = 4,
      k: Int = 16, iters: Int = 2, topK: Int = 10,
      dim: Int = 64): DataFrame = {
    val dsub = dim / nSub
    val spark = emb.sparkSession
    import spark.implicits._
    val (cents, assigned, xi) = pqState(emb, nSub, k, iters, dim)
    val q = xi.filter(col("vec_id") === queryId)
      .head().getSeq[Long](1).toArray
    val adcTable = cents.toSeq.flatMap { case (m, cs) =>
      val qm = q.slice(m * dsub, (m + 1) * dsub)
      cs.map { case (code, c) =>
        (m.toLong, code,
          qm.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
    }.toDF("m", "code", "qd2")
    val adcTop = assigned.select(col("vec_id"), col("m"), col("code"))
      .filter(col("vec_id") =!= queryId)
      .join(broadcast(adcTable), Seq("m", "code"))
      .groupBy(col("vec_id")).agg(sum(col("qd2")).as("adc_d2"))
      .orderBy(col("adc_d2"), col("vec_id")).limit(topK)
    val qCol = array(q.map(lit): _*)
    val exact = xi.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"),
        l2mu(col("x"), qCol).as("ed2"))
      .orderBy(col("ed2"), col("vec_id")).limit(topK)
      .select(col("vec_id"), lit(true).as("hit"))
    adcTop.join(exact, Seq("vec_id"), "left")
      .select(col("vec_id"), col("adc_d2"),
        coalesce(col("hit"), lit(false)).as("in_exact_topk"))
      .orderBy(col("adc_d2"), col("vec_id"), col("in_exact_topk"))
  }

  /** Shared oracle CTE chain replaying the PQ build — per-subspace
    * unrolled Lloyd (the [[buildCtes]] pattern sliced), same
    * rank-based seeds, same single IEEE mean-rounding op, same
    * (d2, code) tie-break. Ends with `${p}afin` = (vec_id, m, code,
    * d2) and `${p}cent$iters`. `buildPred` restricts the TRAINING
    * subset (seeds + Lloyd assignments) while the final assignment
    * covers the whole corpus — q223's frozen-codebook side; `p`
    * prefixes every CTE name so two chains can coexist in one
    * statement. */
  private def pqBuildCtes(nSub: Int, k: Int, iters: Int, dim: Int,
      buildPred: String = "TRUE", p: String = ""): String = {
    val dsub = dim / nSub
    val mu = s"list_transform(range(1, ${dim + 1}), i -> " +
      "CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))"
    def d2(s: String, c: String) =
      s"list_sum(list_transform(range(1, ${dsub + 1}), " +
        s"i -> ($s[i] - $c[i]) * ($s[i] - $c[i])))"
    val rounds = (0 until iters).map { r =>
      s"""${p}d$r AS (SELECT s.vec_id, s.m, c.code, ${d2("s.sub", "c.c")} AS d2
         |        FROM ${p}sub s JOIN ${p}cent$r c ON c.m = s.m
         |        WHERE $buildPred),
         |${p}a$r AS (SELECT vec_id, m, code FROM ${p}d$r
         |        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, code) = 1),
         |${p}s$r AS (SELECT a.m, a.code, g.i AS pos,
         |          CAST(ROUND(CAST(SUM(s.sub[g.i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
         |        FROM ${p}a$r a JOIN ${p}sub s ON s.vec_id = a.vec_id AND s.m = a.m
         |        CROSS JOIN generate_series(1, $dsub) g(i)
         |        GROUP BY a.m, a.code, g.i),
         |${p}cent${r + 1} AS (SELECT m, code, list(v ORDER BY pos) AS c FROM ${p}s$r GROUP BY m, code)""".stripMargin
    }.mkString(",\n")
    s"""${p}xi AS (SELECT vec_id, $mu AS x FROM embeddings),
       |${p}ms AS (SELECT UNNEST(range(0, $nSub)) AS m),
       |${p}sub AS (SELECT vec_id, CAST(ms.m AS BIGINT) AS m,
       |          x[ms.m * $dsub + 1 : (ms.m + 1) * $dsub] AS sub
       |        FROM ${p}xi xi CROSS JOIN ${p}ms ms),
       |${p}cent0 AS (SELECT m, vec_id AS code, sub AS c FROM ${p}sub s
       |         WHERE $buildPred
       |         QUALIFY ROW_NUMBER() OVER (PARTITION BY m ORDER BY vec_id) <= $k),
       |$rounds,
       |${p}fin AS (SELECT s.vec_id, s.m, c.code, ${d2("s.sub", "c.c")} AS d2
       |        FROM ${p}sub s JOIN ${p}cent$iters c ON c.m = s.m),
       |${p}afin AS (SELECT vec_id, m, code, d2 FROM ${p}fin
       |         QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, code) = 1)""".stripMargin
  }

  /** DuckDB oracle for [[pqAudit]]. */
  def pqOracleSql(nSub: Int = 4, k: Int = 16, iters: Int = 2,
      dim: Int = 64): String =
    s"""WITH ${pqBuildCtes(nSub, k, iters, dim)}
       |SELECT m AS subspace, CAST(code AS BIGINT) AS code,
       |  COUNT(*) AS n, CAST(MAX(d2) AS BIGINT) AS max_err_mu2,
       |  CAST(SUM(CAST(d2 AS HUGEINT)) // COUNT(*) AS BIGINT)
       |    AS mean_err_mu2
       |FROM afin GROUP BY m, code
       |ORDER BY subspace, code, n, max_err_mu2, mean_err_mu2""".stripMargin

  /** DuckDB oracle for [[pqAdcRecall]] — the shared build chain plus
    * the ADC lookup table, the keyed ADC sum, and the exact µu-L2
    * top-k flag. */
  def pqAdcRecallOracleSql(queryId: Long = 7, nSub: Int = 4,
      k: Int = 16, iters: Int = 2, topK: Int = 10,
      dim: Int = 64): String = {
    val dsub = dim / nSub
    s"""WITH ${pqBuildCtes(nSub, k, iters, dim)},
       |q AS (SELECT x AS qx FROM xi WHERE vec_id = $queryId),
       |adct AS (
       |  SELECT c.m, c.code,
       |    list_sum(list_transform(range(1, ${dsub + 1}),
       |      i -> (q.qx[c.m * $dsub + i] - c.c[i])
       |         * (q.qx[c.m * $dsub + i] - c.c[i]))) AS qd2
       |  FROM cent$iters c CROSS JOIN q),
       |adc AS (
       |  SELECT a.vec_id, CAST(SUM(t.qd2) AS BIGINT) AS adc_d2
       |  FROM afin a JOIN adct t ON t.m = a.m AND t.code = a.code
       |  WHERE a.vec_id != $queryId
       |  GROUP BY a.vec_id
       |  ORDER BY adc_d2, vec_id LIMIT $topK),
       |exact AS (
       |  SELECT vec_id FROM xi CROSS JOIN q
       |  WHERE vec_id != $queryId
       |  ORDER BY list_sum(list_transform(range(1, ${dim + 1}),
       |    i -> (x[i] - q.qx[i]) * (x[i] - q.qx[i]))), vec_id
       |  LIMIT $topK)
       |SELECT adc.vec_id, adc.adc_d2,
       |  (e.vec_id IS NOT NULL) AS in_exact_topk
       |FROM adc LEFT JOIN exact e ON e.vec_id = adc.vec_id
       |ORDER BY adc_d2, adc.vec_id, in_exact_topk""".stripMargin
  }
}
