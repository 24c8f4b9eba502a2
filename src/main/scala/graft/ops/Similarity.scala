package graft.ops

import graft.Tables
import graft.functions.GraftFunctions.{dotf, scaleRound}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (SURVEY.md §2B [ext]):
  * brute-force cosine top-k as the exactness baseline, random-
  * hyperplane LSH bucketing as the scale path, per-label centroids.
  *
  * Scale shapes: brute-force against ONE query is a broadcast of the
  * query + a narrow map + TakeOrderedAndProject — linear, fine at any
  * size. All-pairs brute force is never materialized; the LSH variant
  * joins only within buckets. Dot products run through the native
  * DotProductF codegen expression (no UDF, no interpreted lambdas);
  * float×float products are exact in double, and the sequential
  * accumulation order is stable.
  */
object Similarity {

  /** dot(a, b) in double precision via the native codegen expression
    * (graft.functions.DotProductF): one JIT'd loop instead of
    * interpreted zip_with/aggregate lambdas — bit-identical results
    * (same cast + summation order). */
  def dot(a: Column, b: Column): Column = dotf(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Brute-force top-k by cosine against the vec_id=0 embedding.
    * Rounded to 6dp so the (order-stable but engine-specific) float
    * fold can't flip the ranking vs the oracle. */
  def cosineTopK(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        round(cosine(col("embedding"), col("q_emb")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Deterministic random hyperplanes (seed 42) for LSH bucketing. */
  def hyperplanes(numPlanes: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(42)
    Array.fill(numPlanes, dim)(rnd.nextGaussian())
  }

  /** Sign-of-projection LSH bucket id (one bit per hyperplane). Two
    * vectors at cosine angle θ land in the same bucket with
    * probability (1 - θ/π)^numPlanes. The projection is rounded to 6dp
    * before the sign test so bucket ids are reproducible across
    * engines regardless of float-summation order (the DuckDB oracle
    * computes the same rounded dot from the same plane literals). */
  def lshBucket(emb: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.foldLeft(lit(0L)) { case (acc, (p, j)) =>
      val planeCol = array(p.map(lit): _*)
      acc.bitwiseOR(
        when(round(dot(emb, planeCol), 6) > 0, shiftleft(lit(1L), j)).otherwise(0L))
    }

  /** LSH plane-count tuner (q270): the executable forecast face of
    * [[autoPlanes]] — the "design from data" planner family (q229/
    * q238/q259/q260/q262/q263/q267/q269) applied to the one sizing
    * rule of the embedding-LSH family that had no query face. For
    * every plane count p ∈ 8..20 it reports the EXACT bucket-occupancy
    * statistics of this corpus under the first p hyperplanes — bucket
    * count, max bucket, the all-pairs candidate volume Σ m(m−1)/2 the
    * p-plane self-join would generate (the q229 Σn² statistic on the
    * LSH key), and the rule's own expected occupancy N >> p — plus
    * the autoPlanes choice, re-derived from the data by the oracle
    * (the autoK rule). This is the row that explains the measured
    * N^2.0 → N^1.05 edge flattening (BASELINE.md round 11) BEFORE the
    * join runs: fixed p lets cand_pairs grow quadratically; the
    * chosen p holds occupancy (and so the candidate stream) ~flat.
    *
    * Everything is exact integer arithmetic — no S-curve fold needed:
    * occupancy is a fact of the corpus, not a model. The one float
    * step is the sign-of-projection bucket bit, the already-proven
    * q43 device (dot rounded to 6dp before the sign on both engines).
    *
    * Scale shape: ONE narrow corpus scan computes the 20-bit bucket
    * (bit j = plane j, so the p-plane bucket is exactly the low-p-bit
    * prefix — hyperplanes(p) is a prefix of hyperplanes(20) by the
    * seeded row-major fill); everything after rides the ≤ min(N, 2^20)
    * -row bucket histogram (register-persisted, 2 consumers): a
    * 13-row plane spine crossed with it, integer masks, DECIMAL(38,0)
    * pair sums. No window, no collect, nothing corpus-sized past the
    * first aggregate. */
  def planePlan(spark: SparkSession, dir: String): DataFrame = {
    planePlanOn(Tables.embeddings(spark, dir))
  }

  /** Plane-count grid: autoPlanes' own domain (floor 8, cap 20). */
  val PlanePlanMax = 20

  /** Frame-based core of [[planePlan]]. */
  def planePlanOn(emb: DataFrame): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    val planes = hyperplanes(PlanePlanMax, 64)
    val hist = graft.ops.Dedup.register(emb
      .select(lshBucket(col("embedding"), planes).as("b20"))
      .groupBy(col("b20")).agg(count(lit(1)).as("n"))
      .persist())
    val pSpine = emb.sparkSession.range(8, PlanePlanMax + 1)
      .select(col("id").as("p"))
    val tot = hist.agg(sum(col("n")).cast("long").as("nv"))
    val byBucket = hist.crossJoin(broadcast(pSpine))
      .groupBy(col("p"),
        expr("b20 & (shiftleft(CAST(1 AS BIGINT), CAST(p AS INT)) - 1)")
          .as("bp"))
      .agg(sum(col("n")).as("m"))
    val stats = byBucket.groupBy(col("p")).agg(
      count(lit(1)).as("n_buckets"),
      max(col("m")).as("max_bucket"),
      sum(d(col("m")) * (d(col("m")) - lit(1))).as("cp2"))
    // the autoPlanes rule, as data: smallest p with N >> p at or
    // under the target occupancy, else the cap
    val auto = pSpine.crossJoin(broadcast(tot))
      .agg(coalesce(
        min(when(expr("shiftright(nv, CAST(p AS INT))") <= 24L,
          col("p"))),
        lit(PlanePlanMax.toLong)).as("ap"))
    stats.crossJoin(broadcast(tot)).crossJoin(broadcast(auto))
      .select(col("p").cast("long").as("p"),
        col("n_buckets").cast("long").as("n_buckets"),
        col("max_bucket").cast("long").as("max_bucket"),
        expr("CAST(cp2 div 2 AS BIGINT)").as("cand_pairs"),
        expr("CAST(shiftright(nv, CAST(p AS INT)) AS BIGINT)")
          .as("exp_occupancy"),
        (col("p") === col("ap")).as("chosen"))
      .orderBy(col("p"), col("n_buckets"), col("max_bucket"),
        col("cand_pairs"), col("exp_occupancy"), col("chosen"))
  }

  /** DuckDB oracle for [[planePlan]]: the q43 plane-literal replay at
    * 20 planes, prefix masks, HUGEINT pair sums, the autoPlanes rule
    * as a scalar subquery. */
  def planePlanOracleSql: String = {
    val planeValues = hyperplanes(PlanePlanMax, 64).zipWithIndex
      .map { case (p, j) => s"($j, [${p.mkString(", ")}])" }
      .mkString(",\n  ")
    s"""WITH planes(j, plane) AS (VALUES
       |  $planeValues),
       |dots AS (
       |  SELECT e.vec_id, p.j,
       |    ROUND(list_sum(list_transform(range(1, 65),
       |      i -> CAST(e.embedding[i] AS DOUBLE) * p.plane[i])), 6) AS d
       |  FROM embeddings e CROSS JOIN planes p
       |), b AS (
       |  SELECT vec_id,
       |    CAST(SUM(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << j)
       |      ELSE 0 END) AS BIGINT) AS b20
       |  FROM dots GROUP BY vec_id
       |), hist AS (
       |  SELECT b20, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY b20
       |), tot AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS nv FROM hist
       |), ps AS (
       |  SELECT CAST(UNNEST(range(8, ${PlanePlanMax + 1})) AS BIGINT) AS p
       |), byb AS (
       |  SELECT p, b20 & ((CAST(1 AS BIGINT) << p) - 1) AS bp,
       |    CAST(SUM(n) AS BIGINT) AS m
       |  FROM hist CROSS JOIN ps GROUP BY p, bp
       |), stats AS (
       |  SELECT p, CAST(COUNT(*) AS BIGINT) AS n_buckets,
       |    CAST(MAX(m) AS BIGINT) AS max_bucket,
       |    SUM(CAST(m AS HUGEINT) * (m - 1)) AS cp2
       |  FROM byb GROUP BY p
       |), auto AS (
       |  SELECT COALESCE(MIN(CASE WHEN (nv >> p) <= 24 THEN p END),
       |    $PlanePlanMax) AS ap
       |  FROM ps CROSS JOIN tot
       |)
       |SELECT p, n_buckets, max_bucket,
       |  CAST(cp2 // 2 AS BIGINT) AS cand_pairs,
       |  CAST(nv >> p AS BIGINT) AS exp_occupancy,
       |  (p = (SELECT ap FROM auto)) AS chosen
       |FROM stats CROSS JOIN tot
       |ORDER BY p, n_buckets, max_bucket, cand_pairs, exp_occupancy,
       |  chosen""".stripMargin
  }

  /** Per-vector LSH bucket assignment (the ANN index build). */
  def annBuckets(spark: SparkSession, dir: String, numPlanes: Int = 8): DataFrame = {
    val planes = hyperplanes(numPlanes, 64)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        lshBucket(col("embedding"), planes).as("bucket"))
      .orderBy(col("vec_id"), col("label"), col("bucket"))
  }

  /** ANN search: probe only the query's bucket, exact cosine re-rank
    * inside it. Recall vs brute force is measured in SimilaritySpec. */
  def annSearch(emb: DataFrame, queryVec: Array[Float], k: Int,
      numPlanes: Int = 8): DataFrame = {
    val planes = hyperplanes(numPlanes, 64)
    val qCol = array(queryVec.map(lit): _*)
    val qBucket = lshBucket(qCol, planes)
    emb.withColumn("bucket", lshBucket(col("embedding"), planes))
      .filter(col("bucket") === qBucket)
      .select(col("vec_id"),
        round(cosine(col("embedding"), qCol), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Driver-side bucket id of a concrete query vector — same dot
    * order, rounding (Scala BigDecimal HALF_UP == Spark round), and
    * bit layout as [[lshBucket]], so the enumerated probe list hits
    * exactly the buckets the table-side expression assigns. */
  def bucketOf(queryVec: Array[Float], planes: Array[Array[Double]]): Long =
    planes.zipWithIndex.foldLeft(0L) { case (acc, (p, j)) =>
      var d = 0.0
      var i = 0
      while (i < p.length) { d += queryVec(i).toDouble * p(i); i += 1 }
      val r = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (r > 0) acc | (1L << j) else acc
    }

  /** Multi-probe ANN: probe every bucket within `maxHamming` bits of
    * the query's bucket — the standard recall fix for sign-LSH (a
    * projection near zero flips one bit and hides the neighbour one
    * bucket away). The probe set is enumerated driver-side as an
    * explicit id list (C(P,0..H) ids, 9 for P=8 H=1), so a
    * bucket-partitioned cell table still partition-prunes the probe
    * instead of scanning for a bit_count predicate. */
  def annSearchMultiProbe(emb: DataFrame, queryVec: Array[Float], k: Int,
      numPlanes: Int = 8, maxHamming: Int = 1): DataFrame = {
    require(numPlanes <= 20, "probe enumeration is 2^numPlanes")
    val planes = hyperplanes(numPlanes, 64)
    val qb = bucketOf(queryVec, planes)
    val probes = (0 until (1 << numPlanes))
      .filter(m => java.lang.Integer.bitCount(m) <= maxHamming)
      .map(m => qb ^ m.toLong)
    val qCol = array(queryVec.map(lit): _*)
    emb.withColumn("bucket", lshBucket(col("embedding"), planes))
      .filter(col("bucket").isin(probes.map(java.lang.Long.valueOf): _*))
      .select(col("vec_id"),
        round(cosine(col("embedding"), qCol), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Query entry: multi-probe search for vec_id 7's embedding
    * (hamming<=1 probe ring, top-10 by exact cosine re-rank). */
  def annMultiProbeTop10(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") === 7).select("embedding")
      .head().getSeq[Float](0).toArray
    annSearchMultiProbe(emb, q, k = 10)
  }

  // ------------------------------------------- scalar-quantized ANN

  /** Fixed symmetric int8 quantization scale: embeddings here live in
    * (-0.5, 0.5), so round(v*255) fills (-128, 128) — at 100 TB the
    * quantized corpus is stored as tinyint (4× smaller scan than
    * float32) and candidate ranking is pure integer arithmetic. */
  val SqScale = 255

  /** Scalar-quantized (int8-style) ANN: rank the corpus by EXACT
    * integer dot product over round(v*255) codes, take the top
    * `candidates` (deterministic (score desc, vec_id) cut), then
    * re-rank the survivors by exact float cosine — the compression
    * complement of the LSH/IVF pruning paths (those prune WHICH
    * vectors are scored; this shrinks WHAT is scored). Quantization
    * and integer math are bit-exact across engines, so unlike
    * ML-KMeans IVF this path is fully oracle-checkable. The query's
    * codes are unrolled as 64 literal terms — a codegen'd integer
    * multiply-add chain, no interpreted lambdas. */
  def sqAnnTopK(spark: SparkSession, dir: String, queryId: Long = 7,
      topK: Int = 10, candidates: Int = 50): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qEmb = emb.filter(col("vec_id") === queryId)
      .select(col("embedding")).head().getSeq[Float](0)
    val qCodes = qEmb.map(v => Det.halfUpLong(v.toDouble * SqScale)).toArray
    val codes =
      scaleRound(col("embedding"), SqScale.toLong)
    val intScore = qCodes.zipWithIndex.map { case (q, i) =>
      element_at(col("__codes"), i + 1) * lit(q)
    }.reduce(_ + _)
    val qCol = array(qEmb.map(lit): _*)
    emb.withColumn("__codes", codes)
      .withColumn("int_score", intScore)
      .orderBy(col("int_score").desc, col("vec_id"))
      .limit(candidates)
      .select(col("vec_id"), col("int_score"),
        round(cosine(col("embedding"), qCol), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"), col("int_score"))
      .limit(topK)
  }

  /** DuckDB oracle replaying [[sqAnnTopK]]: same quantization, integer
    * candidate cut, and rounded-cosine re-rank. */
  def sqAnnOracleSql(queryId: Long = 7, topK: Int = 10,
      candidates: Int = 50): String =
    s"""WITH xi AS (
       |  SELECT vec_id, list_transform(range(1, 65),
       |    i -> CAST(ROUND(CAST(embedding[i] AS DOUBLE) * $SqScale) AS BIGINT)) AS x
       |  FROM embeddings
       |), q AS (SELECT x AS qx FROM xi WHERE vec_id = $queryId),
       |scored AS (
       |  SELECT vec_id,
       |    list_sum(list_transform(range(1, 65), i -> x[i] * q.qx[i])) AS int_score
       |  FROM xi CROSS JOIN q
       |), cand AS (
       |  SELECT vec_id, int_score FROM scored
       |  QUALIFY ROW_NUMBER() OVER (ORDER BY int_score DESC, vec_id) <= $candidates
       |), qe AS (
       |  SELECT CAST(embedding AS DOUBLE[]) AS qemb FROM embeddings
       |  WHERE vec_id = $queryId
       |)
       |SELECT c.vec_id, CAST(c.int_score AS BIGINT) AS int_score,
       |  ROUND(LIST_INNER_PRODUCT(CAST(e.embedding AS DOUBLE[]), qe.qemb) /
       |    (SQRT(LIST_INNER_PRODUCT(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
       |     SQRT(LIST_INNER_PRODUCT(qe.qemb, qe.qemb))), 6) AS cos_sim
       |FROM cand c
       |JOIN embeddings e ON e.vec_id = c.vec_id
       |CROSS JOIN qe
       |ORDER BY cos_sim DESC, c.vec_id, c.int_score LIMIT $topK""".stripMargin

  /** SQ reconstruction-error audit (q174): per vector, the worst and
    * total error the int8-style scalar quantization (the q76 codes:
    * round(v·255)) introduces, measured in exact micro-units —
    * err_i = |round(v_i·1e6) − code_i·1e6 div 255| (truncating div,
    * identical in both engines incl. negatives — the round-5 `//`
    * finding). The deploy-gate every quantized-index rollout runs:
    * a vector whose max_err_mu is large sits near a code boundary
    * and its int-score candidate cut (q76) is least trustworthy.
    * Pure integer output (err ≤ ~3922 µu, sum of 64 squares < 2^40),
    * so the DuckDB replay is bit-exact.
    *
    * Scale shape: one narrow per-row array fold, no shuffle, no join
    * — linear in vectors; audit cadence (the per-element HOF lambdas
    * are interpreted, which is fine off the hot path — the hot probe
    * path q76 keeps its unrolled codegen literals). */
  def sqErrorAudit(spark: SparkSession, dir: String): DataFrame =
    sqErrorAuditOn(Tables.embeddings(spark, dir))

  /** Frame-based core of [[sqErrorAudit]] (needs vec_id, embedding) —
    * the 10x rehearsal entry point. */
  def sqErrorAuditOn(emb: DataFrame): DataFrame = {
    val errs = expr(
      s"""transform(embedding, v ->
         |  abs(cast(round(cast(v as double) * 1000000, 0) as bigint)
         |    - (cast(round(cast(v as double) * $SqScale, 0) as bigint)
         |       * 1000000 div $SqScale)))""".stripMargin)
    emb
      .select(col("vec_id"), errs.as("errs"))
      .select(col("vec_id"),
        array_max(col("errs")).as("max_err_mu"),
        expr("aggregate(errs, 0L, (a, e) -> a + e * e)").as("sum_sq_err"))
      .orderBy(col("vec_id"), col("max_err_mu"), col("sum_sq_err"))
  }

  /** DuckDB oracle for [[sqErrorAudit]] — same quantize/dequantize
    * integer chain per element. */
  def sqErrorAuditOracleSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, list_transform(range(1, 65), i ->
       |    abs(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
       |      - (CAST(ROUND(CAST(embedding[i] AS DOUBLE) * $SqScale) AS BIGINT)
       |         * 1000000 // $SqScale))) AS errs
       |  FROM embeddings)
       |SELECT vec_id, CAST(list_max(errs) AS BIGINT) AS max_err_mu,
       |  CAST(list_sum(list_transform(errs, x -> x * x)) AS BIGINT)
       |    AS sum_sq_err
       |FROM e
       |ORDER BY vec_id, max_err_mu, sum_sq_err""".stripMargin

  /** Embedding near-duplicate pairs, exact form over an id-bounded
    * subset (the oracle-checkable shape: one side is 200 rows and
    * broadcasts). Cosine is rounded BEFORE thresholding so the float
    * fold can't flip a boundary decision vs the oracle. */
  def embeddingNearDups(spark: SparkSession, dir: String,
      maxId: Long = 200, minCos: Double = 0.2): DataFrame = {
    val e = Tables.embeddings(spark, dir).filter(col("vec_id") < maxId)
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", round(cosine(col("emb_a"), col("emb_b")), 6))
      .filter(col("cos_sim") >= minCos)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Pair-density curve (q144): pair counts per 0.05-wide cosine bin
    * over an id-bounded subset — the pre-flight a dedup run reads to
    * pick its threshold, operationalizing the round-5 rehearsal
    * finding that "near-dup" edge counts explode once the threshold
    * drops into the mildly-similar mass (cos ≥ 0.2 grew ~quadratically
    * at 10x while true near-dups stayed linear; BASELINE.md). The
    * curve shows exactly where the sparse regime ends.
    *
    * Determinism: cosine rounds to 6 decimals, scales to integer ppm,
    * and bins by EXPLICIT floor division (truncating div minus one on
    * negative remainders — cosines are signed; the q137 rule), so
    * DuckDB replays every bin edge bit-exactly.
    *
    * Scale shape: the registered query is the audit-grade exact form
    * on a bounded subset (q34's small-N discipline: one broadcast of
    * ≤ maxId rows); at corpus scale, feed the same binning the
    * LSH-bucket pair sample ([[lshEmbeddingNearDups]] at threshold
    * −1) over a corpus fraction — the curve only needs relative
    * densities, not the full pair set. */
  def pairDensityCurve(spark: SparkSession, dir: String,
      maxId: Long = 200): DataFrame = {
    val e = Tables.embeddings(spark, dir).filter(col("vec_id") < maxId)
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .withColumn("cppm",
        round(round(cosine(col("emb_a"), col("emb_b")), 6) * 1000000d, 0)
          .cast("long"))
      .withColumn("bin",
        expr("(cppm div 50000) - (case when cppm % 50000 < 0" +
          " then 1 else 0 end)"))
      .groupBy((col("bin") * 50000L).as("bin_lo_ppm"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("bin_lo_ppm"), col("n_pairs"))
  }

  /** Scale path: near-dup pairs via LSH bucket join — only vectors in
    * the same bucket are compared (recall/threshold trade measured in
    * AnalyticsSpec with planted duplicates). */
  /** Plane count that holds expected LSH bucket occupancy constant:
    * the smallest p ≥ 8 with nVecs / 2^p ≤ targetPerBucket (capped at
    * 20). Fixed planes make bucket DENSITY — and so candidate-pair
    * volume — grow N² (measured: edge count fits N^2.0 over the
    * 1x→10x→30x rehearsal decades, BASELINE.md round 11); planes ∝
    * log₂N holds pairs-per-bucket constant so the edge stream grows
    * ~linearly, the same constant-cell-size move as Ivf.autoK. Safe
    * for the near-DUP contract: a true near-duplicate pair (θ ≈ 0)
    * keeps per-plane agreement 1 − θ/π ≈ 1, so its bucket-collision
    * probability stays high at ANY plane count — extra planes shed
    * the unrelated-pair mass, not the duplicates (recall spec in
    * Round11OpsSpec). */
  def autoPlanes(nVecs: Long, targetPerBucket: Long = 24L): Int = {
    var p = 8
    while ((nVecs >> p) > targetPerBucket && p < 20) p += 1
    p
  }

  def lshEmbeddingNearDups(emb: DataFrame, minCos: Double,
      numPlanes: Int = 8): DataFrame = {
    val planes = hyperplanes(numPlanes, 64)
    val bucketed = emb.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding"), planes).as("bucket"))
    val a = bucketed.select(col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"), col("bucket"))
    val b = bucketed.select(col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", round(cosine(col("emb_a"), col("emb_b")), 6))
      .filter(col("cos_sim") >= minCos)
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
  }

  /** Query entry: dedup clusters over the embedding near-dup graph
    * (q44's oracle-checked pairs) — every vector labeled with the min
    * id reachable through cos >= 0.2 edges.
    *
    * The edge generator here is the exact all-pairs form, deliberately
    * id-bounded (< 200 vectors) so the oracle can replay it; at corpus
    * scale swap in [[lshEmbeddingNearDups]] as the edge source — the
    * component algorithm is agnostic to the generator, and
    * AnalyticsSpec proves both edge paths produce identical clusters
    * on planted duplicates. */
  def embeddingClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupClusters(embeddingNearDups(spark, dir), "vec_a", "vec_b")
      .select(col("node").as("vec_id"), col("cluster_id"))
      .orderBy(col("vec_id"), col("cluster_id"))

  /** Shared oracle CTE chain for the q65 connected-components replay:
    * id-bounded exact near-dup edges → symmetric closure → transitive
    * reachability fixpoint → `cl` = (vec_id, cluster_id). The caller
    * prepends WITH RECURSIVE. Shared by q65 (default τ) and the q166
    * size profile (tighter τ — at 0.2 the 200-node graph is one giant
    * component, a single-row profile) so the cluster definition
    * cannot drift. */
  /** The id-bounded exact near-dup edge CTEs alone (`pairs` +
    * symmetric closure `e`) — shared by [[clusterOracleCtes]] and the
    * q213 k-core peel so the edge definition cannot drift. */
  def edgeOracleCtes(minCos: Double = 0.2): String =
    s"""pairs AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb
      |  FROM embeddings a JOIN embeddings b
      |    ON a.vec_id < b.vec_id AND a.vec_id < 200 AND b.vec_id < 200
      |  WHERE ROUND(LIST_INNER_PRODUCT(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
      |      (SQRT(LIST_INNER_PRODUCT(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
      |       SQRT(LIST_INNER_PRODUCT(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 6) >= $minCos
      |),
      |e AS (SELECT va AS a, vb AS b FROM pairs UNION SELECT vb, va FROM pairs)""".stripMargin

  def clusterOracleCtes(minCos: Double = 0.2): String =
    s"""${edgeOracleCtes(minCos)},
      |reach AS (
      |  SELECT a, b FROM e
      |  UNION
      |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a
      |),
      |cl AS (
      |  SELECT a AS vec_id, CAST(LEAST(a, MIN(b)) AS BIGINT) AS cluster_id
      |  FROM reach GROUP BY a
      |)""".stripMargin

  /** Near-dup cluster size profile (q166): the distribution of
    * connected-component sizes over the q65 near-dup graph — the
    * release metric that tells a corpus owner whether duplication is
    * a long tail of pairs or a few giant template families (which
    * decides star-guard/canonicalization strategy). Rows are
    * (cluster_size, n_clusters, n_members) — exact counts over the
    * same cluster labels q65 emits.
    *
    * Scale shape: two keyed aggregates on top of the CC output
    * (cluster_id sizes, then size histogram) — both map-side
    * combined, output is O(distinct sizes). */
  def clusterSizeProfile(spark: SparkSession, dir: String,
      minCos: Double = 0.35): DataFrame =
    Dedup.dedupClusters(embeddingNearDups(spark, dir, minCos = minCos),
        "vec_a", "vec_b")
      .select(col("node").as("vec_id"), col("cluster_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        expr("CAST(cluster_size * count(1) AS BIGINT)").as("n_members"))
      .orderBy(col("cluster_size"), col("n_clusters"), col("n_members"))

  /** DuckDB oracle for [[clusterSizeProfile]] — the q65 CTEs plus two
    * rollups. */
  def clusterSizeProfileOracleSql(minCos: Double = 0.35): String =
    s"""WITH RECURSIVE ${clusterOracleCtes(minCos)},
       |sz AS (
       |  SELECT cluster_id, COUNT(*) AS cluster_size
       |  FROM cl GROUP BY cluster_id)
       |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       |  COUNT(*) AS n_clusters,
       |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_members
       |FROM sz GROUP BY cluster_size
       |ORDER BY cluster_size, n_clusters, n_members""".stripMargin

  /** k-core decomposition (q213): iteratively peel nodes of degree
    * < k from the near-dup graph until the fixpoint; survivors with
    * their final in-core degree. The dense-core complement of q166's
    * size profile — a component can be huge but tree-like (chained
    * borderline pairs, safe to canonicalize greedily) or contain a
    * dense k-core (a template family where EVERY member duplicates
    * every other; the mass the star guard and keep-best policy exist
    * for). Runs `rounds` peel passes unconditionally and then
    * REQUIRES the fixpoint (one more peel changes nothing) — loud if
    * the bound is ever too small, and the oracle replays exactly the
    * same `rounds` unrolled passes.
    *
    * Scale shape: each pass is one keyed degree aggregate + two semi
    * joins on the (shrinking) edge table, localCheckpoint-truncated
    * per round (the dedupClusters lesson); peel rounds needed grow
    * with graph degeneracy, not size. */
  def kCore(spark: SparkSession, dir: String, k: Int = 3,
      minCos: Double = 0.25, rounds: Int = 10): DataFrame =
    kCoreOn(embeddingNearDups(spark, dir, minCos = minCos)
      .select(col("vec_a"), col("vec_b")), k, rounds)

  /** Frame-based core of [[kCore]] over undirected (vec_a, vec_b)
    * pairs (each pair once; symmetric closure happens here). */
  def kCoreOn(pairs: DataFrame, k: Int, rounds: Int): DataFrame = {
    var e = pairs.select(col("vec_a").as("a"), col("vec_b").as("b"))
      .union(pairs.select(col("vec_b").as("a"), col("vec_a").as("b")))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val alive = e.groupBy(col("a")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("a"))
      e = e.join(alive, Seq("a"), "left_semi")
        .join(alive.select(col("a").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
        .localCheckpoint()
    }
    val deg = e.groupBy(col("a")).agg(count(lit(1)).as("degree"))
    val unconverged = deg.filter(col("degree") < lit(k.toLong)).count()
    require(unconverged == 0,
      s"k-core peel not at fixpoint after $rounds rounds " +
        s"($unconverged nodes still below k=$k) — raise `rounds` " +
        s"(the oracle unrolls the same bound)")
    deg.select(col("a").as("vec_id"), col("degree"))
      .orderBy(col("vec_id"), col("degree"))
  }

  /** DuckDB oracle for [[kCore]] — the shared q65 edge CTEs plus
    * `rounds` unrolled peel passes. Every chain CTE is MATERIALIZED:
    * each round references its predecessor twice, so DuckDB's
    * default inlining re-evaluates the pair generator 2^rounds times
    * (measured: minutes instead of 0.1 s at rounds = 6). */
  def kCoreOracleSql(k: Int = 3, minCos: Double = 0.25,
      rounds: Int = 10): String = {
    val peels = (0 until rounds).map { r =>
      s"""alive$r AS MATERIALIZED (
         |  SELECT a AS id FROM e$r GROUP BY a HAVING COUNT(*) >= $k),
         |e${r + 1} AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e$r e
         |  JOIN alive$r x ON x.id = e.a
         |  JOIN alive$r y ON y.id = e.b)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${edgeOracleCtes(minCos)},
       |e0 AS MATERIALIZED (SELECT a, b FROM e),
       |$peels
       |SELECT CAST(a AS BIGINT) AS vec_id, COUNT(*) AS degree
       |FROM e$rounds GROUP BY a
       |ORDER BY vec_id, degree""".stripMargin
  }

  /** Near-dup cluster source-purity profile (q196): for every
    * multi-member near-dup cluster (the q166 τ=0.35 graph), how many
    * DISTINCT sources its members span — the attribution behind
    * dedup savings: a single-source cluster is re-posts (that
    * source's own redundancy), a cross-source cluster is syndication
    * (content that survives dedup elsewhere; the q156 "savings vs
    * contribution" distinction made per-family). Embeddings pair
    * with documents by id (the q164 convention), so source labels
    * join by key. Output is the (cluster_size, n_sources) profile —
    * cross-source mass jumps out as rows with n_sources > 1.
    *
    * Scale shape: the q65/q166 cluster cost (amortized — labels
    * already exist in a dedup pipeline) + one key join + two tiny
    * rollups. */
  def clusterPurity(spark: SparkSession, dir: String,
      minCos: Double = 0.35): DataFrame =
    clusterPurityOf(embeddingNearDups(spark, dir, minCos = minCos),
      Tables.documents(spark, dir)
        .select(col("doc_id").as("vec_id"), col("source")))

  /** Frame-based core of [[clusterPurity]]: `edges` (vec_a, vec_b)
    * from any generator, `sources` (vec_id, source). */
  def clusterPurityOf(edges: DataFrame, sources: DataFrame): DataFrame =
    Dedup.dedupClusters(edges, "vec_a", "vec_b")
      .select(col("node").as("vec_id"), col("cluster_id"))
      .join(sources, Seq("vec_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        count_distinct(col("source")).as("n_sources"))
      .groupBy(col("cluster_size"), col("n_sources"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"), col("n_sources"), col("n_clusters"))

  /** DuckDB oracle for [[clusterPurity]] — the q65 recursive CTEs +
    * the source join and the same rollups. */
  def clusterPurityOracleSql(minCos: Double = 0.35): String =
    s"""WITH RECURSIVE ${clusterOracleCtes(minCos)},
       |lab AS (
       |  SELECT cl.cluster_id, d.source
       |  FROM cl JOIN documents d ON d.doc_id = cl.vec_id),
       |sz AS (
       |  SELECT cluster_id, COUNT(*) AS cluster_size,
       |    COUNT(DISTINCT source) AS n_sources
       |  FROM lab GROUP BY cluster_id)
       |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       |  CAST(n_sources AS BIGINT) AS n_sources,
       |  COUNT(*) AS n_clusters
       |FROM sz GROUP BY cluster_size, n_sources
       |ORDER BY cluster_size, n_sources, n_clusters""".stripMargin

  /** Keep-best canonicalization (q201): per near-dup cluster (the
    * q65/q166 connected components at τ), keep the member with the
    * HIGHEST q35 quality score (min doc_id on ties) instead of the
    * min-id default — quality-aware dedup, the curation policy most
    * recipes actually want (SemDeDup keeps min-id for determinism;
    * this op shows determinism and quality-keep compose: the score is
    * rounded to 6 decimals THEN scaled to integer ppm before the
    * argmax, so no float comparison decides a keep). Reports the
    * token mass dropped per cluster — the realized dedup saving under
    * the keep-best policy.
    *
    * Scale shape: the amortized CC labels + one key join + one
    * cluster-keyed max(struct) aggregate (map-side combined; no
    * window). The scoring projection is corpus-linear codegen. */
  def keepBestDedup(spark: SparkSession, dir: String,
      minCos: Double = 0.35): DataFrame =
    keepBestDedupOn(embeddingNearDups(spark, dir, minCos = minCos),
      Tables.documents(spark, dir))

  /** Frame-based core of [[keepBestDedup]]: `pairs` is any
    * (vec_a, vec_b) near-dup pair frame, `docs` needs
    * (doc_id, text). Singleton docs (no pair) are absent by design —
    * the report is about realized cluster savings. */
  def keepBestDedupOn(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val qdocs = docs
      .select(col("doc_id").as("vec_id"),
        round(round(TextAnalysis.qualityScore(col("text")), 6)
          * 1000000d, 0).cast("long").as("q_ppm"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    Dedup.dedupClusters(pairs, "vec_a", "vec_b")
      .select(col("node").as("vec_id"), col("cluster_id"))
      .join(qdocs, Seq("vec_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("q_ppm"), (-col("vec_id")).as("nid"),
          col("n_tok"))).as("m"),
        sum(col("n_tok")).as("tot_tok"))
      .select(col("cluster_id"), col("n_members"),
        (-col("m.nid")).as("keep_id"), col("m.q_ppm").as("keep_q_ppm"),
        (col("tot_tok") - col("m.n_tok")).as("dropped_tokens"))
      .orderBy(col("cluster_id"), col("n_members"), col("keep_id"),
        col("keep_q_ppm"), col("dropped_tokens"))
  }

  /** DuckDB oracle for [[keepBestDedup]] — the q65 recursive CTEs +
    * the SAME scoring expression ([[TextAnalysis.qualityScoreSqlExpr]],
    * the q35 term) + the (q_ppm desc, vec_id) argmax. */
  def keepBestDedupOracleSql(minCos: Double = 0.35): String =
    s"""WITH RECURSIVE ${clusterOracleCtes(minCos)},
       |qd AS (
       |  SELECT doc_id AS vec_id,
       |    CAST(ROUND(${TextAnalysis.qualityScoreSqlExpr} * 1000000)
       |      AS BIGINT) AS q_ppm,
       |    CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |lab AS (
       |  SELECT cl.cluster_id, qd.vec_id, qd.q_ppm, qd.n_tok
       |  FROM cl JOIN qd ON qd.vec_id = cl.vec_id),
       |best AS (
       |  SELECT cluster_id, vec_id, q_ppm, n_tok FROM lab
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY cluster_id
       |    ORDER BY q_ppm DESC, vec_id) = 1),
       |ag AS (
       |  SELECT cluster_id, COUNT(*) AS n_members,
       |    CAST(SUM(n_tok) AS BIGINT) AS tot_tok
       |  FROM lab GROUP BY cluster_id)
       |SELECT a.cluster_id, a.n_members,
       |  CAST(b.vec_id AS BIGINT) AS keep_id,
       |  b.q_ppm AS keep_q_ppm,
       |  CAST(a.tot_tok - b.n_tok AS BIGINT) AS dropped_tokens
       |FROM ag a JOIN best b ON b.cluster_id = a.cluster_id
       |ORDER BY a.cluster_id, n_members, keep_id, keep_q_ppm,
       |  dropped_tokens""".stripMargin

  /** Deterministic integer PageRank over the near-dup graph: a fixed
    * number of power iterations in exact ppm arithmetic — pr0 =
    * 1000000 div N, contrib(u) = pr(u) div deg(u), pr'(v) =
    * 150000 div N + (85·Σ inflow) div 100 (d = 0.85) — every step a
    * truncating integer division, so DuckDB replays it bit-for-bit
    * (the q71/q83 deterministic-arithmetic move applied to graph
    * centrality). Centrality over the near-dup graph ranks the
    * CANONICAL documents of template families: the highest-rank node
    * of a boilerplate cluster is the best keep candidate, a direct
    * input to dedup canonicalization.
    *
    * Scale shape: the textbook distributed PageRank — per iteration
    * one join of edges to (node, contrib) keyed by src and one
    * aggregate keyed by dst; a FIXED small iteration count unrolls
    * into a single Catalyst plan (no checkpoint needed at depth 3;
    * the q65 localCheckpoint loop is the pattern past ~8); no driver
    * state at all (N rides along from a 1-row broadcast). Dangling
    * nodes cannot occur: pair edges are symmetric, so deg ≥ 1. */
  def pagerankPpm(pairs: DataFrame, iters: Int = 3): DataFrame = {
    // the pair generator runs ONCE (q65's lesson — an unpersisted
    // generator re-evaluates per reference, and edges/deg/N all hang
    // off it); localCheckpoint materializes eagerly and its lineage
    // is GC'd with the frame, so nothing leaks across bench rounds
    val p = pairs.select(col("vec_a").as("a"), col("vec_b").as("b"))
      .localCheckpoint()
    val edges = p.select(col("a").as("src"), col("b").as("dst"))
      .union(p.select(col("b").as("src"), col("a").as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val nDf = deg.agg(count(lit(1)).as("n_nodes"))
    var pr = deg.crossJoin(broadcast(nDf))
      .select(col("src").as("node"), col("deg"), col("n_nodes"),
        expr("1000000 div n_nodes").as("pr"))
    for (_ <- 1 to iters) {
      val contrib = pr.select(col("node").as("cnode"),
        expr("pr div deg").as("contrib"))
      val inflow = edges.join(contrib, col("src") === col("cnode"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("inflow"))
      pr = pr.drop("pr")
        .join(inflow.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"), col("deg"), col("n_nodes"),
          expr("150000 div n_nodes + (85 * coalesce(inflow, 0L)) div 100")
            .as("pr"))
    }
    val out = pr.select(col("node").as("vec_id"), col("pr").as("pr_ppm"))
      .orderBy(col("vec_id"), col("pr_ppm"))
    out
  }

  /** Query entry (q123): PageRank over the q65 edge set. */
  def pagerankQuery(spark: SparkSession, dir: String): DataFrame =
    pagerankPpm(embeddingNearDups(spark, dir))

  /** Per-node triangle participation counts over the near-dup graph —
    * the standard density QA on a dedup edge set (triangle-rich
    * neighborhoods = template/boilerplate families; isolated edges =
    * chance collisions). Edges arrive canonical (a < b), so
    * enumerating a < b < c via two equi-joins counts each triangle
    * exactly once; exploding the 3 corners and grouping gives the
    * per-node count.
    *
    * Scale shape: this runs on the PRUNED near-dup edge set (orders of
    * magnitude smaller than the corpus), both joins are equi-joins on
    * edge endpoints — at cluster scale the canonical orientation plays
    * the role of degree-ordering in the classic MapReduce triangle
    * algorithm, bounding the wedge fan-out of any single node to its
    * higher-id neighbors. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(col("vec_a").as("a"), col("vec_b").as("b"))
    val wedges = e.as("e1")
      .join(e.select(col("a").as("b"), col("b").as("c")).as("e2"), Seq("b"))
    val tri = wedges.join(
      e.select(col("a"), col("b").as("c")).as("e3"), Seq("a", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("vec_id"), col("n_triangles"))
  }

  /** Query entry: triangle counts over the oracle-checked q44 edge
    * set (id-bounded exact near-dups; swap [[lshEmbeddingNearDups]]
    * in at corpus scale — [[triangleCounts]] is generator-agnostic). */
  def embeddingTriangles(spark: SparkSession, dir: String): DataFrame =
    triangleCounts(embeddingNearDups(spark, dir))

  /** Per-label centroid via posexplode + avg: SQL-expressible (and so
    * oracle-checkable), one shuffle of (label, pos) pairs. */
  def centroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), (col("pos") + 1).cast("long").as("pos"))
      .agg(round(avg(col("v").cast("double")), 6).as("c_val"),
        count(lit(1)).as("n_vecs"))
      .orderBy(col("label"), col("pos"))

  /** Per-dimension standardization (z-score feature scaling) of the
    * embedding matrix — the ML feature-prep step before distance-based
    * models. Values enter the exact micro-unit lattice
    * (DECIMAL(18,6)·1e6 → BIGINT), per-dimension moments accumulate in
    * DECIMAL(38,0), and the z-score
    *   z = (x·n − s) / √(n·(n·ss − s²)/(n−1))
    * is a fixed IEEE op sequence over exactly equal integers in both
    * engines, rounded to 6. Scale shape: posexplode shuffles (pos,
    * value) pairs once for the 64-row moment table, which broadcasts
    * back onto a second scan — the wide explode is never re-shuffled.
    */
  def standardizedEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    val flat = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        // float → double is exact in both engines; double → DECIMAL
        // is the established shared rounding rule
        (col("v").cast("double").cast("decimal(18,6)") * 1000000)
          .cast("long").as("m"))
    def d(c: Column) = c.cast("decimal(38,0)")
    val moments = flat.groupBy(col("pos")).agg(
      count(lit(1)).as("n"), sum(d(col("m"))).as("s"),
      sum(d(col("m")) * d(col("m"))).as("ss"))
    val dev = d(col("m")) * col("n") - col("s")
    val varNum = col("n") * col("ss") - col("s") * col("s")
    flat.join(broadcast(moments), Seq("pos"))
      .select(col("vec_id"), col("pos"),
        when(varNum === 0, lit(0.0)).otherwise(
          round(dev.cast("double") /
            sqrt((varNum * col("n")).cast("double") /
              (col("n") - 1).cast("double")), 6)).as("z"))
      .orderBy(col("vec_id"), col("pos"), col("z"))
  }

  /** Embedding dimension-correlation screen (q159): the top-`topK`
    * most-correlated dimension PAIRS across the corpus — the
    * diagnostics pass that flags redundant/collapsed embedding
    * dimensions (high |corr| pairs mean the representation wastes
    * capacity; a whitening/PCA step would target exactly these). The
    * exact-integer-moments discipline (q99/q110): micro-unit
    * quantization, DECIMAL(38,0) folds for n·Σxy − Σx·Σy and the two
    * variance numerators, then ONE IEEE division/sqrt sequence
    * written symbol-for-symbol in both engines, round(,6).
    *
    * Scale shape: one self-join keyed by vec_id (one exchange of the
    * exploded 64-row-per-vector frame), producing a constant
    * 64·63/2 = 2016 pair rows per vector; then one map-side-combined
    * (pos_i, pos_j) aggregate with 2016 groups and a tiny top-k
    * sort. The fan-out is linear in vectors (rehearsal: 1.4x at 10x);
    * at 100 TB run it on a deterministic SAMPLE (the IVF fitFraction
    * argument) — moments are sample-stable. */
  def dimensionCorrelation(spark: SparkSession, dir: String,
      topK: Int = 10): DataFrame =
    dimensionCorrelationOn(Tables.embeddings(spark, dir), topK)

  /** Frame-based core of [[dimensionCorrelation]] (needs vec_id +
    * embedding) — the 10x rehearsal entry point. */
  def dimensionCorrelationOn(emb: DataFrame, topK: Int = 10): DataFrame = {
    val flat = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"),
        (col("v").cast("double").cast("decimal(18,6)") * 1000000)
          .cast("long").as("m"))
    def d(c: Column) = c.cast("decimal(38,0)")
    val a = flat.select(col("vec_id"), col("pos").as("pos_i"),
      col("m").as("mi"))
    val b = flat.select(col("vec_id"), col("pos").as("pos_j"),
      col("m").as("mj"))
    // the 4M-row pair aggregate folds in pure LONG (codegen'd; |m| ≤
    // ~2e6 micro-units for unit-ish values → |mi·mj| ≤ ~4e12, and the
    // long sum holds to ~2e6 sampled vectors — ANSI overflow is LOUD,
    // and the 100 TB contract is a bounded sample anyway); DECIMAL
    // enters only for the 2016-row moment combination, where si·sj
    // exceeds 2^63. Measured at sf0.1: all-decimal per-row fold
    // 6.3 s, long products + decimal sums 5.4 s, pure long fold
    // 2.1 s (the residue is the 4M-row pair join itself).
    // r15: per-pair n/si/sj/ssi/ssj are the per-DIM moments duplicated
    // 63× each (every vector contributes every dim, so the pair count
    // equals the dim count) — only the CROSS moment is pair-specific.
    // The 4M-row fold now updates ONE aggregate instead of six; the
    // marginals come from a 64-row aggregate broadcast back in.
    // Verified bit-identical to the six-aggregate form (0-row
    // exceptAll both ways at sf0.1) — same longs, same decimals.
    val dims = flat.groupBy(col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("m")).as("s"),
        sum(col("m") * col("m")).as("ss"))
    val mom = a.join(b, Seq("vec_id")).filter(col("pos_i") < col("pos_j"))
      .groupBy(col("pos_i"), col("pos_j"))
      .agg(sum(col("mi") * col("mj")).as("sij"))
      .join(broadcast(dims.select(col("pos").as("pos_i"), col("n"),
        col("s").as("si"), col("ss").as("ssi"))), Seq("pos_i"))
      .join(broadcast(dims.select(col("pos").as("pos_j"),
        col("s").as("sj"), col("ss").as("ssj"))), Seq("pos_j"))
    val covn = d(col("n")) * d(col("sij")) - d(col("si")) * d(col("sj"))
    val vi = d(col("n")) * d(col("ssi")) - d(col("si")) * d(col("si"))
    val vj = d(col("n")) * d(col("ssj")) - d(col("sj")) * d(col("sj"))
    mom.filter(vi =!= 0 && vj =!= 0)
      .select(col("pos_i"), col("pos_j"),
        round(covn.cast("double") /
          sqrt(vi.cast("double") * vj.cast("double")), 6).as("corr"))
      .orderBy(abs(col("corr")).desc, col("pos_i"), col("pos_j"))
      .limit(topK)
  }

  /** Per-source centroid affinity (q211): cosine similarity between
    * the mean embedding of every source PAIR — the domain-separation
    * audit behind mixture design (two sources whose centroids sit at
    * cosine ≈ 1 are redundant domains; near 0/negative, complements).
    * Works on exact integer micro-unit SUMS (cosine is
    * scale-invariant, so the mean's 1/n cancels and no division
    * happens before the one fold): per-(source, dim) long sums, pair
    * dots and norms in DECIMAL(38,0), then the single IEEE sequence
    * dot/√(na2·nb2) rounded to 6dp — the q159 discipline on the
    * aggregate level.
    *
    * Scale shape: the corpus collapses to |sources|·64 rows FIRST
    * (map-side combined); the pair join is over that tiny frame
    * (persisted for its three consumers), never over vectors. */
  def sourceCentroidAffinity(spark: SparkSession, dir: String): DataFrame =
    sourceCentroidAffinityOn(Tables.embeddings(spark, dir)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id")))

  /** Frame-based core of [[sourceCentroidAffinity]] (needs source +
    * embedding). */
  def sourceCentroidAffinityOn(emb: DataFrame): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    val dims = Dedup.register(emb
      .select(col("source"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("source"), col("pos").cast("long").as("pos"),
        (col("v").cast("double").cast("decimal(18,6)") * 1000000)
          .cast("long").as("m"))
      .groupBy(col("source"), col("pos"))
      .agg(sum(col("m")).as("sv"), count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val norms = dims.groupBy(col("source"))
      .agg(sum(d(col("sv")) * d(col("sv"))).as("n2"),
        max(col("cnt")).as("n"))
    val pairs = dims.select(col("source").as("source_a"), col("pos"),
        col("sv").as("va"))
      .join(dims.select(col("source").as("source_b"), col("pos"),
        col("sv").as("vb")), Seq("pos"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(d(col("va")) * d(col("vb"))).as("dot"))
    pairs
      .join(norms.select(col("source").as("source_a"),
        col("n2").as("na2"), col("n").as("n_a")), Seq("source_a"))
      .join(norms.select(col("source").as("source_b"),
        col("n2").as("nb2"), col("n").as("n_b")), Seq("source_b"))
      .filter(col("na2") > 0 && col("nb2") > 0)
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        round(col("dot").cast("double") /
          sqrt(col("na2").cast("double") * col("nb2").cast("double")), 6)
          .as("cos_centroid"))
      .orderBy(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("cos_centroid"))
  }

  /** Near-dup transitivity/closure audit (q238): over the near-dup
    * graph, the share of wedges (a–m–c paths) whose endpoints are
    * ALSO a pair — the number that justifies connected-component
    * clustering: high closure means "near-dup of a near-dup is a
    * near-dup" mostly holds and CC labels barely over-merge; low
    * closure means components chain dissimilar docs and keep-best
    * policies need the q145-style star guards. q98's wedge machinery
    * pointed at the similarity graph instead of the order graph.
    *
    * Scale shape: one persisted pair frame, a middle-keyed self-join
    * (wedge count is Σ deg(v)², bounded by the q229 forecast — run
    * THAT first at scale), a left join back to pairs, and a 1-row
    * fold. */
  def closureAudit(spark: SparkSession, dir: String,
      minCos: Double = 0.25): DataFrame =
    closureAuditOn(embeddingNearDups(spark, dir, minCos = minCos)
      .select(col("vec_a"), col("vec_b")))

  /** Frame-based core of [[closureAudit]] over canonical (vec_a <
    * vec_b) pairs. */
  def closureAuditOn(pairs0: DataFrame): DataFrame = {
    val pairs = Dedup.register(pairs0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val e = pairs.select(col("vec_a").as("m"), col("vec_b").as("n"))
      .union(pairs.select(col("vec_b").as("m"), col("vec_a").as("n")))
    val wedges = e.select(col("m"), col("n").as("x"))
      .join(e.select(col("m"), col("n").as("y")), Seq("m"))
      .filter(col("x") < col("y"))
    val closed = wedges.join(pairs
        .select(col("vec_a").as("x"), col("vec_b").as("y"),
          lit(1L).as("cl")), Seq("x", "y"), "left")
      .agg(count(lit(1)).as("n_wedges"),
        coalesce(sum(col("cl")), lit(0L)).as("n_closed"))
    closed.crossJoin(broadcast(
        pairs.agg(count(lit(1)).as("n_edges"))))
      .select(col("n_edges"), col("n_wedges"), col("n_closed"),
        when(col("n_wedges") > 0L,
          expr("n_closed * 1000000 div n_wedges")).otherwise(0L)
          .as("closure_ppm"))
      .orderBy(col("n_edges"), col("n_wedges"), col("n_closed"),
        col("closure_ppm"))
  }

  /** DuckDB oracle for [[closureAudit]] — the shared edge CTEs, the
    * same wedge join and closure lookup. */
  def closureAuditOracleSql(minCos: Double = 0.25): String =
    s"""WITH ${edgeOracleCtes(minCos)},
       |w AS (
       |  SELECT e1.b AS x, e2.b AS y
       |  FROM e e1 JOIN e e2 ON e2.a = e1.a AND e1.b < e2.b),
       |clw AS (
       |  SELECT CASE WHEN p.va IS NOT NULL THEN 1 ELSE 0 END AS c
       |  FROM w LEFT JOIN pairs p ON p.va = w.x AND p.vb = w.y),
       |s AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_wedges,
       |    CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_closed
       |  FROM clw),
       |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pairs)
       |SELECT n_edges, n_wedges, n_closed,
       |  CAST(CASE WHEN n_wedges > 0
       |    THEN n_closed * 1000000 // n_wedges ELSE 0 END AS BIGINT)
       |    AS closure_ppm
       |FROM ne CROSS JOIN s
       |ORDER BY n_edges, n_wedges, n_closed, closure_ppm""".stripMargin

  /** Within-source embedding dispersion (q228): the mean squared µu
    * distance of a source's vectors to their own centroid — exactly
    * (n·Σ|x|² − |Σx|²) / n² from ONE pass of sums (the parallel-axis
    * identity), all integers until the final truncating division.
    * q211's complement: q211 says how far apart source centroids
    * sit; this says how TIGHT each source is around its own — the
    * two numbers together are the clusterability read behind routing
    * mixtures by source.
    *
    * Scale shape: one posexplode aggregate to |sources|·64 rows
    * (map-side combined), then a |sources|-keyed fold — the corpus
    * is touched once. */
  def sourceDispersion(spark: SparkSession, dir: String): DataFrame =
    sourceDispersionOn(Tables.embeddings(spark, dir)
      .join(Tables.documents(spark, dir)
        .select(col("doc_id").as("vec_id"), col("source")), Seq("vec_id")))

  /** Frame-based core of [[sourceDispersion]] (needs source +
    * embedding). */
  def sourceDispersionOn(emb: DataFrame): DataFrame = {
    def d(c: Column) = c.cast("decimal(38,0)")
    emb
      .select(col("source"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("source"), col("pos"),
        (col("v").cast("double").cast("decimal(18,6)") * 1000000)
          .cast("long").as("m"))
      .groupBy(col("source"), col("pos"))
      .agg(sum(col("m")).as("sv"),
        sum(d(col("m")) * d(col("m"))).as("ss"),
        count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(max(col("cnt")).as("n"), sum(col("ss")).as("s2"),
        sum(d(col("sv")) * d(col("sv"))).as("p2"))
      .select(col("source"), col("n"),
        expr("CAST((n * s2 - p2) div (n * n) AS BIGINT)")
          .as("disp_mu2"))
      .orderBy(col("source"), col("n"), col("disp_mu2"))
  }

  /** DuckDB oracle for [[sourceDispersion]] — same µu lattice, same
    * parallel-axis identity in HUGEINT. */
  def sourceDispersionOracleSql: String =
    s"""WITH j AS (
       |  SELECT d.source, e.embedding
       |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
       |flat AS (
       |  SELECT source, CAST(i - 1 AS BIGINT) AS pos,
       |    CAST(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,6))
       |      * 1000000 AS BIGINT) AS m
       |  FROM j, GENERATE_SERIES(1, 64) s(i)),
       |dims AS (
       |  SELECT source, pos, CAST(SUM(m) AS BIGINT) AS sv,
       |    SUM(CAST(m AS HUGEINT) * m) AS ss,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM flat GROUP BY 1, 2),
       |agg AS (
       |  SELECT source, CAST(MAX(cnt) AS BIGINT) AS n,
       |    SUM(ss) AS s2,
       |    SUM(CAST(sv AS HUGEINT) * sv) AS p2
       |  FROM dims GROUP BY source)
       |SELECT source, n,
       |  CAST((n * s2 - p2) // (CAST(n AS HUGEINT) * n) AS BIGINT)
       |    AS disp_mu2
       |FROM agg
       |ORDER BY source, n, disp_mu2""".stripMargin

  /** DuckDB oracle for [[sourceCentroidAffinity]] — same µu lattice,
    * HUGEINT moments, identical single IEEE sequence. */
  def sourceCentroidAffinityOracleSql: String =
    s"""WITH j AS (
       |  SELECT d.source, e.embedding
       |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
       |flat AS (
       |  SELECT source, CAST(i - 1 AS BIGINT) AS pos,
       |    CAST(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,6))
       |      * 1000000 AS BIGINT) AS m
       |  FROM j, GENERATE_SERIES(1, 64) s(i)),
       |dims AS (
       |  SELECT source, pos, CAST(SUM(m) AS BIGINT) AS sv,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM flat GROUP BY 1, 2),
       |norms AS (
       |  SELECT source, SUM(CAST(sv AS HUGEINT) * sv) AS n2,
       |    CAST(MAX(cnt) AS BIGINT) AS n
       |  FROM dims GROUP BY source),
       |pairs AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    SUM(CAST(a.sv AS HUGEINT) * b.sv) AS dot
       |  FROM dims a JOIN dims b
       |    ON b.pos = a.pos AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT p.source_a, p.source_b, na.n AS n_a, nb.n AS n_b,
       |  ROUND(CAST(p.dot AS DOUBLE)
       |    / SQRT(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6)
       |    AS cos_centroid
       |FROM pairs p
       |JOIN norms na ON na.source = p.source_a
       |JOIN norms nb ON nb.source = p.source_b
       |WHERE na.n2 > 0 AND nb.n2 > 0
       |ORDER BY source_a, source_b, n_a, n_b, cos_centroid""".stripMargin

  /** DuckDB oracle for [[dimensionCorrelation]] — HUGEINT folds, the
    * identical single IEEE sequence. */
  def dimensionCorrelationOracleSql(topK: Int = 10): String =
    s"""WITH flat AS (
       |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
       |    CAST(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,6))
       |      * 1000000 AS BIGINT) AS m
       |  FROM embeddings, GENERATE_SERIES(1, 64) s(i)),
       |mom AS (
       |  SELECT a.pos AS pos_i, b.pos AS pos_j, COUNT(*) AS n,
       |    SUM(CAST(a.m AS HUGEINT)) AS si,
       |    SUM(CAST(b.m AS HUGEINT)) AS sj,
       |    SUM(CAST(a.m AS HUGEINT) * a.m) AS ssi,
       |    SUM(CAST(b.m AS HUGEINT) * b.m) AS ssj,
       |    SUM(CAST(a.m AS HUGEINT) * b.m) AS sij
       |  FROM flat a JOIN flat b
       |    ON a.vec_id = b.vec_id AND a.pos < b.pos
       |  GROUP BY a.pos, b.pos)
       |SELECT pos_i, pos_j,
       |  ROUND(CAST(n * sij - si * sj AS DOUBLE) /
       |    SQRT(CAST(n * ssi - si * si AS DOUBLE) *
       |         CAST(n * ssj - sj * sj AS DOUBLE)), 6) AS corr
       |FROM mom
       |WHERE n * ssi - si * si != 0 AND n * ssj - sj * sj != 0
       |ORDER BY ABS(corr) DESC, pos_i, pos_j
       |LIMIT $topK""".stripMargin

  /** Typed Aggregator form of the centroid — the showcase custom
    * aggregate (SURVEY.md §2B): no builtin aggregates array<float>
    * directly; this one merges (sum-vector, count) buffers. */
  class VecCentroid(dim: Int)
      extends Aggregator[Array[Float], (Array[Double], Long), Array[Double]] {
    def zero: (Array[Double], Long) = (Array.fill(dim)(0.0), 0L)
    def reduce(b: (Array[Double], Long), a: Array[Float]): (Array[Double], Long) = {
      var i = 0
      while (i < dim) { b._1(i) += a(i); i += 1 }
      (b._1, b._2 + 1)
    }
    def merge(x: (Array[Double], Long), y: (Array[Double], Long)): (Array[Double], Long) = {
      var i = 0
      while (i < dim) { x._1(i) += y._1(i); i += 1 }
      (x._1, x._2 + y._2)
    }
    def finish(r: (Array[Double], Long)): Array[Double] =
      if (r._2 == 0) r._1 else r._1.map(_ / r._2)
    // kryo keeps the buffer opaque — fine for a typed showcase op whose
    // results are consumed via collect(), and immune to encoder-API churn
    def bufferEncoder: Encoder[(Array[Double], Long)] =
      Encoders.kryo[(Array[Double], Long)]
    def outputEncoder: Encoder[Array[Double]] = Encoders.kryo[Array[Double]]
  }
}
