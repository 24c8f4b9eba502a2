package graft.ops

/** DuckDB SQL generators that REPLAY the engine's hash primitives
  * (graft.functions.Hash64: FNV-1a over UTF-8 bytes + the splitmix64
  * finalizer, with Hash64's constants) in pure SQL, so the hash-based
  * query family (fingerprints, winnowing, decontamination) gets full
  * ground-truth oracles instead of oracle exemptions.
  *
  * Arithmetic notes:
  *  - Java `long` wraparound is emulated as unsigned mod-2^64 HUGEINT
  *    arithmetic; values convert to signed BIGINT only at the end.
  *  - The FNV step's multiply fits INT128 (2^64 * 2^40 = 2^104), but
  *    the splitmix constants are ~2^63.6, so `h * C` is split into
  *    32-bit halves: h*C mod 2^64 = (h*C_lo + (h*C_hi mod 2^32)*2^32)
  *    mod 2^64 — every intermediate stays under 2^97.
  *  - XOR with a byte only touches the low 8 bits:
  *    h XOR b = h - h%256 + xor(h%256, b), avoiding 128-bit xor of the
  *    sign-extended forms. Full-width xor(HUGEINT, HUGEINT) is used for
  *    the splitmix shift-xors (both operands < 2^64, so it is exact).
  *  - `ascii(substr(text, i, 1))` yields the byte value because the
  *    documents corpus is pure ASCII (asserted: octet_length(encode) ==
  *    length for every row at every SF). A non-ASCII corpus would need
  *    hex(encode(..)) pair-parsing instead.
  */
object HashSql {
  import graft.functions.Hash64
  import java.lang.Long.toUnsignedString

  private val M64 = "18446744073709551616" // 2^64
  private val Signed63 = "9223372036854775808" // 2^63
  // Hash64's constants, unsigned
  private val FnvOffset = toUnsignedString(Hash64.FnvOffset)
  private val FnvPrime = toUnsignedString(Hash64.FnvPrime)
  private val MixC1 = BigInt(toUnsignedString(Hash64.MixC1))
  private val MixC2 = BigInt(toUnsignedString(Hash64.MixC2))

  /** (x * c) mod 2^64 with INT128-safe 32-bit splitting. */
  def mulmod64(x: String, c: BigInt): String = {
    val hi = c >> 32
    val lo = c & 0xffffffffL
    s"(($x) * $lo % $M64 + (($x) * $hi % 4294967296) * 4294967296) % $M64"
  }

  /** One FNV-1a step folded over a HUGEINT byte list via list_reduce
    * (list_prepend supplies the offset basis as the fold seed). */
  private def fnvReduce(byteList: String): String =
    s"""list_reduce(list_prepend($FnvOffset::HUGEINT, $byteList),
       |    (h, bb) -> (h - h%256 + xor(h%256, bb)) * $FnvPrime % $M64)""".stripMargin

  /** splitmix64 ([[Hash64.splitmix64]]) replayed as five staged CTEs
    * `<p>1`..`<p>5`, one shift-xor or multiply each, over the unsigned
    * column `h` of CTE `from`, carrying `keys` through. With `list`,
    * the column is the list `l`, each step maps over its elements and
    * `<p>5` holds them unsigned; without, `<p>5` holds the value with
    * its sign bit dropped (mod 2^63, Spark's `& Long.MaxValue`). */
  private def splitmixCtes(p: String, from: String, keys: String,
      list: Boolean = false): String = {
    val steps = Seq(
      "xor(h, h // 1073741824)", mulmod64("h", MixC1),
      "xor(h, h // 134217728)", mulmod64("h", MixC2),
      "xor(h, h // 2147483648)" + (if (list) "" else s" % $Signed63"))
    steps.zipWithIndex.map { case (e, i) =>
      val v = if (list) s"list_transform(l, h -> $e) AS l" else s"$e AS h"
      s"$p${i + 1} AS (SELECT $keys, $v FROM ${if (i == 0) from else s"$p$i"})"
    }.mkString(",\n")
  }

  /** Unsigned HUGEINT -> signed BIGINT (two's-complement). */
  def toSigned(x: String): String =
    s"(CASE WHEN $x >= $Signed63 THEN $x - $M64 ELSE $x END)::BIGINT"

  /** SIGNED FNV-1a of a byte list — `rolling_hash`'s exact value as
    * Spark sees it (a signed long), for oracles that fold the hash
    * through non-power-of-two moduli. */
  def fnvSignedSql(byteList: String): String = toSigned(fnvReduce(byteList))

  /** CTE chain producing, per documents row: doc_id, source, and `wh` —
    * the SIGNED 8-byte positional window hashes, exactly
    * ShingleHashes.windowHashes(bytes, 8) (FNV-1a + splitmix, one hash
    * per position, short texts hash as a single whole-text window). */
  def windowHashCtes: String =
    s"""b AS (SELECT doc_id, source,
       |       [ascii(substr(text, i, 1))::HUGEINT FOR i IN range(1, length(text)+1)] AS bl,
       |       length(text) AS n FROM documents),
       |w AS (SELECT doc_id, source, n, list_transform(range(1, greatest(n-7,1)+1), i ->
       |        ${fnvReduce("bl[i:least(i+7, n)]")}) AS l FROM b),
       |${splitmixCtes("m", "w", "doc_id, source, n", list = true)},
       |whs AS (SELECT doc_id, source, n, list_transform(l, x -> ${toSigned("x")}) AS wh FROM m5)""".stripMargin

  /** Winnowing minima per doc: sliding-window-of-8 minima over `wh`
    * (signed comparison, matching ShingleHashes.winnow), positional —
    * dedup is the consumer's job, as in the native expression. */
  def winnowMinsCte: String =
    s"""mins AS (SELECT doc_id, source, list_transform(range(1, greatest(len(wh)-7,1)+1), j ->
       |           list_min(wh[j:least(j+7, len(wh))])) AS mn FROM whs)""".stripMargin

  /** q38: full-document rolling hash + window-hash summary. */
  def fingerprintsOracle: String =
    s"""WITH $windowHashCtes,
       |r AS (SELECT doc_id AS rid,
       |        ${fnvReduce("[ascii(substr(text, i, 1))::HUGEINT FOR i IN range(1, length(text)+1)]")} AS rh
       |      FROM documents)
       |SELECT w.doc_id, ${toSigned("rh")} AS fp64,
       |  list_min(wh) AS min_shingle,
       |  len(wh)::BIGINT AS n_shingles
       |FROM whs w JOIN r ON w.doc_id = r.rid
       |ORDER BY doc_id""".stripMargin

  /** q50: winnowing fingerprint summary (distinct minima count + span). */
  def winnowSummaryOracle: String =
    s"""WITH $windowHashCtes,
       |$winnowMinsCte
       |SELECT doc_id, len(list_distinct(mn))::BIGINT AS n_fps,
       |  list_min(mn) AS fp_min, list_max(mn) AS fp_max
       |FROM mins ORDER BY doc_id""".stripMargin

  /** q51: corpus docs sharing >= `minShared` winnowing fingerprints
    * with the src0 eval set — the decontamination contamination list. */
  def decontaminateOracle(minShared: Int): String =
    s"""WITH $windowHashCtes,
       |$winnowMinsCte,
       |fp AS (SELECT doc_id, source, unnest(list_distinct(mn)) AS fp FROM mins),
       |ev AS (SELECT DISTINCT fp FROM fp WHERE source = 'src0')
       |SELECT f.doc_id, count(*) AS n_shared_fps
       |FROM fp f JOIN ev ON f.fp = ev.fp
       |WHERE f.source != 'src0'
       |GROUP BY f.doc_id HAVING count(*) >= $minShared
       |ORDER BY doc_id""".stripMargin

  /** q266: the incremental decontamination screen — the q51 winnow
    * replay restricted to the newest-10%-of-ids ingest batch (cutoff
    * re-derived from the data, the autoK rule), every batch doc
    * reported (clean ones at 0) with its shared-fingerprint counts,
    * ppm fraction, and the batch-relative nearest-rank-p90 quarantine
    * verdict (threshold also re-derived — a cum-walk over per-ppm
    * value counts, mirroring the Spark value-grid window). */
  def decontamIncrementalOracle: String =
    s"""WITH $windowHashCtes,
       |$winnowMinsCte,
       |st AS (SELECT (MAX(doc_id) + 1) * 9 // 10 AS cutoff FROM documents),
       |fpd AS (SELECT doc_id, source, list_distinct(mn) AS fps FROM mins),
       |fp AS (SELECT doc_id, source, unnest(fps) AS fp FROM fpd),
       |ev AS (SELECT DISTINCT fp FROM fp WHERE source = 'src0'),
       |bdocs AS (SELECT d.doc_id, len(fpd.fps) AS nf
       |          FROM documents d CROSS JOIN st
       |          JOIN fpd ON fpd.doc_id = d.doc_id
       |          WHERE d.doc_id >= st.cutoff AND d.source <> 'src0'),
       |sh AS (SELECT f.doc_id, count(*) AS n FROM fp f
       |       JOIN ev ON f.fp = ev.fp CROSS JOIN st
       |       WHERE f.source <> 'src0' AND f.doc_id >= st.cutoff
       |       GROUP BY f.doc_id),
       |pp AS (SELECT b.doc_id, b.nf,
       |         COALESCE(sh.n, 0) AS ns,
       |         COALESCE(sh.n, 0) * 1000000 // b.nf AS ppm
       |       FROM bdocs b LEFT JOIN sh ON sh.doc_id = b.doc_id),
       |nn AS (SELECT count(*) AS nb FROM pp),
       |vals AS (SELECT ppm, count(*) AS c FROM pp GROUP BY ppm),
       |cw AS (SELECT ppm, SUM(c) OVER (ORDER BY ppm) AS cum FROM vals),
       |thr AS (SELECT MIN(ppm) AS t FROM cw CROSS JOIN nn
       |        WHERE cum >= (9 * nb + 9) // 10)
       |SELECT pp.doc_id, CAST(pp.nf AS BIGINT) AS n_fps,
       |  CAST(pp.ns AS BIGINT) AS n_shared_fps,
       |  CAST(pp.ppm AS BIGINT) AS shared_ppm,
       |  (pp.ppm >= thr.t) AS quarantine
       |FROM pp CROSS JOIN thr
       |ORDER BY doc_id, n_fps, n_shared_fps, shared_ppm, quarantine""".stripMargin

  /** q83: deterministic SimHash — the engine's SimHash semantics (per-
    * token 64-bit hash, ±1 bit balances, bit set when balance >= 0,
    * 4×16-bit bands) with the replayable FNV-1a token hash in
    * place of xxhash64. Bit tests and reassembly run as division by
    * power-of-two literals (HUGEINT `>>`/`<<` support is not assumed;
    * this is the same discipline as the splitmix shift emulation). */
  def simhashDetOracle: String = {
    def band(c: Int): String =
      s"((hu // ${BigInt(1) << (c * 16)}) % 65536)::BIGINT AS band_$c"
    s"""WITH $simhashDetCtes
       |SELECT doc_id, ${toSigned("hu")} AS simhash_det,
       |  ${band(0)}, ${band(1)}, ${band(2)}, ${band(3)}
       |FROM sim
       |ORDER BY doc_id, simhash_det, band_0, band_1, band_2, band_3""".stripMargin
  }

  /** Shared CTE chain for the deterministic SimHash: tok → f5 (FNV
    * token hash) → powers → bits (±1 balances) → sim, yielding per-doc
    * `hu` = the unsigned 64-bit deterministic SimHash. */
  private def simhashDetCtes: String = {
    val powers = (0 until 64)
      .map(i => s"(${i}, ${BigInt(1) << i}::HUGEINT)").mkString(", ")
    s"""tok AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
       |),
       |f5 AS (SELECT doc_id,
       |  ${fnvReduce("[ascii(substr(t, i, 1))::HUGEINT FOR i IN range(1, length(t)+1)]")} AS h
       |  FROM tok),
       |powers(i, p) AS (VALUES $powers),
       |bits AS (
       |  SELECT doc_id, i,
       |    SUM(CASE WHEN (h // p) % 2 = 1 THEN 1 ELSE -1 END) AS bal
       |  FROM f5 CROSS JOIN powers GROUP BY doc_id, i
       |),
       |sim AS (
       |  SELECT b.doc_id,
       |    SUM(CASE WHEN b.bal >= 0 THEN pw.p ELSE 0::HUGEINT END) AS hu
       |  FROM bits b JOIN powers pw ON b.i = pw.i
       |  GROUP BY b.doc_id
       |)""".stripMargin
  }

  /** q42: oracle-checkable face of the SimHash capability — per band
    * position, value-distribution moments (count, distinct values,
    * exact integer sum / sum-of-squares, min, max) of the 16-bit bands
    * of the DETERMINISTIC sibling's fingerprints. Same band split as
    * q83; the xxhash64 production path keeps its differential specs. */
  def simhashBandMomentsOracle: String = {
    val bandpos = (0 until 4)
      .map(c => s"($c, ${BigInt(1) << (c * 16)}::HUGEINT)").mkString(", ")
    s"""WITH $simhashDetCtes,
       |bandpos(bp, q) AS (VALUES $bandpos),
       |bands AS (
       |  SELECT bp, ((hu // q) % 65536)::BIGINT AS band_val
       |  FROM sim CROSS JOIN bandpos
       |)
       |SELECT CAST(bp AS BIGINT) AS band_pos,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(COUNT(DISTINCT band_val) AS BIGINT) AS n_distinct,
       |  CAST(SUM(band_val) AS BIGINT) AS sum_val,
       |  CAST(SUM(band_val * band_val) AS BIGINT) AS sum_sq,
       |  CAST(MIN(band_val) AS BIGINT) AS min_val,
       |  CAST(MAX(band_val) AS BIGINT) AS max_val
       |FROM bands GROUP BY bp
       |ORDER BY band_pos, n_docs, n_distinct, sum_val, sum_sq,
       |  min_val, max_val""".stripMargin
  }

  /** q84: k-mins distinct sketch rollup — per-(type, day) minima of k
    * seeded FNV hashes, merged by element-wise MIN, estimated by the
    * fixed-order k/Σ(m_j/2^63) - 1 fold. The sign bit is dropped on
    * both sides (mod 2^63 here, `& Long.MaxValue` in Spark) so MIN
    * agrees between signed and unsigned representations. */
  def kmvSketchOracle(k: Int = Grouping.KmvK): String = {
    // the seed index j is a ROW dimension (not k generated columns):
    // the staged splitmix CTEs then touch one h column each, and the
    // exact HUGEINT sum over j-rows is order-independent
    s"""WITH jx AS (SELECT unnest(range(1, ${k + 1})) AS j),
       |s0 AS (
       |  SELECT event_type, DATE_TRUNC('day', ts) AS day, jx.j,
       |    (user_id::VARCHAR || '#' || jx.j::VARCHAR) AS s
       |  FROM events CROSS JOIN jx
       |),
       |f0 AS (SELECT event_type, day, j,
       |  ${fnvReduce("[ascii(substr(s, i, 1))::HUGEINT FOR i IN range(1, length(s)+1)]")} AS h
       |  FROM s0),
       |${splitmixCtes("f", "f0", "event_type, day, j")},
       |daily AS (
       |  SELECT event_type, day, j, MIN(h) AS m FROM f5
       |  GROUP BY event_type, day, j
       |),
       |merged AS (
       |  SELECT event_type, j, MIN(m) AS m FROM daily GROUP BY event_type, j
       |),
       |tot AS (SELECT event_type, SUM(m) AS sm FROM merged GROUP BY event_type),
       |days AS (
       |  SELECT event_type, COUNT(DISTINCT DATE_TRUNC('day', ts)) AS n_days
       |  FROM events GROUP BY event_type
       |),
       |exact AS (
       |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
       |  FROM events GROUP BY event_type
       |)
       |SELECT t.event_type, d.n_days,
       |  ROUND(($k.0 * CAST(9223372036854775808 AS DOUBLE)) /
       |    CAST(t.sm AS DOUBLE) - 1.0, 4) AS kmv_est,
       |  exact.exact_distinct
       |FROM tot t
       |JOIN days d USING (event_type)
       |JOIN exact USING (event_type)
       |ORDER BY event_type, n_days, kmv_est, exact_distinct""".stripMargin
  }

  /** CTE chain replaying [[Sampling.groupSplit]]: yields `spb` with
    * (doc_id, gb) — the FNV+splitmix content bucket — shared by the
    * q89 oracle and the q194 leakage audit. */
  def groupSplitCtes: String =
    s"""f0 AS (SELECT doc_id,
       |  ${fnvReduce("[ascii(substr(text, i, 1))::HUGEINT FOR i IN range(1, length(text)+1)]")} AS h
       |  FROM documents),
       |${splitmixCtes("f", "f0", "doc_id")},
       |spb AS (SELECT doc_id, h % 100 AS gb FROM f5)""".stripMargin

  /** The split-name CASE over `gb` (shared by both consumers). */
  def splitCase(trainPct: Int = 80, valPct: Int = 10): String =
    s"""CASE WHEN gb < $trainPct THEN 'train'
       |     WHEN gb < ${trainPct + valPct} THEN 'val'
       |     ELSE 'test' END""".stripMargin

  /** q89: group-split replay — FNV-1a of the full text, splitmix64
    * finalizer, sign bit dropped (mod 2^63, matching Spark's
    * `& Long.MaxValue`), bucket mod 100 mapped to split names. */
  def groupSplitOracle(trainPct: Int = 80, valPct: Int = 10): String =
    s"""WITH $groupSplitCtes
       |SELECT doc_id, CAST(gb AS BIGINT) AS grp_bucket,
       |  ${splitCase(trainPct, valPct)} AS split
       |FROM spb ORDER BY doc_id, grp_bucket, split""".stripMargin

  /** q41: brute-force ground truth for MinHash+LSH near-dup pairs —
    * ALL-pairs exact Jaccard over distinct 8-char shingles (feasible
    * only at oracle scale; the engine's banded plan is the 100-TB
    * shape). Equality of the two outputs proves end-to-end LSH recall
    * of 100% on this corpus: band collision -> estimate survival ->
    * exact verification loses no true pair, and exact verification's
    * Jaccard-over-hashes equals Jaccard-over-grams (no collisions). */
  def minhashNearDupsOracle(minJaccard: Double, limit: Int): String =
    s"""WITH g AS (
       |  SELECT doc_id, unnest(list_distinct([substr(text, i, 8)
       |    FOR i IN range(1, greatest(length(text) - 7, 1) + 1)])) AS gram
       |  FROM documents
       |),
       |sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
       |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b,
       |  ROUND(CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE), 6) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE ROUND(CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE), 6) >= $minJaccard
       |ORDER BY jaccard DESC, doc_a, doc_b LIMIT $limit""".stripMargin

  /** q171: replay [[Sampling.clusterSplit]] — the q65 recursive
    * cluster CTEs, singletons coalesced to self, then splitmix64 of
    * the INTEGER cluster id (no FNV step — the key is already a
    * number), sign dropped (mod 2^63 == Spark's `& Long.MaxValue`),
    * mod-100 bucket mapped to split names. */
  def clusterSplitOracle(trainPct: Int = 80, valPct: Int = 10,
      minCos: Double = 0.35): String =
    s"""WITH RECURSIVE ${Similarity.clusterOracleCtes(minCos)},
       |asg AS (
       |  SELECT e.vec_id, COALESCE(cl.cluster_id, e.vec_id) AS cluster_id
       |  FROM embeddings e LEFT JOIN cl ON e.vec_id = cl.vec_id
       |  WHERE e.vec_id < 200),
       |f0 AS (SELECT vec_id, cluster_id, cluster_id::HUGEINT AS h FROM asg),
       |${splitmixCtes("f", "f0", "vec_id, cluster_id")},
       |b AS (SELECT vec_id, cluster_id, h % 100 AS gb FROM f5)
       |SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
       |  CAST(gb AS BIGINT) AS grp_bucket,
       |  CASE WHEN gb < $trainPct THEN 'train'
       |       WHEN gb < ${trainPct + valPct} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM b ORDER BY vec_id, cluster_id, grp_bucket, split""".stripMargin

  /** q146: replay [[Sampling.dsirAffinitySelect]] — FNV unigram+bigram
    * features into low-bit buckets (unsigned % B == Spark's signed
    * pmod for power-of-two B), integer-ppm rate difference kernel,
    * top-permille rank selection. */
  def dsirOracle(buckets: Int = 1024, topPermille: Int = 100): String =
    s"""WITH sp AS (
       |  SELECT doc_id, source, string_split(text, ' ') AS sp FROM documents),
       |feat AS (
       |  SELECT doc_id, source, unnest(list_concat(sp,
       |    CASE WHEN len(sp) < 2 THEN []::VARCHAR[]
       |         ELSE [sp[i] || ' ' || sp[i+1] FOR i IN range(1, len(sp))]
       |    END)) AS t
       |  FROM sp),
       |fh AS (
       |  SELECT doc_id, source,
       |    ${fnvReduce("[ascii(substr(t, i, 1))::HUGEINT FOR i IN range(1, length(t)+1)]")}
       |      % $buckets AS b
       |  FROM feat),
       |kt AS (SELECT b, COUNT(*) AS k FROM fh WHERE source = 'src0' GROUP BY b),
       |nt AS (SELECT SUM(k) AS n FROM kt),
       |kr AS (SELECT b, COUNT(*) AS k FROM fh WHERE source <> 'src0' GROUP BY b),
       |nr AS (SELECT SUM(k) AS n FROM kr),
       |pt AS (SELECT b, k * 1000000 // (SELECT n FROM nt) AS p FROM kt),
       |pr AS (SELECT b, k * 1000000 // (SELECT n FROM nr) AS p FROM kr),
       |diff AS (
       |  SELECT pr.b, COALESCE(pt.p, 0) - pr.p AS d
       |  FROM pr LEFT JOIN pt USING (b)),
       |dc AS (
       |  SELECT doc_id, b, COUNT(*) AS c FROM fh
       |  WHERE source <> 'src0' GROUP BY 1, 2),
       |sc AS (
       |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
       |    CAST(SUM(c * d) AS BIGINT) AS score
       |  FROM dc JOIN diff USING (b) GROUP BY doc_id),
       |nd AS (SELECT COUNT(*) AS nd FROM sc),
       |r AS (
       |  SELECT doc_id, n_feats, score,
       |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk FROM sc)
       |SELECT doc_id, n_feats, score,
       |  rk <= (SELECT nd * $topPermille // 1000 FROM nd) AS sel
       |FROM r ORDER BY doc_id, n_feats, score, sel""".stripMargin
}
