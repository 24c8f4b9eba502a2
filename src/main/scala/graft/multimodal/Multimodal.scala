package graft.multimodal

import graft.Tables
import graft.functions.GraftFunctions.hammingCount
import graft.functions.Hash64
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (SURVEY.md §2B [ext]): media carried as
  * opaque `binary` columns + a typed metadata struct, with decode /
  * feature-extraction as batch functions over partitions.
  *
  * The real Spark-side design points — schema, partition-local batch
  * processing, deterministic output — are fully implemented and tested;
  * only the codec itself is a clearly-marked deterministic FAKE
  * (image/audio libraries are not in this container). At scale the
  * decode pass is `mapPartitions` so a JNI/native codec amortizes init
  * per partition, not per row, and binary payloads never shuffle —
  * features are extracted first, bytes dropped before any wide op.
  */
object Multimodal {

  /** Synthetic media table: documents' text bytes standing in for an
    * encoded payload (deterministic; the driver testdata ships no
    * real binary modality). */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video").as("media_type"),
      encode(col("text"), "UTF-8").as("payload"))

  /** FAKE decode — deterministic arithmetic on payload size and first
    * CODEPOINT in place of a real codec (codepoint, not first UTF-8
    * byte, so this path is bit-identical to the column-expression form
    * which uses ascii(text) — they'd diverge on multibyte-leading
    * text otherwise). A production build swaps `fakeDecode` for the
    * native decoder; nothing else changes. */
  def fakeDecode(mediaType: String, payload: Array[Byte]): (Int, Int, Int, Int) = {
    val n = if (payload == null) 0 else payload.length
    val first =
      if (n == 0) 0
      else new String(payload, java.nio.charset.StandardCharsets.UTF_8).codePointAt(0)
    mediaType match {
      case "image" => (64 + n % 512, 64 + (n * 7 + first) % 512, 1, 0)
      case "audio" => (0, 0, 0, 8000 + (n % 5) * 8000)
      case _       => (64 + n % 512, 64 + (n * 7 + first) % 512, 1 + n % 30, 0)
    }
  }

  /** Partition-local batch decode via mapPartitions (the Scala
    * analogue of mapInPandas): codec state would be initialized once
    * per partition here. Output drops the payload — bytes never cross
    * a shuffle. */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("media_type", StringType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select("doc_id", "media_type", "payload").mapPartitions { rows =>
      // per-partition codec init would happen HERE (once, not per row)
      rows.map { r =>
        val payload = r.getAs[Array[Byte]]("payload") // null allowed by schema
        val mt = r.getAs[String]("media_type")
        val (w, h, f, sr) = fakeDecode(mt, payload)
        val nBytes = if (payload == null) 0L else payload.length.toLong
        Row(r.getAs[Long]("doc_id"), mt, nBytes, w, h, f, sr)
      }
    }(enc)
  }

  /** FAKE resize — deterministic byte-level stand-in for an image
    * scaler: output payload is exactly targetW*targetH bytes (input
    * bytes cycled), meta updated. The Spark-side design points are
    * real: 1:1 mapPartitions (scaler state init once per partition),
    * payload stays a binary column, bytes never shuffle. */
  def resizePayload(payload: Array[Byte], targetW: Int, targetH: Int): Array[Byte] = {
    val out = new Array[Byte](targetW * targetH)
    if (payload != null && payload.length > 0) {
      var i = 0
      while (i < out.length) { out(i) = payload(i % payload.length); i += 1 }
    }
    out
  }

  def resize(media: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0 &&
      targetW.toLong * targetH <= Int.MaxValue,
      s"resize dimensions out of range: ${targetW}x$targetH")
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("media_type", StringType, nullable = false),
      StructField("payload", BinaryType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select("doc_id", "media_type", "payload").mapPartitions { rows =>
      // per-partition scaler init would happen HERE
      rows.map { r =>
        Row(r.getAs[Long]("doc_id"), r.getAs[String]("media_type"),
          resizePayload(r.getAs[Array[Byte]]("payload"), targetW, targetH),
          targetW, targetH)
      }
    }(enc)
  }

  /** FAKE frame sampling — the generator-shaped multimodal op: one
    * input video row fans out to one row per sampled frame (every
    * `everyK`-th of the fake-decoded frame count), each frame's
    * payload slice reduced to an FNV hash feature. Payload bytes are
    * dropped before output, so the fan-out never shuffles media. */
  def sampleFrames(media: DataFrame, everyK: Int): DataFrame = {
    require(everyK >= 1, "everyK must be >= 1")
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame_hash", LongType, nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    // a NULL payload contributes no frames — matching the arithmetic
    // summary/oracle, where octet_length(NULL) would null the row out
    media.select("doc_id", "media_type", "payload")
      .filter(col("media_type") === "video" && col("payload").isNotNull)
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val nFrames = fakeDecode("video", payload)._3
          val chunk = math.max(
            (if (payload == null) 0 else payload.length) / math.max(nFrames, 1), 1)
          (0 until nFrames by everyK).iterator.map { f =>
            val h =
              if (payload == null) Hash64.FnvOffset
              else Hash64.fnv1a(payload, f * chunk, math.min(f * chunk + chunk, payload.length))
            Row(r.getAs[Long]("doc_id"), f, h)
          }
        }
      }(enc)
  }

  /** Oracle-checkable query: per-video frame-sampling summary — the
    * sampled-frame count and index bounds are pure arithmetic over the
    * fake-decode frame count, so DuckDB verifies the generator
    * plumbing end-to-end (the frame hashes themselves are
    * differential-spec'd against the mapPartitions path). */
  def frameSampleSummary(spark: SparkSession, dir: String,
      everyK: Int = 4): DataFrame = {
    val n = octet_length(col("payload")).cast("long")
    val nFrames = (lit(1) + n % 30).cast("long")
    mediaTable(spark, dir)
      .filter(col("media_type") === "video" && col("payload").isNotNull)
      .select(col("doc_id"), nFrames.as("n_frames"),
        ceil(nFrames.cast("double") / everyK).cast("long").as("n_sampled"),
        lit(0L).as("first_idx"),
        (floor((nFrames - 1).cast("double") / everyK).cast("long") * everyK)
          .as("last_idx"))
      .orderBy(col("doc_id"), col("n_frames"), col("n_sampled"),
        col("first_idx"), col("last_idx"))
  }

  /** dHash perceptual bands (q203) over the deterministic fake-decode
    * "luminance plane": pixel i (i = 0..71, a 9-wide × 8-tall plane)
    * is the codepoint of payload character (i mod n) — the
    * [[resizePayload]] cycling applied on the codepoint plane, so the
    * JVM path stays bit-identical to the `ascii(substr(text, …))`
    * column form on any text (the [[fakeDecode]] codepoint-vs-byte
    * rule). dHash bit k (k = 0..63, row r = k div 8, col c = k mod 8)
    * compares horizontal neighbours px[r·9+c] < px[r·9+c+1] — i.e.
    * px[k + k div 8] < px[k + k div 8 + 1] — and the 64 bits pack
    * into FOUR 16-bit bands (bit t of band j = bit 16j+t): any two
    * hashes within hamming distance 3 share at least one band by
    * pigeonhole, which makes band equality a complete candidate
    * generator for the ≤3 cut. A production build swaps the plane for
    * real decoded/resized grayscale; every downstream step is
    * unchanged. */
  def dhashBands(payload: Array[Byte]): Array[Int] = {
    val s = if (payload == null) ""
      else new String(payload, java.nio.charset.StandardCharsets.UTF_8)
    val n = s.codePointCount(0, s.length)
    val px = new Array[Int](72)
    if (n > 0) {
      var i = 0
      while (i < 72) {
        px(i) = s.codePointAt(s.offsetByCodePoints(0, i % n))
        i += 1
      }
    }
    val bands = new Array[Int](4)
    var k = 0
    while (k < 64) {
      val idx = k + k / 8
      if (px(idx) < px(idx + 1)) bands(k / 16) |= (1 << (k % 16))
      k += 1
    }
    bands
  }

  /** Partition-local perceptual-hash extraction over payloads (the
    * q39 mapPartitions discipline: codec + hash state init once per
    * partition, payload bytes dropped before any shuffle). Empty /
    * NULL payloads are skipped — they have no pixel plane, matching
    * the column form's `length(text) >= 1` guard. */
  def phashFeatures(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("bands", ArrayType(IntegerType, containsNull = false),
        nullable = false)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select("doc_id", "payload").mapPartitions { rows =>
      // per-partition decoder/hasher init would happen HERE
      rows.flatMap { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        if (payload == null || payload.length == 0) Iterator.empty
        else Iterator(Row(r.getAs[Long]("doc_id"), dhashBands(payload).toSeq))
      }
    }(enc)
  }

  /** Column-expression sibling of [[dhashBands]] over a text column —
    * the oracle-checkable face (DuckDB replays the same plane and
    * packing; MultimodalSpec pins payload path == column path). */
  def phashBandsCols(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), expr(
        "transform(sequence(0, 71)," +
          " i -> ascii(substr(text, cast(i % length(text) as int) + 1, 1)))")
        .as("px"))
      .select(col("doc_id"), expr(
        """transform(sequence(0, 3), j ->
          |  aggregate(sequence(0, 15), 0, (acc, t) ->
          |    acc + if(element_at(px, cast(j*16 + t + (j*16 + t) div 8 + 1 as int))
          |           < element_at(px, cast(j*16 + t + (j*16 + t) div 8 + 2 as int)),
          |      shiftleft(1, cast(t as int)), 0)))""".stripMargin)
        .as("bands"))

  /** Perceptual-hash near-dup pairs over any (doc_id, bands) frame:
    * band equality generates candidates (complete for the ≤3 cut by
    * pigeonhole over the 4 bands), exact hamming over the band xors
    * verifies. The bands table is register-persisted for its THREE
    * consumers (both sides of the candidate self-join + the verify
    * join) — the q65/q146 single-generator rule. */
  def phashDedupBands(bandsIn: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bands = graft.ops.Dedup.register(bandsIn
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val ex = bands.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_idx", "band_val")))
    // OPT-IN pre-flight budget (the q259 gate, phash edition —
    // VERDICT r13 #1, priced exactly like the q262 forecast): when
    // graft.phash.maxFanoutSlots is set, Σ_bands Σ_buckets C(c,2) —
    // the band self-join's exact row count — runs first as one keyed
    // count over the persisted bands frame, and an over-budget join
    // (a boilerplate-image cluster star-pairing one bucket) fails
    // LOUDLY before any pair materializes. Unset costs nothing.
    phashGate(bands.sparkSession, "phashDedup")(selfSlots(ex))
    val cands = ex.as("a").join(ex.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cands
      .join(bands.select(col("doc_id").as("doc_a"), col("bands").as("ba")),
        Seq("doc_a"))
      .join(bands.select(col("doc_id").as("doc_b"), col("bands").as("bb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        hammingCount(col("ba"), col("bb")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Bytes ONE phash verify row puts on the exchange: the candidate
    * join's output carries the two ids (2×8) and each verify join
    * attaches a 4×64-bit band vector (2×32), plus the row-overhead
    * constant the set-sim est_row_bytes methodology uses (24). Fixed
    * width — phash payloads never scale with the corpus — so
    * exchange bytes = slots × this constant, computable from q262's
    * fanout_slots today. */
  private[graft] val PhashVerifyRowBytes = 104L

  /** Opt-in budget for the phash band joins (the q259
    * `maxExchangeBytes` control, phash edition — VERDICT r13 #1):
    * when either conf is set the by-name `price` thunk runs (keyed
    * counts only, no pair materialized) and an over-budget band join
    * fails loudly with the slot count, the byte estimate, and the
    * hottest bucket's share — the q262 star-guard read as a CONTROL.
    * Two units, ONE budget (VERDICT r14 #3 — the set-sim and
    * containment gates are exchange BYTES, so a deployment can now
    * hand all four families the same byte number):
    *  - `graft.phash.maxFanoutSlots` — candidate slots (kept for
    *    back-compat; the honest native lever since rows are
    *    fixed-width);
    *  - `graft.phash.maxExchangeBytes` — slots × [[PhashVerifyRowBytes]]
    *    against a byte budget, unit-compatible with
    *    graft.setsim.*.maxExchangeBytes / graft.containment.*.
    * Unset (the default) costs nothing. */
  private def phashGate(spark: SparkSession, label: String)(
      price: => (Long, Long)): Unit = {
    val slotBudget =
      spark.conf.getOption("graft.phash.maxFanoutSlots").map(_.toLong)
    val byteBudget =
      spark.conf.getOption("graft.phash.maxExchangeBytes").map(_.toLong)
    if (slotBudget.isDefined || byteBudget.isDefined) {
      val (sl, mx) = price
      val bytes = BigInt(sl) * PhashVerifyRowBytes
      val slotHit = slotBudget.filter(sl > _)
      val byteHit = byteBudget.filter(bytes > BigInt(_))
      if (slotHit.isDefined || byteHit.isDefined) {
        val share =
          if (sl == 0L) 0L
          else (BigInt(mx) * 1000000 / BigInt(sl)).toLong
        val which = (slotHit.map(b => s"graft.phash.maxFanoutSlots=$b")
          ++ byteHit.map(b => s"graft.phash.maxExchangeBytes=$b"))
          .mkString(" and ")
        throw new IllegalStateException(
          s"$label pre-flight: $sl band-join candidate slots ≈ $bytes " +
            s"exchange bytes (hottest bucket $share ppm of slots) " +
            s"exceeds $which — split the hot bucket, tighten the " +
            "image slice, or raise the budget")
      }
    }
  }

  /** Σ_(band,val) C(c,2) and the hottest bucket's C(c,2) over an
    * exploded bands frame — the band SELF-join's exact row count
    * (the q262 fanout arithmetic, totalled across bands). */
  private def selfSlots(ex: DataFrame): (Long, Long) = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val r = ex.groupBy(col("band_idx"), col("band_val"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(dec(col("c")) * dec(col("c") - 1)).as("sl2"),
        max(dec(col("c")) * dec(col("c") - 1)).as("mx2"))
      .select(expr("CAST(coalesce(sl2, 0) DIV 2 AS BIGINT)"),
        expr("CAST(coalesce(mx2, 0) DIV 2 AS BIGINT)"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Σ over shared (band, value) buckets of cA·cB and the hottest
    * product — the batch×corpus band join's exact row count. */
  private def crossSlotsOf(exA: DataFrame, exB: DataFrame): (Long, Long) = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val cA = exA.groupBy(col("band_idx"), col("band_val"))
      .agg(count(lit(1)).as("ca"))
    val cB = exB.groupBy(col("band_idx"), col("band_val"))
      .agg(count(lit(1)).as("cb"))
    val r = cA.join(cB, Seq("band_idx", "band_val"))
      .agg(sum(dec(col("ca")) * dec(col("cb"))).as("sl"),
        max(dec(col("ca")) * dec(col("cb"))).as("mx"))
      .select(expr("CAST(coalesce(sl, 0) AS BIGINT)"),
        expr("CAST(coalesce(mx, 0) AS BIGINT)"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Perceptual-band pre-flight (q262): the q259 "price it, then run
    * it" gate for the phash family — with this, EVERY pair-generating
    * family in the engine has an executable forecast (q229 self-join,
    * q238 Σdeg² wedges, q259/q260 set-sim, here dHash bands). Per
    * band: Σ C(c, 2) over (band, value) bucket occupancies — EXACTLY
    * the rows the band-equality self-join processes — plus bucket
    * count and the hottest bucket's slot share (the q126-style
    * MaxBucket/star-pairing trigger: a boilerplate image cluster puts
    * all its ids into ONE bucket per band and the forecast shows it
    * as top_bucket_share_ppm → 10⁶ BEFORE the join fans out). One
    * keyed count over the exploded bands frame; no pair ever
    * materializes. Since round 15 the output also carries the
    * q259/q260/q263 byte columns (est_row_bytes — the fixed
    * [[PhashVerifyRowBytes]] — and est_exchange_bytes = slots × it),
    * so all four family forecasts share one methodology and the
    * `graft.phash.maxExchangeBytes` budget reads directly off this
    * query. */
  def phashPreflight(spark: SparkSession, dir: String): DataFrame =
    phashPreflightBands(phashBandsCols(
      Tables.documents(spark, dir)
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text"))))

  /** Frame-based core of [[phashPreflight]]. The bands frame is
    * persisted (registry-drained) BEFORE the posexplode: feeding the
    * interpreted band expression straight into the generator lets the
    * optimizer collapse the 72-pixel projection into the 128
    * per-band-bit references — measured 27 s vs ~1 s at sf0.1 for the
    * SAME rows (the q31 CollapseProject lesson, generator edition);
    * the cache boundary materializes the arrays once per row. */
  private[graft] def phashPreflightBands(bandsIn: DataFrame): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    graft.ops.Dedup.register(bandsIn
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      .select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band_idx", "band_val")))
      .groupBy(col("band_idx"), col("band_val"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("band_idx"))
      .agg(sum(col("c")).as("n_hashes"),
        count(lit(1)).as("n_buckets"),
        sum(dec(col("c")) * dec(col("c") - 1)).as("slots2"),
        max(dec(col("c")) * dec(col("c") - 1)).as("mx2"))
      .select(col("band_idx").cast("long").as("band_idx"),
        col("n_hashes"), col("n_buckets"),
        expr("CAST(slots2 div 2 AS BIGINT)").as("fanout_slots"),
        expr("CAST(mx2 div 2 AS BIGINT)").as("max_bucket_slots"),
        when(expr("CAST(slots2 div 2 AS BIGINT)") === 0L, 0L)
          .otherwise(expr(
            "CAST(((mx2 div 2) * 1000000) div (slots2 div 2) AS BIGINT)"))
          .as("top_bucket_share_ppm"),
        // the q259/q260/q263 byte columns (round 15 — one forecast
        // methodology across all four families): phash rows are
        // FIXED-width, so the estimate is slots × the constant the
        // byte gate uses ([[PhashVerifyRowBytes]])
        lit(PhashVerifyRowBytes).as("est_row_bytes"),
        expr(s"CAST((slots2 div 2) * $PhashVerifyRowBytes AS BIGINT)")
          .as("est_exchange_bytes"))
      .orderBy(col("band_idx"), col("n_hashes"), col("n_buckets"),
        col("fanout_slots"), col("max_bucket_slots"),
        col("top_bucket_share_ppm"), col("est_row_bytes"),
        col("est_exchange_bytes"))
  }

  /** DuckDB oracle for [[phashPreflight]]: the q203 plane/band CTEs,
    * then per-(band, value) bucket counts and the slot arithmetic in
    * HUGEINT. */
  def phashPreflightOracleSql(): String =
    s"""WITH img AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % 3 = 0 AND LENGTH(text) >= 1),
       |px AS (
       |  SELECT doc_id,
       |    LIST_TRANSFORM(RANGE(0, 72),
       |      i -> ASCII(SUBSTR(text, (i % LENGTH(text)) + 1, 1))) AS p
       |  FROM img),
       |bnd AS (
       |  SELECT doc_id,
       |    LIST_TRANSFORM(RANGE(0, 4), j -> CAST(LIST_SUM(
       |      LIST_TRANSFORM(RANGE(0, 16), t -> CASE
       |        WHEN p[(j*16+t) + (j*16+t) // 8 + 1]
       |           < p[(j*16+t) + (j*16+t) // 8 + 2]
       |        THEN (1 << t) ELSE 0 END)) AS BIGINT)) AS bands
       |  FROM px),
       |eb AS (
       |  SELECT doc_id, j - 1 AS band_idx,
       |    bands[CAST(j AS INTEGER)] AS band_val
       |  FROM bnd CROSS JOIN generate_series(1, 4) s(j)),
       |bk AS (
       |  SELECT band_idx, band_val, CAST(COUNT(*) AS HUGEINT) AS c
       |  FROM eb GROUP BY 1, 2)
       |SELECT CAST(band_idx AS BIGINT) AS band_idx,
       |  CAST(SUM(c) AS BIGINT) AS n_hashes,
       |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
       |  CAST(SUM(c * (c - 1)) // 2 AS BIGINT) AS fanout_slots,
       |  CAST(MAX(c * (c - 1)) // 2 AS BIGINT) AS max_bucket_slots,
       |  CASE WHEN SUM(c * (c - 1)) // 2 = 0 THEN 0
       |    ELSE CAST((MAX(c * (c - 1)) // 2 * 1000000)
       |      // (SUM(c * (c - 1)) // 2) AS BIGINT)
       |    END AS top_bucket_share_ppm,
       |  CAST($PhashVerifyRowBytes AS BIGINT) AS est_row_bytes,
       |  CAST(SUM(c * (c - 1)) // 2 * $PhashVerifyRowBytes AS BIGINT)
       |    AS est_exchange_bytes
       |FROM bk GROUP BY 1
       |ORDER BY band_idx, n_hashes, n_buckets, fanout_slots,
       |  max_bucket_slots, top_bucket_share_ppm, est_row_bytes,
       |  est_exchange_bytes""".stripMargin

  /** Query entry (q203): perceptual-hash image dedup — dHash bands
    * over the image-modality payload plane, band-bucketed candidates,
    * exact hamming ≤ 3 verify. The brute-force DuckDB oracle doubles
    * as the candidate-COMPLETENESS gate (the q126 rule): a banding
    * bug that drops any qualifying pair hash-mismatches at both
    * scales. */
  def phashDedup(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame =
    phashDedupBands(phashBandsCols(
      Tables.documents(spark, dir)
        .filter(col("doc_id") % 3 === 0) // the mediaTable image rows
        .select(col("doc_id"), col("text"))), maxHamming)

  /** DuckDB oracle for [[phashDedup]] — same plane/packing CTEs,
    * brute-force all-pairs hamming (no banding), so candidate
    * completeness is part of the hash compare. */
  def phashDedupOracleSql(maxHamming: Int = 3): String =
    s"""WITH img AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % 3 = 0 AND LENGTH(text) >= 1),
       |px AS (
       |  SELECT doc_id,
       |    LIST_TRANSFORM(RANGE(0, 72),
       |      i -> ASCII(SUBSTR(text, (i % LENGTH(text)) + 1, 1))) AS p
       |  FROM img),
       |bnd AS (
       |  SELECT doc_id,
       |    LIST_TRANSFORM(RANGE(0, 4), j -> CAST(LIST_SUM(
       |      LIST_TRANSFORM(RANGE(0, 16), t -> CASE
       |        WHEN p[(j*16+t) + (j*16+t) // 8 + 1]
       |           < p[(j*16+t) + (j*16+t) // 8 + 2]
       |        THEN (1 << t) ELSE 0 END)) AS BIGINT)) AS bands
       |  FROM px),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, 4),
       |      j -> bit_count(xor(a.bands[j+1], b.bands[j+1]))))
       |      AS BIGINT) AS hamming
       |  FROM bnd a JOIN bnd b ON a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM pairs
       |WHERE hamming <= $maxHamming
       |ORDER BY doc_a, doc_b, hamming""".stripMargin

  /** Incremental perceptual dedup (q204): an ingest batch of image
    * payloads against an existing deduped corpus — the q150/q191
    * decision pair applied to the q203 hash: a batch doc is dropped
    * when it matches (hamming ≤ maxHamming) ANY corpus image
    * (corpus-wins) or ANY lower-id batch-mate (the non-transitive
    * first-win rule that replays in SQL; the round-6 lesson — state
    * is ALL seen docs, kept or dropped, so suppression can't
    * diverge). Reports the minimum matching id per direction with a
    * −1 sentinel (no NULL sort-order cross-engine trap).
    *
    * Scale shape: both candidate joins are (band_idx, band_val) equi
    * joins against the persisted band tables (corpus side is the
    * precomputed index — the setSimJoinIncremental asymmetry); verify
    * is 4 integer xors per candidate; the verdict set is batch-sized,
    * so the tail is a repartition(1) sort, never a global orderBy
    * (the q126 rule). */
  def phashIncrementalBands(corpusBands: DataFrame,
      batchBands: DataFrame, maxHamming: Int = 3): DataFrame = {
    val cb = graft.ops.Dedup.register(corpusBands
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bb = graft.ops.Dedup.register(batchBands
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    phashVerdicts(cb, bb, maxHamming)
  }

  /** Unmanaged core of [[phashIncrementalBands]]: callers persist (and
    * unpersist) the two band frames themselves — the streaming twin
    * scopes them per micro-batch instead of parking them in the
    * query-lifetime registry. */
  private[graft] def phashVerdicts(cb: DataFrame, bb: DataFrame,
      maxHamming: Int): DataFrame = {
    def exploded(bands: DataFrame) = bands.select(col("doc_id"),
      posexplode(col("bands")).as(Seq("band_idx", "band_val")))
    val exC = exploded(cb)
    val exB = exploded(bb)
    // OPT-IN pre-flight budget (VERDICT r13 #1): price BOTH candidate
    // joins — batch×corpus bucket products plus the batch self-join's
    // Σ C(c,2) — before either fans out. Unset costs nothing.
    phashGate(cb.sparkSession, "phashIncremental")({
      val (s1, m1) = crossSlotsOf(exB, exC)
      val (s2, m2) = selfSlots(exB)
      (s1 + s2, math.max(m1, m2))
    })
    // native banded Hamming (graft.functions.HammingCount) — the
    // aggregate/zip_with lambda pair ran interpreted per pHash
    // candidate (r16 census rule); same value incl. null/length
    // edges (NativeCountsSpec)
    val ham = hammingCount(col("ba"), col("bb"))
    def verified(cand: DataFrame, left: DataFrame, right: DataFrame) =
      cand
        .join(left.select(col("doc_id").as("doc_id"), col("bands").as("ba")),
          Seq("doc_id"))
        .join(right.select(col("doc_id").as("mate"), col("bands").as("bb")),
          Seq("mate"))
        .filter(ham <= maxHamming)
    val vsCorpus = verified(
      exB.as("b").join(exC.as("c"),
          col("b.band_idx") === col("c.band_idx") &&
            col("b.band_val") === col("c.band_val"))
        .select(col("b.doc_id").as("doc_id"), col("c.doc_id").as("mate"))
        .distinct(), bb, cb)
      .groupBy(col("doc_id"))
      .agg(min(col("mate")).as("dup_of_corpus"))
    val vsBatch = verified(
      exB.as("a").join(exB.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
            col("a.band_val") === col("b.band_val") &&
            col("b.doc_id") < col("a.doc_id"))
        .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("mate"))
        .distinct(), bb, bb)
      .groupBy(col("doc_id"))
      .agg(min(col("mate")).as("dup_of_batch"))
    bb.select(col("doc_id"))
      .join(vsCorpus, Seq("doc_id"), "left")
      .join(vsBatch, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("dup_of_corpus").isNull && col("dup_of_batch").isNull)
          .as("kept"),
        coalesce(col("dup_of_corpus"), lit(-1L)).as("dup_of_corpus"),
        coalesce(col("dup_of_batch"), lit(-1L)).as("dup_of_batch"))
      .repartition(1)
      .sortWithinPartitions(col("doc_id"), col("kept"),
        col("dup_of_corpus"), col("dup_of_batch"))
  }

  /** Query entry (q204): the image third of the corpus split at
    * doc_id 300 (the q191 convention) — existing corpus below, ingest
    * batch above. */
  def phashIncremental(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    val img = Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
    phashIncrementalBands(
      phashBandsCols(img.filter(col("doc_id") < 300)),
      phashBandsCols(img.filter(col("doc_id") >= 300)), maxHamming)
  }

  /** DuckDB oracle for [[phashIncremental]] — the q203 plane/band
    * CTEs split at 300, both prune joins brute-force (candidate
    * completeness inside the hash compare). */
  def phashIncrementalOracleSql(maxHamming: Int = 3): String = {
    def hamming(a: String, b: String) =
      s"""CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, 4),
         |      j -> bit_count(xor($a.bands[j+1], $b.bands[j+1]))))
         |      AS BIGINT)""".stripMargin
    s"""WITH img AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE doc_id % 3 = 0 AND LENGTH(text) >= 1),
       |px AS (
       |  SELECT doc_id,
       |    LIST_TRANSFORM(RANGE(0, 72),
       |      i -> ASCII(SUBSTR(text, (i % LENGTH(text)) + 1, 1))) AS p
       |  FROM img),
       |bnd AS (
       |  SELECT doc_id,
       |    LIST_TRANSFORM(RANGE(0, 4), j -> CAST(LIST_SUM(
       |      LIST_TRANSFORM(RANGE(0, 16), t -> CASE
       |        WHEN p[(j*16+t) + (j*16+t) // 8 + 1]
       |           < p[(j*16+t) + (j*16+t) // 8 + 2]
       |        THEN (1 << t) ELSE 0 END)) AS BIGINT)) AS bands
       |  FROM px),
       |corp AS (SELECT * FROM bnd WHERE doc_id < 300),
       |bat AS (SELECT * FROM bnd WHERE doc_id >= 300),
       |dc AS (
       |  SELECT b.doc_id, MIN(c.doc_id) AS dup_of_corpus
       |  FROM bat b JOIN corp c ON ${hamming("b", "c")} <= $maxHamming
       |  GROUP BY b.doc_id),
       |db AS (
       |  SELECT a.doc_id, MIN(b.doc_id) AS dup_of_batch
       |  FROM bat a JOIN bat b ON b.doc_id < a.doc_id
       |    AND ${hamming("a", "b")} <= $maxHamming
       |  GROUP BY a.doc_id)
       |SELECT t.doc_id,
       |  (dc.dup_of_corpus IS NULL AND db.dup_of_batch IS NULL) AS kept,
       |  COALESCE(dc.dup_of_corpus, -1) AS dup_of_corpus,
       |  COALESCE(db.dup_of_batch, -1) AS dup_of_batch
       |FROM bat t
       |LEFT JOIN dc ON dc.doc_id = t.doc_id
       |LEFT JOIN db ON db.doc_id = t.doc_id
       |ORDER BY t.doc_id, kept, dup_of_corpus, dup_of_batch""".stripMargin
  }

  /** Oracle-checkable query: the fake-decode arithmetic restated as
    * pure column expressions (bit-identical to the mapPartitions path,
    * asserted in MultimodalSpec), so the DuckDB oracle can verify the
    * plumbing end-to-end. */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val n = octet_length(col("payload")).cast("long")
    val first = when(n > 0, ascii(substring(col("text"), 1, 1))).otherwise(0)
    mediaTable(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("text")),
        Seq("doc_id"))
      .select(col("doc_id"), col("media_type"), n.as("n_bytes"),
        when(col("media_type") === "audio", 0)
          .otherwise(lit(64) + n % 512).cast("long").as("width"),
        when(col("media_type") === "audio", 0)
          .otherwise(lit(64) + (n * 7 + first) % 512).cast("long").as("height"),
        when(col("media_type") === "image", 1)
          .when(col("media_type") === "audio", 0)
          .otherwise(lit(1) + n % 30).cast("long").as("n_frames"),
        when(col("media_type") === "audio",
          lit(8000) + (n % 5) * 8000).otherwise(0).cast("long").as("sample_rate"))
      .orderBy(col("doc_id"))
  }
}
