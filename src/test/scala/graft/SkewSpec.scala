package graft

import graft.ops.Skew
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("salted two-phase sum equals direct groupBy sum") {
    val li = Tables.lineitem(spark, sf)
    val direct = li.groupBy(col("l_returnflag").as("k"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("total"))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    val salted = Skew.saltedSum(li, col("l_returnflag"),
        salt = col("l_orderkey"), value = col("l_quantity").cast("decimal(18,2)"))
      .collect().map(r => r.getString(0) -> r.getDecimal(1)).toMap
    assert(salted == direct)
  }

  test("salted join returns the same rows as a plain join") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_suppkey")
    val s = Tables.supplier(spark, sf).select(
      col("s_suppkey").as("l_suppkey"), col("s_name"))
    val plain = li.join(s, "l_suppkey")
    val salted = Skew.saltedJoin(li, s, "l_suppkey")
    assert(salted.count() == plain.count())
    assert(plain.exceptAll(salted.select(plain.columns.map(col): _*)).isEmpty)
  }

  test("AQE splits a skewed join partition at runtime (isSkew in the executed plan)") {
    // the runtime complement of the salting ops above: AQE's
    // OptimizeSkewedJoin splits an oversized shuffle partition into
    // sub-reads AFTER seeing the real sizes — at 100 TB this is what
    // turns a hot-key straggler into parallel work with no code
    // change. Thresholds lowered so the mechanism triggers at test
    // scale; broadcast disabled to force the sort-merge shape it
    // applies to.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val restore = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set(keys(0), "64KB")
      conf.set(keys(1), "16KB")
      conf.set(keys(2), "2")
      conf.set(keys(3), "-1")
      conf.set(keys(4), "-1")
      // hot key on the LEFT only (right keys unique) so the join
      // output stays small while the left shuffle partition is fat
      val left = (1 to 60000).map(i =>
        (if (i % 10 == 0) i.toLong else 7L, s"payload_left_$i"))
        .toDF("k", "lv")
      val right = (1 to 3000).map(i => (i.toLong, s"payload_right_$i"))
        .toDF("k", "rv")
      // no agg downstream: a consumer that reuses the join's
      // partitioning makes OptimizeSkewedJoin decline the split (it
      // would need forceOptimizeSkewedJoin's extra shuffle). The
      // action must run THIS QueryExecution (a write spawns its own),
      // so collect — the unique right side keeps it small
      val joined = left.join(right, "k")
      // 54 000 hot-key matches + the multiples of 10 up to 3000
      assert(joined.collect().length == 54300)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isSkew=true") || plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${plan.take(1200)}")
    } finally restore.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("LSH band join survives a planted mega-duplicate cluster") {
    import graft.ops.Dedup
    // 1200 identical docs land in ONE (band, hash) bucket in every
    // band: all-pairs would be ~719k candidate pairs from one key
    val boiler = "the same boilerplate legal disclaimer text repeated " +
      "across the whole corpus many times word for word without change"
    val cluster = (0 until 1200).map(i => (i.toLong, boiler))
    val a = "an ordinary document about catalyst plans pushdown pruning " +
      "broadcast joins and whole stage code generation in spark engines"
    val pairDocs = Seq(
      (5000L, a), (5001L, a.replace("ordinary", "unusual")),
      (6000L, "unrelated text about cooking pasta with basil and garlic " +
        "on a quiet sunday afternoon for the extended family dinner"))
    val docs = (cluster ++ pairDocs).toDF("doc_id", "text")
    val candidates = Dedup.lshCandidatePairs(
      Dedup.signatureTable(docs, "doc_id"), "doc_id")
    val n = candidates.count()
    assert(n < 5000, s"mega-bucket went quadratic: $n candidate pairs")
    // connectivity: every cluster member still pairs with the
    // representative (min id 0), so dedup keeps the whole cluster
    assert(candidates.filter(col("doc_a") === 0L).count() == 1199)
    // and the full verify pipeline confirms the star edges + the
    // normal small-bucket pair, leaving the unrelated doc alone
    val verified = Dedup.nearDupPairs(docs, "doc_id", 0.8)
    assert(verified.filter(col("doc_a") === 0L && col("jaccard") === 1.0)
      .count() == 1199)
    val flat = verified.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(flat.contains((5000L, 5001L)))
    assert(!flat.exists(p => p._1 == 6000L || p._2 == 6000L))
  }

  test("LSH bucket pairs equal a brute-force pairing of the band buckets") {
    import graft.ops.Dedup
    // planted signatures: docs 3, 1, 2 and a NULL id share band 0 (a
    // bucket of exactly maxBucket non-NULL ids), docs 11-14 share band
    // 1 (one over the cap: star from 11), docs 2 and 12 share band 2;
    // every other signature value is unique to its doc
    def sig(id: Long, shared: Map[Int, Long]): Seq[Long] =
      (0 until Dedup.NumHashes).map { k =>
        shared.getOrElse(k / Dedup.RowsPerBand, id * 1000L + k)
      }
    val planted: Seq[(Option[Long], Seq[Long])] =
      Seq(3L, 1L, 2L).map(i => Some(i) -> sig(i,
          Map(0 -> 7L) ++ (if (i == 2L) Map(2 -> 8L) else Map.empty))) ++
        Seq(11L, 12L, 13L, 14L).map(i => Some(i) -> sig(i,
          Map(1 -> 9L) ++ (if (i == 12L) Map(2 -> 8L) else Map.empty))) ++
        Seq(None -> sig(999L, Map(0 -> 7L)), Some(20L) -> sig(20L, Map.empty))
    val sigs = planted.toDF("doc_id", "sig")
    val maxBucket = 3
    val want = Dedup.bandedIds(sigs, "id").collect()
      .filterNot(_.isNullAt(0))
      .groupBy(r => (r.get(1), r.get(2))).values
      .map(_.map(_.getLong(0)).sorted.toSeq)
      .flatMap { ids =>
        if (ids.size <= maxBucket)
          for (i <- ids.indices; j <- i + 1 until ids.size) yield ids(i) -> ids(j)
        else ids.tail.map(ids.head -> _)
      }.toSet
    assert(want == Set(1L -> 2L, 1L -> 3L, 2L -> 3L,
      11L -> 12L, 11L -> 13L, 11L -> 14L, 2L -> 12L))
    val got = Dedup.lshCandidatePairs(sigs, "doc_id", maxBucket).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got.size == got.toSet.size, s"repeated pairs: $got")
    assert(got.toSet == want)
    assert(got.forall { case (a, b) => a < b }, s"self or reversed pair: $got")
  }
  test("join-skew report ranks a planted hot key first with exact fanout") {
    import org.apache.spark.sql.functions._
    // key 7 has 50 left x 3 right = 150 fanout; key 1 has 2 x 1 = 2
    // (below the minFan=8 cut); key 9 has 4 x 2 = 8 (at the cut)
    val li = (Seq.tabulate(50)(i => (7L, i)) ++ Seq((1L, 0), (1L, 1)) ++
      Seq.tabulate(4)(i => (9L, i))).toDF("l_orderkey", "x")
    val o = Seq((7L, 0), (7L, 1), (7L, 2), (1L, 0), (9L, 0), (9L, 1))
      .toDF("o_orderkey", "y")
    val dir = java.nio.file.Files.createTempDirectory("skewrep").toString
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    o.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = graft.ops.Audit.joinSkewReport(spark, dir).collect()
    assert(got.length == 2, s"minFan cut failed: ${got.toSeq}")
    // worst first; shares over total fanout 150 + 2 + 8 = 160
    assert(got(0).getAs[Long]("join_key") == 7L)
    assert(got(0).getAs[Long]("fanout") == 150L)
    assert(got(0).getAs[Long]("fanout_share_ppm") == 150L * 1000000L / 160L)
    assert(got(1).getAs[Long]("join_key") == 9L)
    assert(got(1).getAs[Long]("fanout") == 8L)
  }
}
