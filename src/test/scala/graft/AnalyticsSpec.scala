package graft

import graft.functions.GraftFunctions
import graft.multimodal.Multimodal
import graft.ops.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("rolling_hash codegen matches the Scala reference implementation") {
    GraftFunctions.register(spark)
    val samples = Seq("", "a", "hello world", "héllo — ünïcode ⚡",
      "the quick brown fox jumps over the lazy dog")
    val got = collectCodegen(samples.toDF("s").repartition(2)
        .select(col("s"), expr("rolling_hash(s)")))
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == samples.map(s => s -> References.rollingHash64(s)).toMap)
  }

  /** Collects `df` with the interpreted fallback off, then checks that
    * its executed plan compiles a projection in whole-stage codegen. A
    * `Seq(...).toDF` input with no shuffle above it is folded by
    * ConvertToLocalRelation into a LocalTableScanExec and evaluated
    * interpreted, so a codegen test over it never runs `doGenCode`. */
  private def collectCodegen(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    var rows = Seq.empty[org.apache.spark.sql.Row]
    withSQLConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false") {
      rows = df.collect().toSeq
    }
    val plan = df.queryExecution.executedPlan
    val compiled = new AdaptiveSparkPlanHelper {}.collect(plan) {
      case w: WholeStageCodegenExec if w.child.exists(_.isInstanceOf[ProjectExec]) => w
    }
    assert(compiled.nonEmpty, s"no projection in whole-stage codegen:\n$plan")
    rows
  }

  test("GraftExtensions wires builders that eval like the references") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    // a second SparkContext can't exist in this JVM, so exercise the
    // injection object + the registered builders' eval paths directly
    new graft.functions.GraftExtensions()
      .apply(new org.apache.spark.sql.SparkSessionExtensions)
    val h = graft.functions.RollingHash64(Literal("abc")).eval(null)
    assert(h == References.rollingHash64("abc"))
    val sh = graft.functions.ShingleHashes(Literal("abcdefghij"), 8).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(sh.numElements() == 3)
    val sig = graft.functions.MinHashSignature(
        graft.functions.ShingleHashes(Literal("hello world, a doc"), 8), 64)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(sig.numElements() == 64)
  }

  test("rolling_hash interpreted path (codegen off) agrees") {
    GraftFunctions.register(spark)
    val texts = Seq("", "abc", "xyzzy", "the quick brown fox jumps over the quick dog")
    val want = texts.map { t =>
      val h = References.rollingHash64(t)
      (h, References.splitmix64(h), References.minhash64(References.shingle8(t)))
    }
    // repartition keeps the projection out of ConvertToLocalRelation,
    // which would evaluate it interpreted even with codegen on
    val df = texts.toDF("s").repartition(1)
    Seq(("false", "NO_CODEGEN"), ("true", "CODEGEN_ONLY")).foreach {
      case (wholeStage, factory) =>
        withSQLConf("spark.sql.codegen.wholeStage" -> wholeStage,
          "spark.sql.codegen.factoryMode" -> factory) {
          val got = df.select(expr("rolling_hash(s)"),
              expr("splitmix64(rolling_hash(s))"), expr("minhash64(shingle8(s))"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
          assert(got.toSeq == want, s"codegen factory mode $factory")
        }
    }
  }

  private def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("fingerprint min_shingle/n_shingles match the Scala window-hash reference") {
    val got = graft.ops.TextAnalysis.fingerprints(spark, sf).limit(20)
      .join(Tables.documents(spark, sf), "doc_id")
      .select("doc_id", "min_shingle", "n_shingles", "text")
      .collect()
    got.foreach { r =>
      val hashes = graft.functions.ShingleHashes.windowHashes(
        r.getString(3).getBytes("UTF-8"), 8)
      assert(r.getLong(1) == hashes.min, s"doc ${r.getLong(0)} min mismatch")
      assert(r.getLong(2) == hashes.length, s"doc ${r.getLong(0)} count mismatch")
    }
  }

  test("minhash LSH finds planted near-duplicates, not unrelated docs") {
    val base = "spark catalyst optimizer rewrites logical plans into physical plans " +
      "with pushdown pruning broadcast and codegen for large scale analytics"
    val nearDup = base.replace("broadcast", "shuffle") // 1-word edit
    val unrelated = "completely different content about cooking pasta with " +
      "tomato sauce basil garlic and olive oil on a sunday afternoon dinner"
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("doc_id", "text")
    val pairs = Dedup.nearDupPairs(docs, "doc_id", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("sorted_intersect_count matches array_intersect on real doc sets") {
    GraftFunctions.register(spark)
    // corpus-wide agreement on the actual q126 inputs (sorted distinct
    // packed-gram arrays), plus adversarial edges: empty, disjoint,
    // identical, one-side-duplicate values
    val packed = (1 to 8).foldLeft(lit(0L)) { (acc, i) =>
      shiftleft(acc, 8) + ascii(substring(col("gram"), i, 1)).cast("long")
    }
    val sets = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, greatest(length(text) - 7, 1))," +
          " i -> substring(text, i, 8))"))).as("gram"))
      .select(col("doc_id"), packed.as("g64"))
      .groupBy("doc_id").agg(sort_array(collect_list(col("g64"))).as("gs"))
      .limit(60)
    val pairs = sets.select(col("doc_id").as("a"), col("gs").as("ga"))
      .crossJoin(sets.select(col("doc_id").as("b"), col("gs").as("gb")))
      .filter(col("a") < col("b"))
    val mismatches = pairs.filter(
      call_function("sorted_intersect_count", col("ga"), col("gb")) =!=
        size(array_intersect(col("ga"), col("gb"))).cast("long")).count()
    assert(mismatches == 0, s"$mismatches pairs disagree with array_intersect")
    // hand cases
    val edge = Seq(
      (Seq[Long](), Seq(1L, 2L), 0L),
      (Seq(1L, 2L, 3L), Seq(4L, 5L), 0L),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), 3L),
      (Seq(1L, 1L, 2L), Seq(1L, 3L), 1L), // dup on one side counts once
      (Seq(-5L, 0L, 7L), Seq(-5L, 7L, 9L), 2L))
      .toDF("x", "y", "want")
    assert(edge.filter(call_function("sorted_intersect_count",
      col("x"), col("y")) =!= col("want")).count() == 0)
  }

  test("setSimJoin finds planted near-dups with exact ppm jaccard") {
    val base = "spark catalyst optimizer rewrites logical plans into physical plans " +
      "with pushdown pruning broadcast and codegen for large scale analytics"
    val nearDup = base.replace("broadcast", "shuffle")
    val unrelated = "completely different content about cooking pasta with " +
      "tomato sauce basil garlic and olive oil on a sunday afternoon dinner"
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated), (4L, base))
      .toDF("doc_id", "text")
    val got = Dedup.setSimJoin(docs, "doc_id", 700000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.contains((1L, 2L)), s"edited near-dup missed: $got")
    assert(got((1L, 4L)) == 1000000L, "identical pair must score exactly 1.0")
    assert(!got.keys.exists(p => p._1 == 3L || p._2 == 3L),
      "unrelated doc must not pair")
  }

  test("setSimJoin prefix filter is complete vs brute force on the corpus") {
    // the PPJoin prefix bound must drop NO qualifying pair — compare
    // against the all-pairs gram join at the same threshold on the
    // real sf0.001 documents (500 docs; 28 qualifying pairs)
    val docs = Tables.documents(spark, sf)
    val grams = docs.select(col("doc_id"), explode(array_distinct(expr(
      "transform(sequence(1, greatest(length(text) - 7, 1))," +
        " i -> substring(text, i, 8))"))).as("gram"))
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val brute = grams.select(col("doc_id").as("doc_a"), col("gram"))
      .join(grams.select(col("doc_id").as("doc_b"), col("gram")), Seq("gram"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ni"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .filter(col("ni") * lit(1000000L) >=
        lit(700000L) * (col("na") + col("nb") - col("ni")))
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val filtered = Dedup.setSimJoin(docs, "doc_id", 700000L)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(filtered == brute,
      s"prefix filter incomplete: missing ${brute -- filtered}, " +
        s"extra ${filtered -- brute}")
    assert(brute.nonEmpty, "corpus should contain qualifying pairs")
  }

  test("exact dedup groups identical texts only") {
    val docs = Seq((10L, "same text"), (11L, "same text"), (12L, "other"))
      .toDF("doc_id", "text")
    val groups = docs.groupBy(sha2(col("text"), 256))
      .agg(min("doc_id").as("keep"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(groups(10L) == 2 && groups(12L) == 1)
  }

  test("simhash64 native codegen matches the interpreted HOF form") {
    GraftFunctions.register(spark)
    // edge cases: empty, single token, consecutive/leading/trailing
    // spaces (empty tokens kept, per split() limit -1), unicode
    val samples = Seq("", "one", "two tokens", "a  b", " lead", "trail ",
      "héllo wörld ⚡ tokens", Array.tabulate(80)(i => s"t$i").mkString(" "))
    val df = samples.toDF("text").repartition(2)
    def byText(rows: Seq[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = byText(collectCodegen(df.select(col("text"), Dedup.simhashExpr("text"))))
    val want = byText(df.select(col("text"), References.simhash("text")).collect().toSeq)
    assert(want.size == samples.size && got == want)
    // corpus-wide agreement on real documents
    val docs = Tables.documents(spark, sf)
    val mismatches = docs.select(
        Dedup.simhashExpr("text").as("native"),
        References.simhash("text").as("interp"))
      .filter(col("native") =!= col("interp")).count()
    assert(mismatches == 0)
  }

  test("dotf native codegen matches the interpreted HOF dot product") {
    GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sf).limit(100)
    // float×float (self dot) and float×double-literal (plane dot) paths
    val plane = graft.ops.Similarity.hyperplanes(1, 64).head
    val planeCol = array(plane.map(lit): _*)
    // the parquet input is not folded into a local relation, but the HOF
    // lambdas keep this projection out of whole-stage codegen: dotf is
    // compiled by the projection's own code generator, and CODEGEN_ONLY
    // makes a compile failure fail here instead of falling back to eval
    withSQLConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      val mismatches = emb.select(
          graft.ops.Similarity.dot(col("embedding"), col("embedding")).as("n_ff"),
          References.dotHof(col("embedding"), col("embedding")).as("h_ff"),
          graft.ops.Similarity.dot(col("embedding"), planeCol).as("n_fd"),
          References.dotHof(col("embedding"), planeCol).as("h_fd"))
        .filter(col("n_ff") =!= col("h_ff") || col("n_fd") =!= col("h_fd"))
        .count()
      assert(mismatches == 0, "native dotf differs from HOF form")
    }
    // length mismatch yields NULL like the HOF null-poisoned sum
    val short = array((0 until 3).map(i => lit(i.toDouble)): _*)
    val r = emb.select(graft.ops.Similarity.dot(col("embedding"), short))
      .head()
    assert(r.isNullAt(0))
    // integral arrays are read as their own type, not bit-reinterpreted
    val ints = emb.limit(1).select(graft.ops.Similarity.dot(
      array(lit(1L), lit(2L)), array(lit(3), lit(4))))
    assert(ints.head().getDouble(0) == 11.0)
  }

  test("simhash64 interpreted path (codegen off) agrees with codegen") {
    GraftFunctions.register(spark)
    val texts = Seq("a b c", "x  y", "").toDF("text")
    val codegen = texts.select(Dedup.simhashExpr("text")).collect().map(_.getLong(0))
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interp = texts.select(Dedup.simhashExpr("text")).collect().map(_.getLong(0))
      assert(codegen.toSeq == interp.toSeq)
    }
  }

  test("simhash fingerprints: 4x16-bit bands reassemble the hash") {
    // the xxhash64 production fingerprints (band split = hamming-LSH
    // keys) — reassembling the bands must reproduce the full hash
    val rows = Dedup.simhashFingerprints(spark, sf).limit(50).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val sim = r.getAs[Long]("simhash")
      val re = (0 until 4).map(c =>
        r.getAs[Long](s"band_$c") << (c * 16)).reduce(_ | _)
      assert(re == sim, s"bands do not reassemble: $re != $sim")
    }
  }

  test("simhash near-dups: small edit within hamming 3, unrelated far") {
    val base = Array.tabulate(60)(i => s"tok$i").mkString(" ")
    val oneEdit = base.replace("tok30", "tokX")
    val unrelated = Array.tabulate(60)(i => s"other$i").mkString(" ")
    val docs = Seq((1L, base), (2L, oneEdit), (3L, unrelated))
      .toDF("doc_id", "text")
    val close = Dedup.simhashNearDups(docs, "doc_id", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(close.contains((1L, 2L)))
    assert(!close.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("ANN bucket search achieves high recall for a near-identical vector") {
    val emb = Tables.embeddings(spark, sf)
    // query = vector 7's own embedding: brute-force top-1 must be 7,
    // and 7 must land in the query's LSH bucket by construction
    val q = emb.filter(col("vec_id") === 7)
      .select("embedding").head().getSeq[Float](0).toArray
    val ann = Similarity.annSearch(emb, q, 5)
      .collect().map(_.getLong(0))
    assert(ann.contains(7L))
    val brute = emb.select(col("vec_id"),
        Similarity.cosine(col("embedding"), array(q.map(lit): _*)).as("c"))
      .orderBy(col("c").desc).limit(1).head().getLong(0)
    assert(brute == 7L)
  }

  test("multi-probe ANN: bucketOf matches lshBucket, recall >= single probe") {
    import graft.ops.Similarity
    GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sf)
    val planes = Similarity.hyperplanes(8, 64)
    // the driver-side bucket must agree with the table-side expression
    // for every probed vector, or the probe list misses its targets
    val rows = emb.limit(50).select(col("vec_id"), col("embedding"),
      Similarity.lshBucket(col("embedding"), planes).as("b")).collect()
    rows.foreach { r =>
      assert(Similarity.bucketOf(r.getSeq[Float](1).toArray, planes) == r.getLong(2),
        s"vec ${r.getLong(0)} bucket mismatch")
    }
    val q = emb.filter(col("vec_id") === 11).select("embedding")
      .head().getSeq[Float](0).toArray
    val brute = emb.select(col("vec_id"),
        Similarity.cosine(col("embedding"), array(q.map(lit): _*)).as("c"))
      .orderBy(col("c").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val single = Similarity.annSearch(emb, q, 10).collect().map(_.getLong(0)).toSet
    val multi = Similarity.annSearchMultiProbe(emb, q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(multi.contains(11L), "query's own vector not in the probe ring")
    assert(brute.intersect(multi).size >= brute.intersect(single).size,
      "widening the probe ring reduced recall")
  }

  test("LSH embedding near-dup finds a planted duplicate vector") {
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, sf)
    // plant: vector 3's embedding duplicated under a new id
    val v3 = emb.filter(col("vec_id") === 3).select("embedding")
      .head().getSeq[Float](0).toArray
    val planted = Seq((100000L, v3, 0)).toDF("vec_id", "embedding", "label")
    val all = emb.select("vec_id", "embedding", "label").unionByName(planted)
    val pairs = Similarity.lshEmbeddingNearDups(all, minCos = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((3L, 100000L)),
      s"planted duplicate not found; got ${pairs.take(5).toSeq}")
  }

  test("LSH and exact edge sources feed dedupClusters identically on planted clusters") {
    import graft.ops.{Dedup, Similarity}
    val emb = Tables.embeddings(spark, sf)
    // plant three exact-duplicate clusters (copies share the base id's
    // embedding, so cos=1 and the LSH bucket is identical by
    // construction) plus an edge-free singleton
    val bases = emb.filter(col("vec_id").isin(1L, 2L, 3L, 4L))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val planted = Seq(
      (1001L, bases(1L)), (1002L, bases(1L)), (1003L, bases(1L)),
      (2001L, bases(2L)),
      (3001L, bases(3L)), (3002L, bases(3L)), (3003L, bases(3L)),
      (4000L, bases(4L).map(-_))) // inverted: cos=-1, joins nothing
      .map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
    val all = emb.filter(col("vec_id").isin(1L, 2L, 3L, 4L))
      .select("vec_id", "embedding", "label").unionByName(planted)
    // exact all-pairs edges (the q65/q44 oracle shape)
    val a = all.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = all.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    val exactEdges = a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", round(Similarity.cosine(col("emb_a"), col("emb_b")), 6))
      .filter(col("cos_sim") >= 0.99)
      .select("vec_a", "vec_b", "cos_sim")
    val lshEdges = Similarity.lshEmbeddingNearDups(all, minCos = 0.99)
    def clusters(edges: org.apache.spark.sql.DataFrame) =
      Dedup.dedupClusters(edges, "vec_a", "vec_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaExact = clusters(exactEdges)
    val viaLsh = clusters(lshEdges)
    assert(viaExact == viaLsh,
      s"edge generators disagree: exact=$viaExact lsh=$viaLsh")
    // sanity: the planted topology is what we think it is
    assert(viaExact(1003L) == 1L && viaExact(2001L) == 2L &&
      viaExact(3003L) == 3L && !viaExact.contains(4000L))
  }

  test("IVF search finds the query vector's own cell and beats random recall") {
    import graft.ops.{Ivf, Similarity}
    val emb = Tables.embeddings(spark, sf)
    val idx = Ivf.build(emb, k = 8)
    val q = emb.filter(col("vec_id") === 11).select("embedding")
      .head().getSeq[Float](0).toArray
    val got = Ivf.search(idx, q, topK = 10, nProbe = 2)
      .collect().map(_.getLong(0)).toSet
    assert(got.contains(11L), "query's own vector not retrieved")
    // recall vs brute force top-10 with nProbe=4 of 8 cells
    val brute = emb.select(col("vec_id"),
        Similarity.cosine(col("embedding"), array(q.map(lit): _*)).as("c"))
      .orderBy(col("c").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val wide = Ivf.search(idx, q, topK = 10, nProbe = 4)
      .collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(wide).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall $recall below probing half the cells")
    // the ML index's cell summary partitions the corpus exactly
    val cells = Ivf.cellSummary(spark, sf).collect()
    assert(cells.map(_.getAs[Long]("n_vecs")).sum == emb.count())
    assert(cells.length <= 16, "more cells than k")
  }

  test("typed centroid Aggregator agrees with the posexplode centroid") {
    val agg = new Similarity.VecCentroid(64)
    val byLabel = Tables.embeddings(spark, sf)
      .select(col("label"), col("embedding")).as[(Int, Array[Float])]
      .groupByKey(_._1).mapValues(_._2).agg(agg.toColumn)
      .collect().toMap
    val fromQuery = Similarity.centroids(spark, sf)
      .collect().groupBy(_.getAs[Int]("label"))
    fromQuery.foreach { case (label, rows) =>
      val exploded = rows.sortBy(_.getAs[Long]("pos"))
        .map(_.getAs[Double]("c_val"))
      val typed = byLabel(label)
      exploded.zip(typed).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-5, s"label $label")
      }
    }
  }

  test("frame sampling fan-out matches summary arithmetic; resize is exact") {
    val media = Multimodal.mediaTable(spark, sf)
    // generator path: one row per sampled frame
    val perDoc = Multimodal.sampleFrames(media, 4)
      .groupBy("doc_id").agg(count(lit(1)).as("n"),
        min("frame_idx").as("lo"), max("frame_idx").as("hi"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2).toLong, r.getInt(3).toLong))
      .toMap
    // oracle-checked arithmetic path must describe the same fan-out
    val summary = Multimodal.frameSampleSummary(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(perDoc.keySet == summary.keySet)
    assert(perDoc.forall { case (id, v) => summary(id) == v },
      s"fan-out drift, e.g. ${perDoc.find { case (id, v) => summary(id) != v }}")
    // sampled-frame hashes are deterministic across runs
    val h1 = Multimodal.sampleFrames(media, 4).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val h2 = Multimodal.sampleFrames(media, 4).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(h1 == h2)
    // resize: payload is exactly targetW*targetH bytes, input cycled
    val resized = Multimodal.resize(media, 8, 5)
    val row = resized.filter(col("doc_id") === 0).head()
    val out = row.getAs[Array[Byte]]("payload")
    assert(out.length == 40 && row.getInt(3) == 8 && row.getInt(4) == 5)
    val orig = media.filter(col("doc_id") === 0)
      .head().getAs[Array[Byte]]("payload")
    assert(out.toSeq == Array.tabulate(40)(i => orig(i % orig.length)).toSeq)
  }

  test("integer pagerank: star hub outranks leaves, pair splits evenly") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
      .toDF("vec_a", "vec_b")
    val pr = Similarity.pagerankPpm(star).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exact unrolled arithmetic: N=5, hub ends at 644975 ppm,
    // each leaf at 88756 (sum 999999 — one ppm lost to truncation)
    assert(pr(1L) == 644975L, s"hub: ${pr(1L)}")
    assert(Set(2L, 3L, 4L, 5L).map(pr) == Set(88756L), s"leaves: $pr")
    // symmetric two-node graph: the fixpoint splits evenly and holds
    val pair = Seq((10L, 11L)).toDF("vec_a", "vec_b")
    val p2 = Similarity.pagerankPpm(pair).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p2 == Map(10L -> 500000L, 11L -> 500000L))
  }

  test("langid confusion matrix: planted mislabel lands in the right cell") {
    // three docs the n-gram scorer calls 'en' (every en profile bigram
    // present, no other profile's), one it calls 'de'; labels make one
    // of the en predictions a planted (de-labeled) miss
    val en = "th he in er an"
    val de = "ch ei ie sc un"
    val docs = Seq(
      (1L, en, "en"), (2L, en, "en"),
      (3L, en, "de"), // mislabel: predicted en, labeled de
      (4L, de, "de"))
      .toDF("doc_id", "text", "lang")
    val cells = graft.ops.TextAnalysis.langidConfusion(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    // (en,en): n=2 of label_total 2 (recall 100%), pred_total 3
    assert(cells(("en", "en")) == ((2L, 2L, 3L, 1000000L, 666666L)))
    // (de,en): the planted miss — 1 of 2 de-labeled docs, 1/3 of en preds
    assert(cells(("de", "en")) == ((1L, 2L, 3L, 500000L, 333333L)))
    // (de,de): recall 50%, precision 100%
    assert(cells(("de", "de")) == ((1L, 2L, 1L, 500000L, 1000000L)))
    assert(cells.size == 3)
  }

  test("langId classifies real multilingual samples") {
    val samples = Seq(
      (1L, "the cat sat on a mat and looked of the window to see"),
      (2L, "der hund und die katze das ist ein tier und der garten"),
      (3L, "le chien et la maison les arbres et des fleurs dans le jardin"),
      (4L, "el perro y los gatos las casas y una flor en el jardin"),
      (5L, "的 了 是 在 我 家 的 猫 是 白色 的"))
      .toDF("doc_id", "text").withColumn("lang", lit("x"))
    // reuse the scoring logic by writing samples through a temp view path
    val t = col("text")
    val scored = samples.select(col("doc_id") +:
      TextAnalysis.markers.map { case (l, ms) =>
        size(array_intersect(split(t, " "), array(ms.map(lit): _*)))
          .cast("long").as(s"s_$l") }: _*)
    val m = greatest(TextAnalysis.markers.map { case (l, _) => col(s"s_$l") }: _*)
    val pred = TextAnalysis.markers.foldLeft(when(m === 0, "und")) {
      case (acc, (l, _)) => acc.when(col(s"s_$l") === m, l) }
    val out = scored.withColumn("p", pred).select("doc_id", "p")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "zh"))
  }

  test("winnowing: identical docs share all fingerprints; a shared substring yields overlap") {
    import graft.ops.TextAnalysis
    val shared = "the catalyst optimizer rewrites logical plans into physical plans efficiently"
    val docs = Seq(
      (1L, shared),
      (2L, shared),                                     // identical
      (3L, "PREFIX padding words here " + shared),      // contains shared substring
      (4L, "entirely different content with no overlap at all in any window"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnowed(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](2).toSet).toMap
    assert(fps(1L) == fps(2L))
    val overlap = fps(1L).intersect(fps(3L)).size.toDouble / fps(1L).size
    assert(overlap > 0.5, s"containment overlap only $overlap")
    assert(fps(1L).intersect(fps(4L)).isEmpty)
  }

  test("native winnow expression equals the composable transform form") {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    val docs = (1L to 30L).map(i =>
      (i, rnd.alphanumeric.take(rnd.nextInt(120)).mkString)) :+
      (31L, "") :+ (32L, "abc") // shorter than shingle and window
    val df = docs.toDF("doc_id", "text")
    val both = df.select(col("doc_id"),
        expr("winnow8_8(text)").as("native"),
        expr("array_distinct(transform(sequence(1, greatest(size(shingle8_seq(text)) - 7, 1))," +
          " i -> array_min(slice(shingle8_seq(text), i, 8))))").as("composable"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"mismatch at doc ${r.getLong(0)}")
    }
  }

  test("multimodal mapPartitions decode equals the column-expression form") {
    val viaPartitions = Multimodal.decodeFeatures(
        Multimodal.mediaTable(spark, sf))
      .select("doc_id", "media_type", "n_bytes", "width", "height",
        "n_frames", "sample_rate")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getInt(3), r.getInt(4),
          r.getInt(5), r.getInt(6))).toMap
    val viaColumns = Multimodal.mediaFeatures(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3).toInt, r.getLong(4).toInt,
          r.getLong(5).toInt, r.getLong(6).toInt)).toMap
    assert(viaPartitions.size == viaColumns.size)
    val mismatches = viaPartitions.filter { case (k, v) => viaColumns(k) != v }
    assert(mismatches.isEmpty, s"first mismatches: ${mismatches.take(3)}")
  }
}
