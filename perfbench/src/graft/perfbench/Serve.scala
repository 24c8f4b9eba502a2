package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.Random
import graft.{SparkEntry, Tables}
import graft.ops.Ivf
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** `serve`: a closed loop of two clients sending short requests, one
  * TPC-H-shaped query for every four top-10 IVF searches.
  *
  * The queries are engine entries that keep no state between calls.
  * Each request is built, planned and collected; its rows are small, so
  * collecting reuses the planned query instead of planning a sink
  * write again, and the digest is taken on the returned rows.
  */
object Serve extends Workload with AdaptiveSparkPlanHelper {
  val Sf = 0.003
  val Vectors = 4096
  val QueryPool = 128
  val Clients = 2
  val NProbe = 4
  val TopK = 10
  /** A run fails its recall gate below this mean recall@10. */
  val MinRecall = 0.9

  /** Eight query shapes (scan+aggregate, equi join, broadcast dims,
    * top-k, star join, forecast, aggregate broadcast join,
    * multi-predicate filter), few enough that every run sends each one
    * about twice. All read the plain parquet tables or the bucketed
    * fact layout. */
  val Queries: Seq[String] = Seq("q01_pricing_summary", "q06_join_equi",
    "q07_join_broadcast_dims", "q49_shipping_priority",
    "q82_regional_revenue", "q244_revenue_forecast",
    "q246_part_concentration", "q251_brand_size_qty")

  /** Order-independent digest of a result: row count and the sum of
    * per-row hashes. */
  def digest(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.iterator.map(r =>
      scala.util.hashing.MurmurHash3.seqHash(r.toSeq).toLong).sum)

  private final case class Req(tpch: Option[String], ms: Double,
      buildMs: Double, planMs: Double, execMs: Double, ok: Boolean,
      recall: Double, cells: Long, traced: Boolean)

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Parquet star and embeddings, bucketed fact layout, IVF index,
    * query vectors and their exact top-10. */
  final case class State(dir: String, index: Ivf.Index,
      pool: Array[Array[Float]], truth: Array[Set[Long]])

  def setup(ctx: Ctx, rep: Int): State = {
    val spark = ctx.spark
    val dir = s"${ctx.work}/serve$rep"
    val emb = Data.embeddings(ctx.seed, Vectors)
    Data.writeParquet(spark, dir, Data.star(ctx.seed, Data.scale(Sf)) :+ emb)
    Tables.bucketedFacts(spark, dir)
    val index = Ivf.persistedIndex(spark, dir, s"${ctx.work}/ivf$rep")
    val vecs = emb.rows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val r = new Random(ctx.seed ^ 0xa11L)
    val pool = Array.fill(QueryPool) {
      val base = vecs(r.nextInt(vecs.size))._2
      Data.unit(base.map(_ + 0.05 * r.nextGaussian())).map(_.toFloat)
    }
    val truth = pool.map(q => vecs.sortBy { case (id, v) => (-cosine(v, q), id) }
      .take(TopK).map(_._1).toSet)
    State(dir, index, pool, truth)
  }

  def run(ctx: Ctx, state: State): Outcome = {
    val spark = ctx.spark
    val State(dir, index, pool, truth) = state
    // reference digests, which also warm every query path once
    val expected = Queries.map(q =>
      q -> digest(SparkEntry.queries(q)(spark, dir).collect())).toMap
    val sample = Ivf.search(index, pool(0), TopK, NProbe).collect()
    require(sample.length == TopK, s"IVF search returned ${sample.length} rows")
    val heapAtStart = Heap.liveMb()

    val sc = spark.sparkContext
    val tracer = ctx.tracer
    val done = new ConcurrentLinkedQueue[Req]()
    // both clients walk one seeded cycle through the queries, so every
    // run covers the query set evenly
    val order = new Random(ctx.seed ^ 0x7c4L).shuffle(Queries)
    val nextTpch = new java.util.concurrent.atomic.AtomicInteger(0)
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val t0 = System.nanoTime()
    val clients = (0 until Clients).map { c =>
      new Thread(() => {
        val r = new Random(ctx.seed * 1000003L + c)
        var n = 0
        var block = Seq.empty[Boolean]
        while (System.nanoTime() < deadline) {
          if (block.isEmpty) block = r.shuffle(Seq(true, false, false, false, false))
          val isTpch = block.head
          block = block.tail
          val q =
            if (isTpch) Some(order(nextTpch.getAndIncrement() % order.size))
            else None
          val v = r.nextInt(QueryPool)
          val traced = ctx.traced && n % 2 == 0
          val id = s"${if (isTpch) "tpch" else "ann"}:$c-$n"
          tracer.enabled = traced
          val s0 = System.nanoTime()
          val req = ExecutorCounters.tagged(sc, "perfbench.op", id) {
            tracer.request(c * 1000000L + n) {
              tracer.span(if (isTpch) "serve.tpch" else "serve.ann") {
                val df = tracer.span("serve.build") {
                  q.fold(Ivf.search(index, pool(v), TopK, NProbe))(
                    SparkEntry.queries(_)(spark, dir))
                }
                val s1 = System.nanoTime()
                tracer.span("serve.plan")(df.queryExecution.executedPlan)
                val s2 = System.nanoTime()
                val rows = tracer.span("serve.exec")(df.collect())
                val s3 = System.nanoTime()
                val (ok, recall, cells) = q match {
                  case Some(name) => (digest(rows) == expected(name), 0.0, 0L)
                  case None =>
                    val got = rows.map(_.getLong(0)).toSet
                    val cells = collect(df.queryExecution.executedPlan) {
                      case s: FileSourceScanExec =>
                        s.metrics.get("numPartitions").fold(0L)(_.value)
                    }.sum
                    (rows.length == TopK,
                      (got intersect truth(v)).size.toDouble / TopK, cells)
                }
                Req(q, 0, (s1 - s0) / 1e6, (s2 - s1) / 1e6,
                  (s3 - s2) / 1e6, ok, recall, cells, traced)
              }
            }
          }
          tracer.enabled = false
          done.add(req.copy(ms = (System.nanoTime() - s0) / 1e6))
          n += 1
        }
      }, s"perfbench-client-$c")
    }
    // the counters listen to the whole window: with two concurrent
    // clients they cannot be attached per traced request
    ctx.listening {
      clients.foreach(_.start())
      clients.foreach(_.join())
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val heap = math.max(heapAtStart, Heap.liveMb())

    val reqs = done.asScala.toSeq
    val (tpch, ann) = reqs.partition(_.tpch.isDefined)
    val recall = ann.map(_.recall).sum / math.max(1, ann.size)
    val failedReqs = reqs.count(!_.ok)
    val recallFailed = if (recall < MinRecall) 1 else 0
    if (failedReqs > 0)
      System.err.println(s"[perfbench] serve: failed requests " +
        reqs.filterNot(_.ok).map(r => r.tpch.getOrElse("ann")).distinct)
    if (recallFailed > 0)
      System.err.println(f"[perfbench] serve: recall@10 $recall%.4f < $MinRecall")
    def pct(xs: Seq[Req], q: Double) =
      if (xs.isEmpty) 0.0 else Stats.quantile(xs.map(_.ms), q)
    val untraced = reqs.filterNot(_.traced)
    val named = Seq(
      ("serve_qps", reqs.size / windowS, "1/s"),
      ("serve_tpch_p50_ms", pct(tpch.filterNot(_.traced), 0.5), "ms"),
      ("serve_tpch_p90_ms", pct(tpch.filterNot(_.traced), 0.9), "ms"),
      ("serve_ann_p50_ms", pct(ann.filterNot(_.traced), 0.5), "ms"),
      ("serve_ann_p90_ms", pct(ann.filterNot(_.traced), 0.9), "ms"),
      ("serve_ann_recall_at_10", recall, "share"),
      ("serve_tpch_requests", tpch.size.toDouble, "count"),
      ("serve_ann_requests", ann.size.toDouble, "count"))

    val layers = ctx.counters.fold(Map.empty[String, Double]) { c =>
      val tt = tpch.filter(_.traced)
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      Map(
        "serve.build_ms" -> mean(tt.map(_.buildMs)),
        "serve.plan_ms" -> mean(tt.map(_.planMs)),
        "serve.exec_ms" -> mean(tt.map(_.execMs)),
        "serve.jobs_per_request" -> c.get("tpch.jobs").toDouble / math.max(1, tpch.size),
        "serve.tasks_per_request" -> c.get("tpch.tasks").toDouble / math.max(1, tpch.size),
        "serve.tpch_p50_ms" -> named(1)._2, "serve.tpch_p90_ms" -> named(2)._2,
        "serve.ann_p50_ms" -> named(3)._2, "serve.ann_p90_ms" -> named(4)._2,
        "ops.ivf.rows_scanned_per_query" ->
          c.get("ann.input_records").toDouble / math.max(1, ann.size),
        "ops.ivf.cells_probed" -> mean(ann.map(_.cells.toDouble)),
        "ops.ivf.recall_at_10" -> recall,
        // like for like: the ann class, traced against untraced; the
        // counters listened to both, so this is the spans' cost only
        "trace.overhead_share" -> (pct(ann.filter(_.traced), 0.5) /
          pct(ann.filterNot(_.traced), 0.5) - 1.0))
    }
    Outcome(untraced.map(_.ms), reqs.filter(_.traced).map(_.ms), reqs.size,
      reqs.size / windowS, named, attempted = reqs.size + 1L,
      failed = failedReqs + recallFailed, heapPeakMb = heap, layers = layers)
  }
}
