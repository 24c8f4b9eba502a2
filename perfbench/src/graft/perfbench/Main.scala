package graft.perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What a workload hands to its set-up and passes. `nproc` is the
  * local executor slot count; `work` is a scratch directory that the
  * launcher removes when the run ends. `counters` exist only in a
  * traced run, and listen only while a traced operation runs. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    traced: Boolean, work: String, nproc: Int, tracer: Tracer,
    counters: Option[ExecutorCounters]) {
  /** Whether operation `i` records spans: in a traced run every other
    * operation does, so the untraced ones give the overhead baseline. */
  def tracedOp(i: Int): Boolean = traced && i % 2 == 0

  /** Runs `body` with the executor counters listening, and waits until
    * they have seen its jobs' events. Both costs fall inside `body`'s
    * time, so traced operations carry the whole cost of tracing. */
  def listening[T](body: => T): T = counters match {
    case None => body
    case Some(c) =>
      val sc = spark.sparkContext
      sc.addSparkListener(c)
      try {
        val r = body
        org.apache.spark.ListenerDrain(sc)
        r
      } finally sc.removeSparkListener(c)
  }
}

/** One workload's measurements. `opMs` are the untraced operations'
  * latencies (passes or requests), `tracedOpMs` the traced ones, and
  * `listenedOps` the number of operations the executor counters saw;
  * `named` are the workload's own end-to-end figures. */
final case class Outcome(opMs: Seq[Double], tracedOpMs: Seq[Double],
    listenedOps: Int, itemsPerS: Double,
    named: Seq[(String, Double, String)], attempted: Long, failed: Long,
    heapPeakMb: Double, layers: Map[String, Double])

/** A workload sets up its inputs (`setup`, timed, repeated once per
  * set-up rep, each time on a fresh session) and then measures its
  * operations on the last set-up's state (`run`). `release` frees a
  * set-up's state that outlives its session, untimed. */
trait Workload {
  type State
  def setup(ctx: Ctx, rep: Int): State
  def run(ctx: Ctx, state: State): Outcome
  def release(state: State): Unit = ()
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** CPU time the hypervisor gave this machine's CPUs to someone else
  * (steal), from /proc/stat where it exists: with the load average and
  * the process's CPU time, it shows whether other load slowed a run. */
object Host {
  final case class Sample(stealTicks: Long, totalTicks: Long) {
    /** Share of the machine's CPU time stolen since `from`. */
    def stealShareSince(from: Sample): Double =
      if (totalTicks == from.totalTicks) 0.0
      else (stealTicks - from.stealTicks).toDouble / (totalTicks - from.totalTicks)
  }

  def sample(): Sample = {
    val ticks =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        val cpu = try src.getLines().next() finally src.close()
        cpu.trim.split("\\s+").drop(1).map(_.toLong)
      } catch { case _: java.io.IOException => Array.empty[Long] }
    val steal = if (ticks.length > 7) ticks(7) else 0L
    Sample(steal, ticks.take(8).sum)
  }
}

object Heap {
  /** Old-generation bytes in use right after a full collection, in MB:
    * the live heap the run is holding. The second collection reclaims
    * what Spark's cleaner released after the first. */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    pools.map(_.getUsage.getUsed).sum / 1048576.0
  }
}

/** Runs a measured loop of passes: untimed warm-up passes, then
  * passes while the next one is expected to end within `seconds` (at
  * least `minPasses`). `check(i)` runs untimed after each pass, warm-ups
  * included, and tells whether every correctness gate held; the live
  * heap is sampled after it. In a traced run, every other pass records
  * spans and runs with the executor counters listening. */
object PassLoop {
  final case class Result(untracedMs: Seq[Double], tracedMs: Seq[Double],
      attempted: Long, failed: Long, heapPeakMb: Double)

  /** Untimed warm-up passes, numbered -Warmups to -1. */
  val Warmups = 2

  def apply(ctx: Ctx, minPasses: Int = 3)(pass: Int => Unit)(
      check: Int => Boolean): Result = {
    ctx.tracer.enabled = false
    var failed = 0L
    (-Warmups until 0).foreach { i =>
      pass(i)
      if (!check(i)) failed += 1
    }
    val untraced = Seq.newBuilder[Double]
    val traced = Seq.newBuilder[Double]
    var heap = Heap.liveMb()
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    var i = 0
    while (i < minPasses ||
        System.nanoTime() + (System.nanoTime() - t0) / i < deadline) {
      val tracedOp = ctx.tracedOp(i)
      ctx.tracer.enabled = tracedOp
      val p0 = System.nanoTime()
      ExecutorCounters.tagged(ctx.spark.sparkContext, "perfbench.op", s"pass:$i") {
        if (tracedOp) ctx.listening(pass(i)) else pass(i)
      }
      val ms = (System.nanoTime() - p0) / 1e6
      if (tracedOp) traced += ms else untraced += ms
      if (!check(i)) failed += 1
      ctx.tracer.enabled = false
      heap = math.max(heap, Heap.liveMb())
      i += 1
    }
    Result(untraced.result(), traced.result(), i.toLong + Warmups, failed, heap)
  }
}

object Main {
  /** The seed whose curate funnel is stored; 7 is the held-out seed. */
  val DefaultSeed = 1L
  /** Set-ups per run, each on a fresh session; `setup_s` reports their
    * median. The first runs on a cold JVM, and the next two or three are
    * still 10–40% slower while the JIT compiles the set-up path; with 7
    * reps the median often fell on one of those. */
  val SetupReps = 11

  /** Every per-layer metric with its unit, printed in every traced run
    * (0 where the workload never calls that layer). */
  val PerLayer: Seq[(String, String)] = Seq(
    "pg.reflect_ms" -> "ms", "pg.ddl_statements" -> "count",
    "pg.fk_ms" -> "ms", "pg.seqsync_ms" -> "ms",
    "etl.copy_ms" -> "ms", "etl.copy_ms.lineitem" -> "ms",
    "etl.stage_write_ms" -> "ms", "etl.publish_ms" -> "ms",
    "etl.verify_ms" -> "ms", "etl.source_reads" -> "count",
    "etl.rows_written" -> "count",
    "etl.sanitize_ms" -> "ms", "ops.text.quality_ms" -> "ms",
    "ops.text.winnow_ms" -> "ms", "ops.dedup.signature_ms" -> "ms",
    "ops.dedup.candidates_ms" -> "ms", "ops.dedup.verify_ms" -> "ms",
    "ops.dedup.candidate_pairs" -> "count", "ops.dedup.near_pairs" -> "count",
    "ops.dedup.verify_yield" -> "share", "pipeline.after_quality" -> "count",
    "pipeline.after_exact" -> "count", "pipeline.after_near" -> "count",
    "serve.build_ms" -> "ms", "serve.plan_ms" -> "ms", "serve.exec_ms" -> "ms",
    "serve.jobs_per_request" -> "count", "serve.tasks_per_request" -> "count",
    "serve.tpch_p50_ms" -> "ms", "serve.tpch_p90_ms" -> "ms",
    "serve.ann_p50_ms" -> "ms", "serve.ann_p90_ms" -> "ms",
    "ops.ivf.rows_scanned_per_query" -> "count",
    "ops.ivf.cells_probed" -> "count", "ops.ivf.recall_at_10" -> "share",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_run_ms" -> "ms",
    "spark.task_cpu_ms" -> "ms", "spark.task_wait_ms" -> "ms",
    "spark.gc_ms" -> "ms", "spark.shuffle_write_bytes" -> "B",
    "spark.shuffle_read_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.input_records" -> "count", "spark.output_records" -> "count",
    "host.loadavg" -> "load", "host.process_cpu_s" -> "s",
    "failed_share" -> "share", "trace.overhead_share" -> "share")

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.println("[perfbench] run aborted: " + e)
        sys.exit(2)
    }

  private def run(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(
      sys.error("--workload is required"))
    val seed = arg(args, "--seed").fold(DefaultSeed)(_.toLong)
    val seconds = arg(args, "--seconds").fold(10)(_.toInt)
    val traced = arg(args, "--trace").contains("1")
    val work = arg(args, "--work").getOrElse(sys.error("--work is required"))
    val nproc = Runtime.getRuntime.availableProcessors()

    val wl: Workload = workload match {
      case "migrate" => Migrate
      case "curate" => Curate
      case "serve" => Serve
      case other => sys.error(s"unknown workload $other")
    }

    def session(rep: Int): SparkSession = {
      val spark = SparkSession.builder()
        .master(s"local[$nproc]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", nproc.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$work/warehouse$rep")
        .config("spark.local.dir", s"$work/spark-local")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark
    }
    val tracer = new Tracer
    val counters = if (traced) Some(new ExecutorCounters) else None
    // each set-up rep starts a fresh session and builds the workload's
    // inputs; the previous rep's session and state are released untimed
    var ctx: Ctx = null
    var state: Option[wl.State] = None
    val setupS = (0 until SetupReps).map { rep =>
      if (ctx != null) {
        state.foreach(wl.release)
        ctx.spark.stop()
      }
      val t0 = System.nanoTime()
      ctx = Ctx(session(rep), seed, seconds, traced, work, nproc, tracer,
        counters)
      state = Some(wl.setup(ctx, rep))
      (System.nanoTime() - t0) / 1e9
    }
    val spark = ctx.spark
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    val host0 = Host.sample()
    val out = wl.run(ctx, state.get)
    val stealShare = Host.sample().stealShareSince(host0)
    wl.release(state.get)
    val loadavg = os.getSystemLoadAverage
    val cpuS = os.getProcessCpuTime / 1e9
    val setupMedianS = Stats.median(setupS)
    val failedShare = out.failed.toDouble / out.attempted
    val e2e = Seq(
      ("setup_s", setupMedianS, "s"),
      ("throughput_per_s", out.itemsPerS, "1/s"),
      ("latency_p50_ms", Stats.median(out.opMs), "ms"),
      ("heap_peak_mb", out.heapPeakMb, "MB"))

    val named = Seq(("setup_s", setupMedianS, "s")) ++ out.named ++ Seq(
      ("heap_peak_mb", out.heapPeakMb, "MB"),
      ("failed_share", failedShare, "share"))
    println(s"[perfbench] workload=$workload seed=$seed " +
      s"ops=${out.opMs.size + out.tracedOpMs.size} " +
      named.map { case (n, v, u) => f"$n=$v%.4f $u" }.mkString(", ") +
      f", host.loadavg=$loadavg%.2f, host.steal_share=$stealShare%.3f" +
      f", process_cpu_s=$cpuS%.1f" +
      s", setup_reps_s=${setupS.map(s => f"$s%.2f").mkString("/")}" +
      s", op_ms=${out.opMs.map(m => f"$m%.0f").mkString("/")}" +
      s", traced_op_ms=${out.tracedOpMs.map(m => f"$m%.0f").mkString("/")}")

    val metrics =
      if (!traced) e2e.map { case (n, v, u) => n -> (v, u) }
      else {
        val ops = math.max(1, out.listenedOps).toDouble
        val c = counters.get
        // serve's requests are tagged tpch:/ann:, passes pass:
        val cls = if (workload == "serve") "" else "pass."
        def per(k: String) = c.get(cls + k) / ops
        val executor = Map(
          "spark.jobs" -> per("jobs"),
          "spark.stages" -> per("stages"),
          "spark.tasks" -> per("tasks"),
          "spark.task_run_ms" -> per("task_run_ms"),
          "spark.task_cpu_ms" -> per("task_cpu_ns") / 1e6,
          "spark.task_wait_ms" -> per("task_wait_ms"),
          "spark.gc_ms" -> per("gc_ms"),
          "spark.shuffle_write_bytes" -> per("shuffle_write_bytes"),
          "spark.shuffle_read_bytes" -> per("shuffle_read_bytes"),
          "spark.spill_bytes" -> per("spill_bytes"),
          "spark.input_records" -> per("input_records"),
          "spark.output_records" -> per("output_records"),
          "host.loadavg" -> loadavg, "host.process_cpu_s" -> cpuS,
          "failed_share" -> failedShare,
          "trace.overhead_share" -> (if (out.tracedOpMs.isEmpty) 0.0
            else Stats.median(out.tracedOpMs) / Stats.median(out.opMs) - 1.0))
        val all = executor ++ out.layers
        tracer.write(java.nio.file.Paths.get(work, "trace",
          s"$workload-$seed.jsonl"))
        PerLayer.map { case (n, u) => n -> (all.getOrElse(n, 0.0), u) }
      }
    spark.stop()
    val correct = out.failed == 0
    println(s"""{"correct": $correct, "attempted": ${out.attempted}, """ +
      s""""failed": ${out.failed}, "metrics": {""" +
      metrics.map { case (n, (v, u)) =>
        s""""$n": {"value": ${fmt(v)}, "unit": "$u"}"""
      }.mkString(", ") + "}}")
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
