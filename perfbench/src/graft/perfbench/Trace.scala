package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans and counters around the benchmark's calls into the
  * engine. A span is (name, start, end, parent, request id); spans are
  * only kept on threads where tracing is on, so a traced run can
  * interleave traced and untraced operations and report the difference
  * as the tracing overhead. Counters are always kept. */
final class Tracer {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
      parent: Int, req: Long)

  private val on = ThreadLocal.withInitial[java.lang.Boolean](() => false)
  def enabled: Boolean = on.get
  def enabled_=(v: Boolean): Unit = on.set(v)
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val reqOf = ThreadLocal.withInitial[java.lang.Long](() => -1L)
  private val counters = new ConcurrentHashMap[String, LongAdder]()

  def request[T](req: Long)(body: => T): T = {
    reqOf.set(req)
    try body finally reqOf.set(-1L)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(),
          parents.headOption.getOrElse(0), reqOf.get))
        stack.set(parents)
      }
    }

  /** A span whose start and end were taken in different calls. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), name, startNs, endNs,
      stack.get.headOption.getOrElse(0), reqOf.get))

  def count(name: String, n: Long = 1L): Unit =
    counters.computeIfAbsent(name, _ => new LongAdder).add(n)

  def counter(name: String): Long =
    Option(counters.get(name)).fold(0L)(_.sum())

  /** Total milliseconds of spans named `name`. */
  def totalMs(name: String): Double =
    spans.asScala.iterator.filter(_.name == name)
      .map(s => (s.endNs - s.startNs) / 1e6).sum

  /** Spans as JSON lines, written once when the run ends. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"req":${s.req}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Executor counters for the jobs run under a `perfbench.op` local
  * property of the form `<class>:<id>` (set only around measured
  * operations), kept both in total and per class, plus Spark job wall
  * time per `perfbench.scope`. */
final class ExecutorCounters extends SparkListener {
  private val totals = new ConcurrentHashMap[String, LongAdder]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageClass = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String)]()

  private def add(cls: String, k: String, v: Long): Unit =
    Seq(k, s"$cls.$k").foreach(
      totals.computeIfAbsent(_, _ => new LongAdder).add(v))

  /** A total over every measured operation, or over one class with
    * `<class>.<name>`. */
  def get(k: String): Long = Option(totals.get(k)).fold(0L)(_.sum())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty("perfbench.op")))
    val scope = props.flatMap(p => Option(p.getProperty("perfbench.scope")))
    jobStart.put(e.jobId, (e.time, scope.getOrElse("")))
    op.foreach { o =>
      val cls = o.takeWhile(_ != ':')
      add(cls, "jobs", 1)
      e.stageIds.foreach(stageClass.put(_, cls))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, scope) =>
      if (scope.nonEmpty) add("scope", scope + "_ms", e.time - t0)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put(e.stageInfo.stageId, java.lang.Long.valueOf(
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageClass.get(e.stageInfo.stageId)).foreach(cls =>
      add(cls, "stages", 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageClass.get(e.stageId)).foreach { cls =>
      add(cls, "tasks", 1)
      Option(stageSubmitted.get(e.stageId)).foreach(t0 =>
        add(cls, "task_wait_ms", math.max(0L, e.taskInfo.launchTime - t0)))
      Option(e.taskMetrics).foreach { m =>
        add(cls, "task_run_ms", m.executorRunTime)
        add(cls, "task_cpu_ns", m.executorCpuTime)
        add(cls, "gc_ms", m.jvmGCTime)
        add(cls, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(cls, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add(cls, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add(cls, "input_records", m.inputMetrics.recordsRead)
        add(cls, "output_records", m.outputMetrics.recordsWritten)
      }
    }
}

object ExecutorCounters {
  /** Run `body` with the thread's jobs tagged by `key` = `value`. */
  def tagged[T](sc: SparkContext, key: String, value: String)(body: => T): T = {
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, value)
    try body finally sc.setLocalProperty(key, prev)
  }
}
