package etlbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call: name, start/end (ns), the span that caused it
  * (-1 for an iteration root) and the iteration it belongs to.
  */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, iter: Int) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans around the benchmark's calls into the engine, plus Spark's
  * public listener counts attributed to the span that submitted each
  * job (through the `etlbench.span` job-local property).
  *
  * Disabled (the untraced run), [[span]] only runs the body: no clock
  * reads, no local property, no listener.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  @volatile var iter: Int = 0
  private var spark: SparkSession = _

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(Tracer.SpanProp, prev)
        stack = stack.tail
        spans += Span(id, name, t0, t1, parent, iter)
      }
    }

  /** Seconds spent in spans named `name` during iterations `iters`. */
  def seconds(name: String, iters: Set[Int]): Double =
    spans.iterator.filter(s => s.name == name && iters(s.iter)).map(_.seconds).sum

  def count(name: String, iters: Set[Int]): Int =
    spans.count(s => s.name == name && iters(s.iter))

  val engine = new EngineCounters

  def attachSession(s: SparkSession): Unit = spark = s

  /** Registers the listeners on the current session (the measured one). */
  def attachListeners(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(engine.listener)
    spark.listenerManager.register(engine.qeListener)
  }

  /** Waits until every listener event posted so far is delivered. */
  def drain(): Unit = if (enabled) org.apache.spark.sql.jdbc.BenchSeams.drainListeners(spark.sparkContext)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""")
        .append(s""""parent":${s.parent},"iter":${s.iter}}""").append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  val SpanProp = "etlbench.span"
}

/** Spark-side counters at the engine boundary, read as deltas around
  * each iteration; jobs and task input bytes are also kept per
  * submitting span.
  */
final class EngineCounters {
  val sqlExecutions, planNanos, jobs, stages, tasks = new AtomicLong
  val executorRunMs, shuffleWrite, shuffleRead, spill, inputBytes = new AtomicLong
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  val jobsBySpan = new ConcurrentHashMap[String, AtomicLong]()
  val inputBySpan = new ConcurrentHashMap[String, AtomicLong]()
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  private var gcMark = 0L
  val gcNanos = new AtomicLong

  /** JVM collection time is read around the timed region only. */
  def gcStart(): Unit = gcMark = gcMs
  def gcStop(): Unit = gcNanos.addAndGet((gcMs - gcMark) * 1000000L)

  private def bump(m: ConcurrentHashMap[String, AtomicLong], k: String, n: Long): Unit =
    m.computeIfAbsent(k, _ => new AtomicLong).addAndGet(n)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp))).getOrElse("")
      bump(jobsBySpan, span, 1L)
      e.stageIds.foreach(id => stageSpan.put(id, span))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        executorRunMs.addAndGet(m.executorRunTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        bump(inputBySpan, stageSpan.getOrDefault(e.stageId, ""), m.inputMetrics.bytesRead)
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      sqlExecutions.incrementAndGet()
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
      planNanos.addAndGet(ms * 1000000L)
    }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }
}
