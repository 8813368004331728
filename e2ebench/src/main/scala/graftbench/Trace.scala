package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Task totals of the Spark work run under one span. */
final class ExecStats {
  var tasks = 0L; var runMs = 0L
  var shuffleWrite = 0L; var spill = 0L; var gcMs = 0L
  def add(o: ExecStats): Unit = synchronized {
    tasks += o.tasks; runMs += o.runMs
    shuffleWrite += o.shuffleWrite; spill += o.spill; gcMs += o.gcMs
  }
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) * 1e-9
}

/** In-memory span recorder. Disabled, `span` only runs its body. Enabled,
  * it records (name, start, end, parent) and tags every Spark stage
  * submitted inside the span through the `bench.span` local property, so
  * the listener can attribute task metrics to the span that caused them.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val ids = new AtomicInteger(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Integer] { override def initialValue(): Integer = -1 }
  val exec = new ConcurrentHashMap[Int, ExecStats]()
  @volatile var spark: SparkSession = _

  @volatile private var paused = false
  /** Run `body` with span recording off (an untraced reference inside a
    * traced run).
    */
  def untraced[T](body: => T): T = { paused = true; try body finally paused = false }

  def span[T](name: String)(body: => T): T = spanUnder(name, current.get())(body)

  /** Id of the span open on this thread (-1 outside any span). */
  def open: Int = current.get()

  /** A span with an explicit parent, for work another thread runs on
    * behalf of an open span (a streaming query's `foreachBatch`).
    */
  def spanUnder[T](name: String, parent: Int)(body: => T): T =
    if (!enabled || paused) body
    else {
      val id = ids.incrementAndGet()
      val outer = current.get()
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty("bench.span")
      current.set(id); sc.setLocalProperty("bench.span", id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, name, parent, t0, System.nanoTime()))
        current.set(outer); sc.setLocalProperty("bench.span", prevProp)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)
  def named(name: String): Seq[Span] = spans.filter(_.name == name)
  /** Task totals of a span and all its descendants. */
  def execUnder(id: Int): ExecStats = {
    val all = spans
    val kids = all.groupBy(_.parent)
    val acc = new ExecStats
    def walk(i: Int): Unit = {
      Option(exec.get(i)).foreach(acc.add)
      kids.getOrElse(i, Nil).foreach(s => walk(s.id))
    }
    walk(id)
    acc
  }
  /** Self time: duration minus the union of the children's intervals. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var lo = Long.MinValue; var hi = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b } else hi = math.max(hi, b)
    }
    if (hi > lo) covered += hi - lo
    (s.endNs - s.startNs - covered) * 1e-9
  }

  def write(path: java.nio.file.Path, t0Ns: Long): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(f"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        f""""start_s":${(s.startNs - t0Ns) * 1e-9}%.6f,"end_s":${(s.endNs - t0Ns) * 1e-9}%.6f,""" +
        f""""self_s":${selfSeconds(s)}%.6f}""").append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** The three listeners of a traced run: task metrics per span, planning
  * time per query execution, and streaming progress per trigger.
  */
final class Listeners(tracer: Tracer) {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val total = new ExecStats
  val planningMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  @volatile var recording = false

  val spark: SparkListener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val p = Option(e.properties).flatMap(p => Option(p.getProperty("bench.span")))
      p.foreach(s => stageSpan.put(e.stageInfo.stageId, s.toInt))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) {
      val m = e.taskMetrics
      if (m != null) {
        val s = new ExecStats
        s.tasks = 1; s.runMs = m.executorRunTime
        s.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
        s.spill = m.memoryBytesSpilled + m.diskBytesSpilled; s.gcMs = m.jvmGCTime
        total.add(s)
        val span = stageSpan.getOrDefault(e.stageId, -1)
        if (span >= 0) tracer.exec.computeIfAbsent(span, _ => new ExecStats).add(s)
      }
    }
  }

  val qe: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) {
        val ph = qe.tracker.phases
        val ms = Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
        planningMs.add(ms)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val stream: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(spark)
    s.listenerManager.register(qe)
    s.streams.addListener(stream)
  }
  def detach(s: SparkSession): Unit = {
    s.sparkContext.removeSparkListener(spark)
    s.listenerManager.unregister(qe)
    s.streams.removeListener(stream)
  }
}

/** Order statistics used throughout (nearest-rank percentiles). */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
  /** The highest percentile with at least ten of `n` samples beyond it:
    * the 99th from 1,000 samples on, never below the median.
    */
  def tailPct(n: Int): Double = math.min(99.0, math.max(50.0, 100.0 * (1 - 10.0 / n)))
  /** (percentile, value) of the tail latency of `xs`. */
  def tail(xs: Seq[Double]): (Double, Double) = { val p = tailPct(xs.size); (p, pct(xs, p)) }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
