package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Small order statistics over measured samples. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** In-memory span recorder. A span is one call into a layer, timed from
  * the benchmark's side of the call; spans of one operation share a
  * request id and point at the span that caused them. Spans are only
  * kept when tracing is on, and are written out when the run ends. */
final class Trace(val on: Boolean) {
  final case class Span(id: Int, parent: Int, request: Long, name: String,
      startNs: Long, endNs: Long, attrs: Map[String, String]) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Int, Long)]] {
    override def initialValue(): List[(Int, Long)] = Nil
  }

  /** Runs `body` inside a span named `name`. With tracing off it only
    * runs `body`. */
  def span[T](name: String, attrs: (String, String)*)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val (parent, request) = outer.headOption.getOrElse((0, id.toLong))
      stack.set((id, request) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, request, name, t0, System.nanoTime(), attrs.toMap))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      val a = s.attrs.map { case (k, v) => s""""$k":${Json.str(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"attrs":{$a}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Every streaming progress event of the session, by query id. Always
  * on: the end-to-end metrics of the ingest workloads are read from it. */
final class ProgressLog extends StreamingQueryListener {
  private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    events.add(e.progress); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)
  def all: Seq[StreamingQueryProgress] = events.asScala.toSeq
  def clear(): Unit = events.clear()
}

/** Executor- and planner-side counters, registered only on traced runs.
  * Work is attributed to whatever label [[current]] holds when a job
  * starts (the operator module of the query being run). */
final class LayerListener extends SparkListener with QueryExecutionListener {
  val current = new AtomicReference[String]("")
  private val stageLabel = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  final class Counters {
    val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = new AtomicLong(0)
    val analysisNs, optimizationNs, planningNs = new AtomicLong(0)
  }
  val total = new Counters
  private val byLabel = new java.util.concurrent.ConcurrentHashMap[String, Counters]()
  def label(l: String): Counters = byLabel.computeIfAbsent(l, _ => new Counters)

  private def both(l: String)(f: Counters => Unit): Unit = { f(total); f(label(l)) }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val l = current.get()
    e.stageIds.foreach(s => stageLabel.put(s, l))
    both(l)(_.jobs.incrementAndGet())
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    both(stageLabel.getOrDefault(e.stageInfo.stageId, current.get()))(_.stages.incrementAndGet())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) both(stageLabel.getOrDefault(e.stageId, current.get())) { c =>
      c.tasks.incrementAndGet()
      c.runMs.addAndGet(m.executorRunTime)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ns(k: String): Long = p.get(k).map(s => (s.endTimeMs - s.startTimeMs) * 1000000L).getOrElse(0L)
    both(current.get()) { c =>
      c.analysisNs.addAndGet(ns("analysis"))
      c.optimizationNs.addAndGet(ns("optimization"))
      c.planningNs.addAndGet(ns("planning"))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(m: Seq[(String, String)]): String = m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Named metrics with units, in insertion order. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = m(name) = (value, unit)
  def toJson: String = Json.obj(m.toSeq.map { case (k, (v, u)) =>
    k -> s"""{"value":${Json.num(v)},"unit":${Json.str(u)}}""" })
  def get(name: String): Option[Double] = m.get(name).map(_._1)
  def entries: Seq[(String, Double, String)] = m.toSeq.map { case (k, (v, u)) => (k, v, u) }
}
