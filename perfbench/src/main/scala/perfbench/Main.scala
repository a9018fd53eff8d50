package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** What a workload reports: operations attempted and failed, end-to-end
  * metrics (untraced), per-layer metrics, the program CPU seconds of each
  * timed cycle, and free-text notes. A run whose harness-validity metric
  * is broken is `invalid`, never fast. */
final case class Outcome(attempted: Long, failed: Long, e2e: Metrics, layers: Metrics,
    cycles: Seq[Double], notes: Seq[String], invalid: Option[String], verifyDir: Option[String] = None)

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int, val work: Path,
    val tables: String, val inject: String, val t0EpochMs: Long, val trace: Trace) {
  val progress = new ProgressLog
  spark.streams.addListener(progress)
  /** Executor and planner counters: registered on traced runs only,
    * when the timed region starts. */
  var layers: Option[LayerListener] = None
  var setupS: Double = 0.0
  private var timedStartNs = 0L
  val warmupLog = mutable.ArrayBuffer.empty[Double]
  /** Wall seconds of each named set-up phase, in order. */
  val phases = mutable.LinkedHashMap.empty[String, Double]

  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try trace.span(name)(body)
    finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }
  val execMetrics = new Metrics

  /** Runs `once` (untimed) `rounds` times and returns what each round
    * measured (its program CPU seconds); the timed region's own
    * first-versus-rest drift is reported by the steadiness report. */
  def warmup(rounds: Int)(once: Int => Double): Seq[Double] = {
    val xs = (0 until rounds).map(i => phase("warmup") { once(i) })
    warmupLog ++= xs
    xs
  }

  /** Ends set-up and starts the timed region. */
  def setupDone(): Unit = {
    setupS = (System.currentTimeMillis() - t0EpochMs) / 1000.0
    progress.clear()
    if (trace.on) {
      val l = new LayerListener
      l.register(spark)
      layers = Some(l)
    }
    timedStartNs = System.nanoTime()
  }

  /** Ends the timed region: snapshots executor and planner counters,
    * per cycle (one pass, or one micro-batch). */
  def timedDone(cycles: Int): Unit = layers.foreach { l =>
    val wallMs = (System.nanoTime() - timedStartNs) / 1e6
    val per = 1.0 / math.max(1, cycles)
    val c = l.total
    val m = execMetrics
    m.put("exec.jobs", c.jobs.get * per, "count")
    m.put("exec.stages", c.stages.get * per, "count")
    m.put("exec.tasks", c.tasks.get * per, "count")
    m.put("exec.task_run_ms", c.runMs.get * per, "ms")
    m.put("exec.task_cpu_ms", c.cpuNs.get / 1e6 * per, "ms")
    m.put("exec.gc_ms", c.gcMs.get * per, "ms")
    m.put("exec.task_busy_share", c.runMs.get / (wallMs * Ingest.cpus), "ratio")
    m.put("exec.shuffle_read_bytes", c.shuffleRead.get * per, "B")
    m.put("exec.shuffle_write_bytes", c.shuffleWrite.get * per, "B")
    m.put("exec.spill_bytes", c.spill.get * per, "B")
    m.put("catalyst.analysis_ms", c.analysisNs.get / 1e6 * per, "ms")
    m.put("catalyst.optimization_ms", c.optimizationNs.get / 1e6 * per, "ms")
    m.put("catalyst.planning_ms", c.planningNs.get / 1e6 * per, "ms")
  }
}

/** One benchmark run:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir>
  *  <tables dir> <setup start, epoch ms> [inject]`.
  * Prints `PERFBENCH_RESULT <json>` as its last line. */
object Main {
  val Workloads = Seq("ingest_backlog", "queries")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, tables, t0S, rest @ _*) = args
    require(Workloads.contains(workload), s"unknown workload $workload")
    val inject = rest.headOption.getOrElse("none")
    val work = Paths.get(workS)
    Files.createDirectories(work)
    val cpus = Ingest.cpus
    val spark = GraftSession.build(s"local[$cpus]", cpus)
    val trace = new Trace(traceS == "1")
    val ctx = new Ctx(spark, seedS.toLong, secondsS.toInt, work, tables, inject, t0S.toLong, trace)
    ctx.phases("launch_and_session") = (System.currentTimeMillis() - t0S.toLong) / 1000.0
    val out =
      try workload match {
        case "ingest_backlog" => Ingest.backlog(ctx)
        case "queries" => Queries.run(ctx, Queries.list)
      } finally if (trace.on) trace.write(work.resolve("trace.jsonl"))
    out.e2e.put("setup_s", ctx.setupS, "s")
    val layers = new Metrics
    for ((k, v, u) <- out.layers.entries ++ ctx.execMetrics.entries) layers.put(k, v, u)
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "invalid" -> out.invalid.map(Json.str).getOrElse("null"),
      "e2e" -> out.e2e.toJson,
      "layers" -> layers.toJson,
      "warmup_cpu_s" -> ctx.warmupLog.map(Json.num).mkString("[", ",", "]"),
      "cycles_cpu_s" -> out.cycles.map(Json.num).mkString("[", ",", "]"),
      "setup_phases" -> Json.obj(ctx.phases.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "verify_dir" -> out.verifyDir.map(Json.str).getOrElse("null"),
      "notes" -> out.notes.map(Json.str).mkString("[", ",", "]")))
    spark.stop()
    println("PERFBENCH_RESULT " + json)
  }
}
