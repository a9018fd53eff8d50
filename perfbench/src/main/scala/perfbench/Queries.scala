package perfbench

import java.nio.file.Files

import scala.collection.mutable

import graft.{CacheRegistry, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Closed-loop query workloads: one client runs a fixed list of queries,
  * pass after pass, each pass from a cleared CacheRegistry. */
object Queries {

  /** The query list, run in this order: the engine's flagship query
    * (q01), the cheapest query of the r17 string family (q30), the
    * cheapest ROADMAP job-count leader (q193), and the cheapest
    * stream-stream join (q80, on RocksDB state). A pass must fit at least
    * twice into one run; README.md gives the measured costs behind the
    * choice. */
  val list: Seq[String] = Seq("q01_pricing_summary", "q30_simhash", "q193_recursive_cte",
    "q80_stream_interval_join")

  /** Operator module of a query, Relational1–4 and Analytics1–3 folded. */
  def moduleOf(name: String): String = {
    import graft.operators._
    val mods: Seq[(String, Map[String, _])] = Seq(
      "relational" -> (Relational.queries ++ Relational2.queries ++ Relational3.queries ++ Relational4.queries),
      "analytics" -> (Analytics.queries ++ Analytics2.queries ++ Analytics3.queries),
      "textdedup" -> TextDedup.queries, "retrieval" -> Retrieval.queries,
      "similarity" -> Similarity.queries, "asof" -> AsOf.queries,
      "streaming" -> StreamingParity.queries, "proto" -> graft.streaming.ProtoParity.queries,
      "sources" -> graft.sources.SourceQueries.queries, "multimodal" -> graft.multimodal.Multimodal.queries)
    mods.collectFirst { case (m, qs) if qs.contains(name) => m }.getOrElse("other")
  }

  /** Order-free fingerprint of a result that reads every column:
    * (rows, sum of the low and high halves of each row's hash). */
  def fingerprint(df: DataFrame): String = {
    val h = xxhash64(to_json(struct(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)))
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xffffffffL))), sum(shiftrightunsigned(h, 32))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0 else r.getLong(1)}:${if (r.isNullAt(2)) 0 else r.getLong(2)}"
  }

  def run(ctx: Ctx, names: Seq[String]): Outcome = {
    val spark = ctx.spark
    val dir = ctx.tables
    val reference = mutable.Map.empty[String, String]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0L
    val persistedBuilt = mutable.ArrayBuffer.empty[Double]
    val byQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

    /** One execution: build the query, then the fingerprint action.
      * Returns its wall time, or None when it threw. */
    def execute(name: String, pass: Int): Option[(Double, String)] = {
      val module = moduleOf(name)
      ctx.layers.foreach(_.current.set(module))
      val t0 = System.nanoTime()
      try {
        ctx.trace.span("query", "name" -> name, "module" -> module, "pass" -> pass.toString) {
          val df = ctx.trace.span("SparkEntry.queries", "module" -> module) { SparkEntry.queries(name)(spark, dir) }
          val fp0 = ctx.trace.span("action", "module" -> module) { fingerprint(df) }
          // fault injection for the self-test: one wrong result
          val fp = if (ctx.inject == "fingerprint" && pass == 1 && name == names.head) fp0 + "x" else fp0
          Some(((System.nanoTime() - t0) / 1e6, fp))
        }
      } catch {
        case e: Throwable =>
          failures += s"$name pass $pass: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          None
      } finally ctx.layers.foreach(_.current.set(""))
    }

    /** One pass over the list; returns (pass seconds, per-query ms, the
      * CPU the pass took). */
    def pass(p: Int, timed: Boolean): (Double, Seq[Double], Cpu.Sample) = {
      CacheRegistry.clear(spark, dropScalars = true)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val (results, cpu) = Cpu.timed(names.map(n => n -> execute(n, p)))
      val lat = results.flatMap { case (n, r) =>
        if (timed) attempted += 1
        r match {
          case Some((ms, fp)) =>
            if (timed) byQuery.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += ms
            reference.get(n) match {
              case None => reference(n) = fp
              case Some(ref) if ref != fp =>
                failures += s"$n pass $p: fingerprint $fp, reference $ref"
                if (timed) failed += 1
              case _ => ()
            }
            Some(ms)
          case None =>
            if (timed) failed += 1
            None
        }
      }
      if (timed) persistedBuilt += (spark.sparkContext.getPersistentRDDs.keySet -- before).size.toDouble
      ((System.nanoTime() - t0) / 1e9, lat, cpu)
    }

    /** Each result to Parquet for the DuckDB oracle check; the written
      * result, read back, gives the query's reference fingerprint.
      * Returns the number of queries that threw. */
    val verifyDir = ctx.work.resolve("verify")
    def verify(): Long = {
      CacheRegistry.clear(spark, dropScalars = true)
      Files.createDirectories(verifyDir)
      names.count { n =>
        val out = verifyDir.resolve(n).toString
        try {
          SparkEntry.queries(n)(spark, dir).write.mode("overwrite").parquet(out)
          reference(n) = fingerprint(spark.read.parquet(out))
          false
        } catch {
          case e: Throwable =>
            failures += s"$n written result: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
            true
        }
      }.toLong
    }

    // untimed passes: the first, cold one writes each result for the
    // oracle check and sets the reference fingerprint that every later
    // execution must reproduce; the second warms the timed code path
    // (with the write in the second pass instead, the first timed pass
    // took ~8 % more CPU than the rest)
    var verifyFailures = 0L
    val warm = ctx.warmup(1) { _ =>
        val (bad, cpu) = Cpu.timed(ctx.trace.span("check")(verify()))
        verifyFailures = bad
        cpu.programNs / 1e9
      } ++ ctx.warmup(1)(_ => pass(0, timed = false)._3.programNs / 1e9)
    val setupFailures = failures.size - verifyFailures.toInt
    ctx.setupDone()

    val tStart = System.nanoTime()
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Cpu.Sample]
    val lat = mutable.ArrayBuffer.empty[Double]
    var p = 1
    while ((System.nanoTime() - tStart) / 1e9 < ctx.seconds) {
      val (s, l, c) = pass(p, timed = true)
      passTimes += s
      passCpu += c
      lat ++= l
      p += 1
    }
    val wall = (System.nanoTime() - tStart) / 1e9
    ctx.timedDone(passTimes.size)
    val streamProgress = ctx.progress.all

    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(verifyDir.resolve("oracle_sql.json"),
      Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))

    val m = new Metrics
    m.put("cpu_ms_per_op", Stats.median(passCpu.toSeq.map(_.programNs / 1e6 / names.size)), "ms")

    val layers = new Metrics
    layers.put("wall.ops_per_s", lat.size / wall, "1/s")
    layers.put("wall.latency_p50_ms", Stats.median(lat.toSeq), "ms")
    layers.put("wall.latency_p90_ms", Stats.quantile(lat.toSeq, 0.9), "ms")
    layers.put("wall.cycle_ms", Stats.median(passTimes.toSeq) * 1000, "ms")
    layers.put("cpu.compiler_ms", Stats.median(passCpu.toSeq.map(_.compilerNs / 1e6)), "ms")
    queryLayers(ctx, names, passTimes.size, persistedBuilt.toSeq, layers)
    streamLayers(streamProgress, passTimes.size, layers)
    Outcome(attempted = attempted + (if (setupFailures > 0) names.size else 0),
      failed = failed + setupFailures + verifyFailures, e2e = m, layers = layers,
      cycles = passCpu.toSeq.map(_.programNs / 1e9),
      notes = failures.toSeq.take(20) ++ Seq(
        s"queries (median ms over all passes) " +
          byQuery.map { case (k, v) => f"$k ${Stats.median(v.toSeq)}%.0f" }.mkString(", "),
        s"passes ${passTimes.map(t => f"$t%.3f").mkString(",")} s; program CPU per pass " +
          s"${passCpu.map(c => f"${c.programNs / 1e9}%.3f").mkString(",")} s, " +
          s"warm-up ${warm.map(t => f"$t%.3f").mkString(",")} s"),
      invalid = None, verifyDir = Some(verifyDir.toString))
  }

  /** Streaming-operator metrics of the timed passes, per pass. */
  private def streamLayers(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], passes: Int,
      m: Metrics): Unit = {
    val per = 1.0 / math.max(1, passes)
    val ops = ps.flatMap(_.stateOperators.toSeq)
    m.put("stream.batches", ps.size * per, "count")
    m.put("stream.batch_ms", Stats.median(ps.flatMap(p =>
      Option(p.durationMs.get("triggerExecution")).map(_.doubleValue))), "ms")
    m.put("stream.state_commit_ms", ops.map(_.commitTimeMs).sum * per, "ms")
    m.put("stream.state_update_ms", ops.map(_.allUpdatesTimeMs).sum * per, "ms")
    m.put("stream.state_rows", ops.map(_.numRowsUpdated).sum * per, "count")
  }

  /** Per-layer metrics of the timed passes, per pass. */
  private def queryLayers(ctx: Ctx, names: Seq[String], passes: Int, persisted: Seq[Double],
      m: Metrics): Unit = {
    val perPass = 1.0 / math.max(1, passes)
    val spans = ctx.trace.all.filter(s => s.attrs.get("pass").exists(_.toInt >= 1))
    val timedIds = spans.map(_.id).toSet
    val children = ctx.trace.all.filter(s => timedIds.contains(s.parent))
    for (mod <- names.map(moduleOf).distinct.sorted) {
      val build = children.filter(s => s.name == "SparkEntry.queries" && s.attrs.get("module").contains(mod))
      val act = children.filter(s => s.name == "action" && s.attrs.get("module").contains(mod))
      m.put(s"build_ms.$mod", build.map(_.ms).sum * perPass, "ms")
      m.put(s"exec_ms.$mod", act.map(_.ms).sum * perPass, "ms")
    }
    m.put("cache.persisted_built", Stats.median(persisted), "count")
    ctx.layers.foreach(l => for (mod <- names.map(moduleOf).distinct.sorted)
      m.put(s"jobs.$mod", l.label(mod).jobs.get * perPass, "count"))
  }
}
