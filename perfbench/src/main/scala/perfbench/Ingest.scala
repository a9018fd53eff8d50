package perfbench

import java.nio.file.{Files, Path}

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import graft.streaming._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Seeded `SampleMessage` payloads (the reference's test schema). Every
  * field but `timestamp` is a pure function of (seed, id), so the
  * output check can recompute what each record must decode to. The id
  * is the 12-digit prefix of `query`. */
object Payload {
  private def mix(x0: Long): Long = { // SplitMix64 finalizer
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  private def h(seed: Long, id: Long, salt: Long): Long =
    mix(mix(seed * 0x9e3779b97f4a7c15L + salt) ^ id)

  /** 30 characters: the 12-digit id, '-', 17 hex digits of hash. */
  def query(seed: Long, id: Long): String = {
    val c = new Array[Char](30)
    var v = id
    var i = 11
    while (i >= 0) { c(i) = ('0' + (v % 10)).toChar; v /= 10; i -= 1 }
    c(12) = '-'
    val a = h(seed, id, 1)
    i = 0
    while (i < 16) { c(13 + i) = Character.forDigit(((a >>> (60 - 4 * i)) & 0xf).toInt, 16); i += 1 }
    c(29) = Character.forDigit((h(seed, id, 6) & 0xf).toInt, 16)
    new String(c)
  }
  def pageNumber(seed: Long, id: Long): Integer =
    if (java.lang.Long.remainderUnsigned(h(seed, id, 2), 10) == 0) null
    else Integer.valueOf(java.lang.Long.remainderUnsigned(h(seed, id, 3), 100).toInt)
  def resultPerPage(seed: Long, id: Long): Integer =
    if (java.lang.Long.remainderUnsigned(h(seed, id, 4), 7) == 0) null
    else Integer.valueOf(java.lang.Long.remainderUnsigned(h(seed, id, 5), 50).toInt + 1)

  def encode(seed: Long, id: Long, timestamp: Long): Array[Byte] =
    SampleMessageProto.encode(query(seed, id), timestamp, pageNumber(seed, id), resultPerPage(seed, id))

  def idOf(query: String): Long =
    if (query != null && query.length == 30 && query.charAt(12) == '-')
      query.substring(0, 12).toLongOption.getOrElse(-1L)
    else -1L

  /** True when a decoded row is exactly the record its id names. */
  def matches(seed: Long, q: String, pn: Integer, rpp: Integer): Boolean = {
    val id = idOf(q)
    id >= 0 && q == query(seed, id) && pn == pageNumber(seed, id) && rpp == resultPerPage(seed, id)
  }
}

/** Output check of one or more drains over the staged ids: every id
  * must arrive once per drain, decoded exactly, in a file whose name
  * the drain's pipeline promised; a missing, mis-decoded or mis-named
  * record is one failed operation, and so is a duplicate under
  * exactly-once. At-least-once drains may repeat a replayed batch, so
  * their duplicates are counted but do not fail. */
final case class IngestCheck(expected: Long, present: Long, rows: Long, misDecoded: Long,
    duplicates: Long, allowedDuplicates: Long) {
  def missing: Long = expected - present
  def failed: Long = missing + misDecoded + duplicates
  def describe: String =
    s"expected $expected, present $present, rows $rows, mis-decoded or mis-named $misDecoded, " +
      s"exactly-once duplicates $duplicates, at-least-once duplicates $allowedDuplicates"
}

/** One drain of the staged backlog by one pipeline. */
final case class Drain(kind: String, instance: String, target: Path, progress: Seq[StreamingQueryProgress],
    received: Long, written: Long, flushed: Long, progressEvents: Int) {
  def seconds: Double = (Ingest.endMs(progress.last) - Ingest.startMs(progress.head)) / 1000.0
  def sized: Boolean = kind == Ingest.Sized
  /** Failed operations the drain's `PipelineMetrics` meters show: each
    * record meter must equal the backlog size, and the flushed-batch
    * meter must count every progress event of the drain's query. */
  def meterFailures(n: Long): Long =
    math.max(math.max(math.abs(received - n), math.abs(written - n)), if (flushed != progressEvents) 1L else 0L)
  def describeMeters: String = s"$kind $instance meters: received $received, written $written, " +
    s"flushed batches $flushed of $progressEvents progress events"
}

object Ingest {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  /** Records per staged backlog file and files per micro-batch. A batch
    * of 8 files × 25 000 records takes most of a second on 4 cores,
    * far longer than the 50 ms trigger, so batches run back to back. */
  val BacklogFileRecords = 25000L
  val BacklogFilesPerBatch = 8
  val BacklogTrigger: FiniteDuration = 50.millis
  /** Files in the staged backlog: three batches, one drain. */
  val BacklogFiles = 24

  /** The two pipelines a cycle runs, one drain each: the default
    * exactly-once native sink, and the reference's own delivery and
    * file rolling (at-least-once sized roller, reference file names). */
  val Native = "native"
  val Sized = "sized"

  private def stage(spark: SparkSession, seed: Long, dir: String, n: Long, files: Int,
      inject: String): Unit = {
    val enc = udf((id: Long) => {
      val b = Payload.encode(seed, id, id)
      // fault injection for the self-test: flip one byte of the query
      // text of one record (still valid protobuf, wrong content)
      if (inject == "corrupt" && id == n / 2) b(5) = (b(5) ^ 1).toByte
      b
    })
    spark.range(0, n, 1, files).select(enc(col("id")).as("value"))
      .write.mode("overwrite").option("compression", "none")
      .option("parquet.enable.dictionary", "false").parquet(dir)
  }

  private def source(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema("value binary").option("maxFilesPerTrigger", BacklogFilesPerBatch.toLong).parquet(dir)

  /** `<yyyyMMdd-HHmmssSSS>_<instance>_<shard>.parquet`, the reference's
    * file name, as the sized roller's `referenceFileNaming` promises. */
  def referenceName(instance: String): String = s".*/[0-9]{8}-[0-9]{9}_${instance}_[0-9]+\\.parquet$$"

  /** Checks the committed outputs of drains over the staged ids [0, n). */
  def check(spark: SparkSession, drains: Seq[Drain], seed: Long, n: Long, inject: String): IngestCheck = {
    val ok = udf((q: String, pn: Integer, rpp: Integer) => Payload.matches(seed, q, pn, rpp))
    val idOf = udf((q: String) => Payload.idOf(q))
    val withId = drains.zipWithIndex.map { case (d, i) =>
      val named = if (d.sized) input_file_name().rlike(referenceName(d.instance)) else lit(true)
      spark.read.parquet(d.target.toString).select(lit(i).as("run"), lit(d.sized).as("dup_ok"),
        idOf(col("query")).as("id"), col("query"), col("page_number"), col("result_per_page"), named.as("named"))
    }.reduce(_ union _)
    // fault injection for the self-test: lose one committed record
    val seen = if (inject == "drop") withId.filter(col("id") =!= n / 3) else withId
    val good = ok(col("query"), col("page_number"), col("result_per_page")) &&
      col("id") >= 0 && col("id") < n && col("named")
    val extra = greatest(col("g") - 1, lit(0L))
    val r = seen.groupBy(col("run"), col("id"))
      .agg(sum(when(good, 1L).otherwise(0L)).as("g"), count(lit(1)).as("k"), first(col("dup_ok")).as("dup_ok"))
      .agg(sum(col("k")), sum(least(col("g"), lit(1L))), sum(col("k") - col("g")),
        sum(when(col("dup_ok"), lit(0L)).otherwise(extra)), sum(when(col("dup_ok"), extra).otherwise(lit(0L))))
      .head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    IngestCheck(n * drains.size, present = l(1), rows = l(0), misDecoded = l(2), duplicates = l(3),
      allowedDuplicates = l(4))
  }

  private def durations(ps: Seq[StreamingQueryProgress], key: String): Seq[Double] =
    ps.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue))

  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def endMs(p: StreamingQueryProgress): Long =
    startMs(p) + Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)

  /** Micro-batch engine metrics over the batches that read data, from
    * one or more drains of one pipeline, under `prefix`. */
  def batchLayer(runs: Seq[Seq[StreamingQueryProgress]], prefix: String, m: Metrics): Unit = {
    val ps = runs.flatten
    m.put(s"${prefix}batch.count", ps.size, "count")
    m.put(s"${prefix}batch.rows_p50", Stats.median(ps.map(_.numInputRows.toDouble)), "count")
    for (k <- Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
        "commitOffsets", "triggerExecution"))
      m.put(s"${prefix}batch.${k}_ms_p50", Stats.median(durations(ps, k)), "ms")
    m.put(s"${prefix}batch.triggerExecution_ms_p90", Stats.quantile(durations(ps, "triggerExecution"), 0.9), "ms")
    val busy = runs.filter(_.nonEmpty).map { r =>
      durations(r, "triggerExecution").sum / math.max(1L, endMs(r.last) - startMs(r.head))
    }
    m.put(s"${prefix}batch.busy_share", Stats.median(busy), "ratio")
    val gaps = runs.flatMap(_.sliding(2).collect { case Seq(a, b) => (startMs(b) - endMs(a)).toDouble })
    m.put(s"${prefix}batch.trigger_wait_ms_p50", Stats.median(gaps), "ms")
  }

  /** The last drain's `PipelineMetrics` meters, under `prefix`. */
  def meterLayer(d: Drain, prefix: String, m: Metrics): Unit = {
    m.put(s"${prefix}meter.received_records", d.received.toDouble, "count")
    m.put(s"${prefix}meter.written_records", d.written.toDouble, "count")
    m.put(s"${prefix}meter.flushed_batches", d.flushed.toDouble, "count")
  }

  /** Storage guards over the parquet files a pipeline left in `dir`. */
  def outputLayer(dir: Path, records: Long, prefix: String, m: Metrics): Unit = {
    val sizes = Files.walk(dir).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") && !p.getFileName.toString.startsWith("."))
      .map(p => Files.size(p).toDouble).toSeq
    m.put(s"${prefix}output.files", sizes.size, "count")
    m.put(s"${prefix}output.bytes_per_record", if (records > 0) sizes.sum / records else 0.0, "B")
    m.put(s"${prefix}output.file_bytes_p50", Stats.median(sizes), "B")
  }

  /** Layer probes over a staged set: decode alone into a `noop` sink,
    * then pre-decoded rows into Parquet with the pipeline's codec and
    * writer parallelism. */
  def probeLayers(ctx: Ctx, staged: String, records: Long, m: Metrics): Unit = {
    val spark = ctx.spark
    val codec = SampleMessageProto.codec
    val decode = () => spark.read.parquet(staged).select(codec.decode(col("value")).as("r")).select("r.*")
    decode().write.format("noop").mode("overwrite").save() // warm the path once
    val t0 = System.nanoTime()
    ctx.trace.span("codec.decode") { decode().write.format("noop").mode("overwrite").save() }
    m.put("codec.decode_records_per_s", records / ((System.nanoTime() - t0) / 1e9), "1/s")
    val rows = decode().persist()
    rows.write.format("noop").mode("overwrite").save()
    val out = ctx.work.resolve("probe-sink").toString
    val before = ctx.layers.map(_.total.shuffleWrite.get).getOrElse(0L)
    val t1 = System.nanoTime()
    ctx.trace.span("sink.write") {
      rows.repartition(cpus).write.mode("overwrite").option("compression", "snappy").parquet(out)
    }
    m.put("sink.write_records_per_s", records / ((System.nanoTime() - t1) / 1e9), "1/s")
    m.put("sink.shuffle_write_bytes", ctx.layers.map(_.total.shuffleWrite.get - before).getOrElse(0L).toDouble, "B")
    rows.unpersist()
  }

  // ------------------------------------------------------------------

  def backlog(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val n = BacklogFileRecords * BacklogFiles
    val staged = ctx.work.resolve("backlog").toString
    ctx.phase("stage") { stage(spark, ctx.seed, staged, n, BacklogFiles, ctx.inject) }

    /** One drain of `dir` by a fresh pipeline of `kind` (own checkpoint
      * and target), so the same staged backlog can be drained again.
      * Before the pipeline stops, waits until its meters have seen every
      * progress event of its query (listener delivery is asynchronous). */
    def drain(kind: String, name: String, dir: String): Drain = {
      val target = ctx.work.resolve(s"$name-out")
      val cfg = PipelineConfig(
        targetDir = target.toString,
        checkpointDir = ctx.work.resolve(s"$name-ckpt").toString,
        instanceName = name,
        maxFileSize = 128L * 1024 * 1024,
        maxFileOpenDuration = BacklogTrigger,
        writerParallelism = cpus,
        delivery = if (kind == Sized) DeliveryMode.AtLeastOnceSized else DeliveryMode.ExactlyOnce,
        referenceFileNaming = kind == Sized)
      val h = ctx.trace.span("Pipeline.start", "kind" -> kind) {
        new Pipeline(cfg).start(source(spark, dir), SampleMessageProto.codec)
      }
      var events = 0
      try {
        ctx.trace.span("PipelineHandle.processAllAvailable", "kind" -> kind) { h.processAllAvailable() }
        events = h.query.recentProgress.length
        val deadline = System.nanoTime() + 10000000000L
        while (h.metrics.flushedBatches.get < events && System.nanoTime() < deadline) Thread.sleep(2)
      } finally ctx.trace.span("PipelineHandle.stop", "kind" -> kind) { h.stop() }
      // fault injection for the self-test: a meter that lost one record
      val lost = if (ctx.inject == "meter" && name == s"${kind}1") 1L else 0L
      Drain(kind, name, target, ctx.progress.of(h.query.id).filter(_.numInputRows > 0),
        received = h.metrics.receivedRecords.get - lost, written = h.metrics.writtenRecords.get,
        flushed = h.metrics.flushedBatches.get, progressEvents = events)
    }
    /** One drain by each pipeline, with the CPU the pair took. */
    def cycle(i: String): (Seq[Drain], Cpu.Sample) =
      Cpu.timed(Seq(drain(Native, s"$Native$i", staged), drain(Sized, s"$Sized$i", staged)))

    // warm-up: two untimed cycles over the same backlog. After one, the
    // first timed cycle still took ~5 % more CPU than the later ones,
    // so the metric would depend on how many cycles fit into a run.
    val warm = ctx.warmup(2)(i => cycle(s"warm$i")._2.programNs / 1e9)
    ctx.setupDone()

    // timed: whole cycles until --seconds have passed
    val t0 = System.nanoTime()
    val done = scala.collection.mutable.ArrayBuffer.empty[(Seq[Drain], Cpu.Sample)]
    while (done.isEmpty || (System.nanoTime() - t0) / 1e9 < ctx.seconds)
      done += cycle((done.size + 1).toString)
    val cycles = done.toSeq.map(_._1)
    val cycleCpu = done.toSeq.map(_._2)
    val drains = cycles.flatten
    ctx.timedDone(cycles.size)

    val checks = ctx.trace.span("check") { check(spark, drains, ctx.seed, n, ctx.inject) }
    val meterFailed = drains.map(_.meterFailures(n)).sum
    // record latency: from drain start (every record already waiting)
    // to the end of the batch that committed it, one sample per 10 000
    val lat = drains.flatMap { d =>
      d.progress.flatMap(p => Seq.fill((p.numInputRows / 10000).toInt)((endMs(p) - startMs(d.progress.head)).toDouble))
    }
    val m = new Metrics
    m.put("cpu_ms_per_op", Stats.median(cycleCpu.map(_.programNs / 1e6 / (n * 2))), "ms")

    val layers = new Metrics
    layers.put("wall.ops_per_s", drains.map(_.progress.map(_.numInputRows).sum).sum / drains.map(_.seconds).sum, "1/s")
    layers.put("wall.latency_p50_ms", Stats.median(lat), "ms")
    layers.put("wall.latency_p90_ms", Stats.quantile(lat, 0.9), "ms")
    layers.put("wall.cycle_ms", Stats.median(cycles.map(_.map(_.seconds).sum)) * 1000, "ms")
    layers.put("cpu.compiler_ms", Stats.median(cycleCpu.map(_.compilerNs / 1e6)), "ms")
    for ((kind, prefix) <- Seq(Native -> "", Sized -> "sized.")) {
      val ds = drains.filter(_.kind == kind)
      layers.put(s"$kind.records_per_s", n * ds.size / ds.map(_.seconds).sum, "1/s")
      batchLayer(ds.map(_.progress), prefix, layers)
      meterLayer(ds.last, prefix, layers)
      outputLayer(ds.last.target, n, prefix, layers)
    }
    if (ctx.trace.on) probeLayers(ctx, staged, n, layers)

    val invalid = Seq("", "sized.").flatMap { prefix =>
      val busy = layers.get(s"${prefix}batch.busy_share").getOrElse(0.0)
      if (busy < 0.85) Some(f"${prefix}batch.busy_share $busy%.2f < 0.85: the trigger, not the pipeline, set the rate")
      else None
    }
    Outcome(attempted = n * drains.size, failed = checks.failed + meterFailed, e2e = m, layers = layers,
      cycles = cycleCpu.map(_.programNs / 1e9),
      notes = Seq(checks.describe) ++ drains.filter(_.meterFailures(n) > 0).map(_.describeMeters) ++ Seq(
        s"drains ${drains.map(d => f"${d.kind} ${d.seconds}%.3f").mkString(", ")} s, " +
          s"${drains.head.progress.size} batches each; program CPU per cycle " +
          s"${cycleCpu.map(c => f"${c.programNs / 1e9}%.3f").mkString(", ")} s (JIT compiler " +
          s"${cycleCpu.map(c => f"${c.compilerNs / 1e9}%.3f").mkString(", ")} s), " +
          s"warm-up cycle ${warm.map(w => f"$w%.3f").mkString(",")} s"),
      invalid = if (invalid.isEmpty) None else Some(invalid.mkString("; ")))
  }
}
