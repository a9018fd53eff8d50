package graft

import org.apache.spark.sql.functions._
import graft.streaming._

/** End-to-end ingestion-throughput benchmark for the [[Pipeline]] —
  * the quantitative half of "matches-or-beats the reference's
  * single-node throughput". The reference's builder documents a
  * DESIGN capacity of 300,000 records/s per instance
  * (`maxExpectedThroughputPerSecond`, KPW:466/573-585 — a sizing
  * constant; the reference publishes no measured number, BASELINE §A).
  *
  * Measured path = the reference's whole dataflow, one-for-one:
  * proto-encoded SampleMessage bytes (test-message.proto:5-10) →
  * streaming file source (`value: binary`, the Kafka-source shape) →
  * [[ProtoCodec]] per-record decode → checkpointed rolling parquet
  * sink. Staging (generating + writing the input bytes) is NOT timed;
  * the clock covers query start → all records committed → stop.
  *
  * Prints one JSON line:
  * `{"metric":"pipeline_throughput","value":<records/s>,...}` and
  * writes it to SPARK_GRAFT_PIPEBENCH_OUT (default PIPEBENCH.json).
  */
object PipeBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val n = sys.env.getOrElse("SPARK_GRAFT_PIPEBENCH_RECORDS", "2000000").toLong
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt)
    import java.nio.file.Files
    val staging = Files.createTempDirectory("graft-pipebench-in").toString
    val target = Files.createTempDirectory("graft-pipebench-out").toString
    val ckpt = Files.createTempDirectory("graft-pipebench-ckpt").toString

    // ---- stage input: n SampleMessage payloads as a binary column
    // (distributed generate + encode; never touches the driver) ----
    val enc = udf((q: String, t: Long, pn: Integer, rpp: Integer) =>
      SampleMessageProto.encode(q, t, pn, rpp))
    spark.range(n)
      .select(enc(
        concat(lit("query-"), col("id") % 1000),
        col("id"),
        when(col("id") % 10 === 0, lit(null)).otherwise(col("id") % 100).cast("int"),
        when(col("id") % 7 === 0, lit(null)).otherwise(col("id") % 13).cast("int")
      ).as("value"))
      .write.mode("overwrite").parquet(staging)

    // ---- timed: the pipeline consumes the staged stream ----
    import scala.concurrent.duration._
    val cfg = PipelineConfig(
      targetDir = target,
      checkpointDir = ckpt,
      instanceName = "pipebench",
      // 128 MiB file cap: large enough that rolling is driven by the
      // trigger, small enough to exercise multi-file commits
      maxFileSize = 128L * 1024 * 1024,
      // SHORT open-duration cap: the trigger interval realizes S6, and
      // Spark aligns the FIRST ProcessingTime batch to the next
      // wall-clock multiple of the interval — with the reference's
      // 900 s default the bench would measure up to 15 min of startup
      // idling, not throughput (documented at Pipeline.startNative)
      maxFileOpenDuration = 2.seconds,
      writerParallelism = cpus.toInt,
      // "sized" measures the adaptive byte-capped roller
      // (at-least-once foreachBatch); default is the exactly-once
      // native sink
      delivery = sys.env.get("SPARK_GRAFT_PIPEBENCH_MODE") match {
        case Some("sized") => DeliveryMode.AtLeastOnceSized
        case _ => DeliveryMode.ExactlyOnce
      })
    val pipe = new Pipeline(cfg)
    val raw = spark.readStream
      .schema("value binary")
      .parquet(staging)
    val t0 = System.nanoTime()
    val handle = pipe.start(raw, SampleMessageProto.codec)
    handle.processAllAvailable()
    val secs = (System.nanoTime() - t0) / 1e9
    handle.stop()

    val written = spark.read.parquet(target).count()
    require(written == n, s"sink holds $written records, staged $n")
    val rps = written / secs
    val mode = if (cfg.delivery == DeliveryMode.AtLeastOnceSized) "sized" else "native"
    // provenance stamp: which code produced this number (r13 verdict
    // #6 — the committed artifact must be tied to a commit). Optional
    // env wins (CI passes the exact ref); best-effort `git rev-parse`
    // otherwise — anchored at the repo that BUILT these classes (from
    // the classpath location, `<root>/target/scala-2.13/classes`),
    // never the JVM's working directory: a bench launched from an
    // unrelated repo must not stamp that repo's HEAD (r14 ADVICE — a
    // wrong provenance stamp is worse than an absent one); omitted
    // when neither is available.
    val commit = sys.env.get("SPARK_GRAFT_COMMIT").orElse(
      try {
        val loc = new java.io.File(getClass.getProtectionDomain
          .getCodeSource.getLocation.toURI)
        // classes dir, or the jar's PARENT dir when running from a
        // jar (`git -C <file>` always fails; the jar's directory is
        // inside the building repo for an in-repo build)
        val anchor = if (loc.isFile) loc.getParentFile else loc
        def git(args: String*): Option[String] = {
          val p = new ProcessBuilder(("git" +: "-C" +: anchor.getPath +: args): _*)
            .redirectErrorStream(true).start()
          val out = new String(p.getInputStream.readAllBytes()).trim
          if (p.waitFor() == 0) Some(out) else None
        }
        git("rev-parse", "--short", "HEAD")
          .filter(_.matches("[0-9a-f]{6,40}"))
          .map { sha =>
            // Staleness markers (r15 ADVICE): rev-parse records the
            // repo's CURRENT head, not necessarily the commit that
            // compiled these classes. Make a wrong stamp
            // distinguishable: "-dirty" when the tree has uncommitted
            // changes, "-stale" when HEAD is newer than the newest
            // compiled .class (the build predates the commit).
            // The marker is ADVISORY with a known false-positive
            // window (r16 ADVICE #3): committing immediately after
            // building — classes compiled from a tree identical to
            // the new HEAD — stamps "-stale" although the build is
            // current. Comparing against the newest commit touching
            // the build inputs (src/, build.sbt, project/) narrows but
            // cannot close that window (such a commit right after its
            // own build has the same shape),
            // so the reading is: "-stale" = REBUILD BEFORE TRUSTING,
            // never = "the numbers are wrong".
            val dirty = git("status", "--porcelain").exists(_.nonEmpty)
            val stale = (for {
              ctStr <- git("log", "-1", "--format=%ct", "--", "src", "build.sbt", "project")
              ct <- ctStr.toLongOption
            } yield {
              val newestClass = {
                val walk = Files.walk(loc.toPath)
                try {
                  import scala.jdk.CollectionConverters._
                  walk.iterator().asScala
                    .filter(_.toString.endsWith(".class"))
                    .map(Files.getLastModifiedTime(_).toMillis / 1000)
                    .foldLeft(0L)(math.max)
                } finally walk.close()
              }
              newestClass > 0 && newestClass < ct
            }).getOrElse(false)
            sha + (if (dirty) "-dirty" else "") + (if (stale) "-stale" else "")
          }
      } catch { case _: Throwable => None })
    val commitField = commit.map(c => s""","commit":"$c"""").getOrElse("")
    val json =
      s"""{"metric":"pipeline_throughput","value":${math.round(rps)},"unit":"records/sec","records":$written,"seconds":${
        math.round(secs * 1000) / 1000.0},"cpus":$cpus,"mode":"$mode","reference_design_rps":300000$commitField}"""
    println(json)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_PIPEBENCH_OUT", "PIPEBENCH.json")
    try Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    catch { case e: Throwable => System.err.println(s"[pipebench] artifact write failed: $e") }
    spark.stop()
  }
}
