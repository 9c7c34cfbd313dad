package perfbench

import graft.job.{CdcJob, CdcJobConfig}
import graft.lake.LakeTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The measured JVM, on the inputs the generator JVM ([[Gen]]) wrote:
  *
  *  1. set-up: session at `threads` workers, then the warm-up: an untimed
  *     replay of the warm log (the log's first `batches` segments) in
  *     `batches` micro-batches, so that merge onto existing files, state
  *     reload and minor compaction run before any timed level; then, when
  *     a level reads, a scan of its table and a few lookups;
  *  2. the measured level (`tag`, traced or not, with `reads` or not): a
  *     replay of the log into a fresh table and checkpoint. Its timed
  *     region runs from job start to the converged visible read; after it
  *     come the untimed oracle check and, with `reads`, the read phase on
  *     the final table (full scans, closed-loop single-client point
  *     lookups, storage amplification).
  *
  * One level per JVM, so that every level `run.py` compares is the first
  * after the same warm-up: the JIT keeps compiling through a JVM's first
  * two replays, and a level that followed another would run warmer.
  */
object Replay {

  /** Micro-batch progress, the one progress listener of a level: batch
    * walls and consumed events come from here, and so do the traced
    * level's progress phases.
    */
  final class ProgressLog extends StreamingQueryListener {
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    def batches: Seq[StreamingQueryProgress] =
      progress.asScala.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)
  }

  final case class Lookup(kind: String, repo: String, path: String, sha: String)

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** Final state vs the generator's oracle: row count plus per-row
    * sha256(content) equality. Returns the number of mismatching keys.
    */
  private def oracleMismatches(spark: SparkSession, lake: LakeTable, work: String): Long = {
    val got = lake.read().select(col("repo"), col("path"),
      sha2(col("content"), 256).as("got"))
    val want = spark.read.parquet(s"$work/oracle").select(col("repo"), col("path"),
      col("sha").as("want"))
    got.join(want, Seq("repo", "path"), "full_outer")
      .filter(col("got").isNull || col("want").isNull || col("got") =!= col("want"))
      .count()
  }

  def run(a: Args): Map[String, Any] = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = a.str("work")
    val threads = a.int("threads")
    def jobConfig(log: String, dir: String, batchBytes: Long) = CdcJobConfig(
      logDir = log,
      tablePath = s"$dir/lake",
      checkpointDir = s"$dir/ckpt",
      numBuckets = a.int("buckets"),
      maxBytesPerTrigger = Some(batchBytes),
      checkpointId = "perfbench")

    val spark = Host.session(threads, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val lookups = Files.readAllLines(Paths.get(s"$work/lookups.tsv")).asScala.toSeq
      .map(_.split("\t")).map(f => Lookup(f(0), f(1), f(2), f(3)))
    val tag = a.str("tag")
    val reads = a.str("reads") == "1"

    val warm = CdcJob(spark,
      jobConfig(s"$work/warm", s"$work/warm-up-$tag", a.long("warm_batch_bytes")))
    val warmBatches = warm.runToCompletion().size
    if (reads) {
      warm.lake.read().write.format("noop").mode("overwrite").save()
      lookups.take(3).foreach(k => warm.lake.lookup(Seq(k.repo, k.path)).collect())
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val result = level(spark, work, tag, threads,
      jobConfig(s"$work/log", s"$work/$tag", a.long("batch_bytes")),
      lookups, a.str("traced") == "1", reads, a)
    spark.stop()
    Map("setup_s" -> setupS, "session_s" -> sessionS, "warm_batches" -> warmBatches,
      "level" -> result)
  }

  private def level(spark: SparkSession, work: String, tag: String, threads: Int,
      cfg: CdcJobConfig, lookups: Seq[Lookup], traced: Boolean, reads: Boolean,
      a: Args): Map[String, Any] = {
    val probes = Probes.both(work)
    Host.resetPeaks()
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val tracer = if (traced) Some(new Tracer(spark, s"${a.str("trace_id")}-$tag")) else None
    def span[T](name: String)(body: => T): T = tracer match {
      case Some(t) => t.span(name)(body)
      case None => body
    }

    // timed region: job start to the converged visible read
    val job = CdcJob(spark, cfg)
    val cpu0 = Host.cpuSeconds()
    val (gc0, jit0) = (Host.gcMs(), Host.jitCpuSeconds())
    val t0 = System.nanoTime()
    val visibleRows = span("replay") {
      span("job.run") { job.runToCompletion() }
      span("lake.barrier") { job.lake.read().count() }
    }
    val replayS = (System.nanoTime() - t0) / 1e9
    val replayCpuS = Host.cpuSeconds() - cpu0
    val (gcMs, jitS) = (Host.gcMs() - gc0, Host.jitCpuSeconds() - jit0)
    spark.streams.removeListener(progress)
    val batches = progress.batches

    tracer.foreach(_.phase("oracle"))
    val mismatches = oracleMismatches(spark, job.lake, work)
    if (reads) {
      // untimed: one scan and a few lookups, so the read phase measures a
      // warm read path of this table rather than its first calls
      job.lake.read().write.format("noop").mode("overwrite").save()
      lookups.take(3).foreach(k => job.lake.lookup(Seq(k.repo, k.path)).collect())
    }
    val out = mutable.LinkedHashMap[String, Any](
      "threads" -> threads,
      "probes" -> probes,
      "replay_s" -> replayS,
      "replay_cpu_s" -> replayCpuS,
      "replay_gc_ms" -> gcMs,
      "replay_jit_cpu_s" -> jitS,
      "events" -> batches.map(_.numInputRows).sum,
      "visible_rows" -> visibleRows,
      "oracle_mismatches" -> mismatches,
      "batch_ms" -> batches.map(_.durationMs.get("triggerExecution").toDouble))

    if (reads) {
      tracer.foreach(_.phase("read"))
      val readCpu0 = Host.cpuSeconds()
      val scans = (1 to a.int("scans")).map { _ =>
        val t = System.nanoTime()
        span("lake.scan") { job.lake.read().write.format("noop").mode("overwrite").save() }
        (System.nanoTime() - t) / 1e9
      }
      val lookupCpu0 = Host.cpuSeconds()
      val lat = mutable.ArrayBuffer.empty[Double]
      var lookupFailed = 0
      lookups.foreach { k =>
        val t = System.nanoTime()
        val ok =
          try {
            val rows = span("lake.lookup") { job.lake.lookup(Seq(k.repo, k.path)).collect() }
            lat += (System.nanoTime() - t) / 1e6
            if (k.sha == "-") rows.isEmpty
            else rows.length == 1 && sha256(rows(0).getAs[String]("content")) == k.sha
          } catch { case NonFatal(e) =>
            System.err.println(s"[perfbench] lookup ${k.repo}/${k.path} failed: $e")
            false
          }
        if (!ok) lookupFailed += 1
      }
      val lookupCpuS = Host.cpuSeconds() - lookupCpu0
      tracer.foreach(_.phase("after"))
      val tableBytes = Host.treeSize(Paths.get(cfg.tablePath))._1
      val live = s"$work/$tag/live"
      job.lake.read().coalesce(threads).write.parquet(live)
      out ++= Seq(
        "scan_s" -> scans,
        "scan_cpu_s" -> (lookupCpu0 - readCpu0),
        "lookup_cpu_s" -> lookupCpuS,
        "lookups" -> lookups.size,
        "lookup_failed" -> lookupFailed,
        "lookup_ms" -> lat.toSeq,
        "table_bytes" -> tableBytes,
        "live_bytes" -> Host.treeSize(Paths.get(live))._1)
    }
    tracer.foreach { t =>
      out += "layers" -> t.finish(batches, job.lake, lookups.map(k => (k.repo, k.path)),
        s"${a.str("spans")}-$tag.jsonl")
    }
    out += "peak_rss_mb" -> Host.peakRssMb()
    out += "heap_peak_mb" -> Host.heapPeaksMb()
    out.toMap
  }
}
