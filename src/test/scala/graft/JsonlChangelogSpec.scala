package graft

import graft.envelope.ChangeEvent
import graft.job.{CdcJob, CdcJobConfig}
import graft.log.ChangeLogGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** JSONL-codec changelog: raw text + JSON codec with malformed lines
  * routed to a real DLQ (the reference logs-and-drops,
  * `internal/source/kafka.go:93-97`; its configured DLQ is never written).
  * The pipeline keeps no keyed state: the DLQ holds each malformed line
  * once across batches, replays and crashes (`graft.sinks.Dlq`), and the
  * lake's max-`__lsn` merge drops stale events.
  */
class JsonlChangelogSpec extends SparkSpec {

  private def ev(lsn: Long, op: String, key: String, content: String): ChangeEvent =
    ChangeEvent(lsn, op, new java.sql.Timestamp(lsn * 1000L),
      "r", key, f"c$lsn%040d", "scala", content, Map.empty)

  private def json(events: ChangeEvent*): Seq[String] = {
    import spark.implicits._
    events.toDS().toJSON.collect().toSeq
  }

  /** One text file per segment, its mtime stepped by `seg` so that the
    * file source admits segments in order (one per micro-batch at
    * `maxFilesPerTrigger = 1`).
    */
  private def writeLines(logDir: String, seg: Int, lines: Seq[String]): Unit = {
    import spark.implicits._
    val dir = new java.io.File(f"$logDir/seg=$seg%03d")
    lines.toDS().coalesce(1).write.text(dir.getPath)
    dir.listFiles().foreach(_.setLastModified(1000000000000L + seg * 2000L))
  }

  test("jsonl changelog replays to oracle; malformed lines land in the DLQ") {
    val every = 100
    val cfg = ChangeLogGenerator.Config(nEvents = 5000L, nRepos = 40,
      pathsPerRepo = 15, numSegments = 6)
    val logDir = tmpDir("jl-log")
    val tableDir = tmpDir("jl-lake")
    val ckptDir = tmpDir("jl-ckpt")
    val dlqDir = tmpDir("jl-dlq") + "/dlq"
    ChangeLogGenerator.writeJsonlSegments(spark, logDir, cfg, malformedEvery = every)

    val job = CdcJob(spark, CdcJobConfig(
      logDir = logDir, tablePath = tableDir, checkpointDir = ckptDir,
      dlqDir = Some(dlqDir), format = "jsonl", maxFilesPerTrigger = 3))
    val stats = job.runToCompletion()
    assert(stats.nonEmpty)

    // oracle over the SAME delivery stream minus the corrupted lines
    import spark.implicits._
    val oracle = ChangeLogGenerator.deliveryStream(spark, cfg)
      .select(col("ev.*")).as[ChangeEvent]
      .filter(e => e.lsn % every != every - 1)
      .groupByKey(e => (e.repo, e.path))
      .reduceGroups((a, b) => if (a.lsn >= b.lsn) a else b)
      .map(_._2)
      .filter(_.op != ChangeEvent.Delete)

    val got = job.lake.read().select(col("repo"), col("path"),
      sha2(col("content"), 256).as("sha"))
    val want = oracle.select(col("repo"), col("path"),
      sha2(col("content"), 256).as("sha"))
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() + want.exceptAll(got).count() === 0L)

    // DLQ holds the corrupted raw lines (deduped by content hash)
    val dlq = spark.read.parquet(dlqDir)
    assert(dlq.count() > 0)
    assert(dlq.columns.toSet === Set("raw", "dlq_ts"))
    assert(dlq.filter(col("raw").startsWith("{\"oops\":")).count() === dlq.count())
  }

  test("a malformed line redelivered in a later batch lands in the DLQ once") {
    val root = tmpDir("jl-dlq-redeliver")
    val bad = "{\"oops\": truncated"
    writeLines(s"$root/log", 0, json(ev(1, "insert", "A", "a1")) :+ bad)
    writeLines(s"$root/log", 1, json(ev(2, "update", "A", "a2")) :+ bad)
    val job = CdcJob(spark, CdcJobConfig(logDir = s"$root/log",
      tablePath = s"$root/lake", checkpointDir = s"$root/ckpt",
      dlqDir = Some(s"$root/dlq"), format = "jsonl", maxFilesPerTrigger = 1,
      numBuckets = 2))
    assert(job.runToCompletion().size === 2, "one micro-batch per segment")
    // batch 1's anti-join leaves out the line batch 0's file holds, which
    // a per-batch dedup alone would let through
    assert(spark.read.parquet(s"$root/dlq").select("raw").collect()
      .map(_.getString(0)).toSeq === Seq(bad))
    assert(job.lake.read().select("content").collect()
      .map(_.getString(0)).toSeq === Seq("a2"))
  }

  test("a ledger-held batch is skipped; a later stale event loses at read") {
    // the crash window between the lake commit and the engine's batch
    // commit: the ledger holds batch 0, the checkpoint does not
    val root = tmpDir("jl-ledger-hit")
    val cfg = CdcJobConfig(logDir = s"$root/log", tablePath = s"$root/lake",
      checkpointDir = s"$root/ckpt", format = "jsonl", maxFilesPerTrigger = 1,
      numBuckets = 2, checkpointId = "jl-ledger")
    val job = CdcJob(spark, cfg)
    job.lake.createIfAbsent(StructType(ChangeEvent.schema.fields.filter(f =>
      ChangeEvent.lakeCols.contains(f.name))))
    val first = Seq(ev(5, "insert", "A", "a5"))
    import spark.implicits._
    assert(!job.lake.merge(first.toDS().toDF(), cfg.checkpointId, 0L).skippedAsApplied)
    writeLines(s"$root/log", 0, json(first: _*))
    writeLines(s"$root/log", 1, json(ev(3, "update", "A", "a3-stale"), ev(7, "insert", "B", "b7")))

    val stats = job.runToCompletion()
    assert(stats.map(_.skippedAsApplied) === Seq(true, false))
    // no state drops the stale A of the next batch: it is stored as a
    // delta row and loses to lsn 5 at read
    assert(job.lake.readRaw().filter(col("path") === "A").select("__lsn")
      .collect().map(_.getLong(0)).toSeq.sorted === Seq(3L, 5L))
    assert(job.lake.read().orderBy("path").select("content").collect()
      .map(_.getString(0)).toSeq === Seq("a5", "b7"))
  }

  private def dlqLines(dir: String): Seq[String] =
    spark.read.parquet(dir).select("raw").collect().map(_.getString(0)).toSeq

  test("a crash between the DLQ write and the lake commit leaves the line in the DLQ once") {
    val root = tmpDir("jl-dlq-crash")
    val bad = "{\"oops\": crash"
    writeLines(s"$root/log", 0, json(ev(1, "insert", "A", "a1")) :+ bad)
    val cfg = CdcJobConfig(logDir = s"$root/log", tablePath = s"$root/lake",
      checkpointDir = s"$root/ckpt", dlqDir = Some(s"$root/dlq"),
      format = "jsonl", maxFilesPerTrigger = 1, numBuckets = 2,
      checkpointId = "jl-crash")
    // the crash state: batch 0's DLQ file is written, neither the lake
    // nor the checkpoint holds batch 0
    import spark.implicits._
    assert(graft.sinks.Dlq.write(Seq(bad).toDF("raw"), s"$root/dlq",
      cfg.checkpointId, 0L) === 1L)
    val job = CdcJob(spark, cfg)
    assert(job.runToCompletion().map(_.skippedAsApplied) === Seq(false))
    assert(dlqLines(s"$root/dlq") === Seq(bad))
    assert(job.lake.read().select("content").collect()
      .map(_.getString(0)).toSeq === Seq("a1"))
  }

  test("a replayed all-malformed batch, which commits no ledger entry, adds no second copy") {
    val root = tmpDir("jl-dlq-allbad")
    val bad = Seq("{\"oops\": one", "{\"oops\": two")
    writeLines(s"$root/log", 0, bad)
    writeLines(s"$root/log", 1, json(ev(1, "insert", "A", "a1")))
    val cfg = CdcJobConfig(logDir = s"$root/log", tablePath = s"$root/lake",
      checkpointDir = s"$root/ckpt", dlqDir = Some(s"$root/dlq"),
      format = "jsonl", maxFilesPerTrigger = 1, numBuckets = 2,
      checkpointId = "jl-allbad")
    // batch 0 ran to its (empty) merge, which wrote no ledger entry, and
    // the engine crashed before its batch commit
    import spark.implicits._
    graft.sinks.Dlq.write(bad.toDF("raw"), s"$root/dlq", cfg.checkpointId, 0L)
    val job = CdcJob(spark, cfg)
    job.lake.createIfAbsent(StructType(ChangeEvent.schema.fields.filter(f =>
      ChangeEvent.lakeCols.contains(f.name))))
    val empty = job.lake.merge(Seq.empty[ChangeEvent].toDS().toDF(), cfg.checkpointId, 0L)
    assert(!empty.skippedAsApplied && job.lake.currentSnapshot.get.appliedUpTo.isEmpty)
    assert(job.runToCompletion().size === 2, "one micro-batch per segment")
    assert(dlqLines(s"$root/dlq").sorted === bad.sorted)
    assert(job.lake.read().select("content").collect()
      .map(_.getString(0)).toSeq === Seq("a1"))
  }
}
