package graft

import graft.envelope.ChangeEvent
import graft.job.{CdcJob, CdcJobConfig}
import graft.log.ChangeLogGenerator
import org.apache.spark.sql.functions._

/** North-rule scenario: kill mid-replay, restart from checkpoint, assert
  * no lost or duplicated effects.
  */
class CheckpointResumeSpec extends SparkSpec {

  test("resume from checkpoint: no lost or duplicated effects") {
    val cfg = ChangeLogGenerator.Config(nEvents = 8000L, nRepos = 40,
      pathsPerRepo = 15, numSegments = 8)
    val logDir = tmpDir("rslog")
    val stageDir = tmpDir("rsstage")
    val tableDir = tmpDir("rslake")
    val ckptDir = tmpDir("rsckpt")
    // write the full log to a staging dir, reveal first half to the stream
    ChangeLogGenerator.writeSegments(spark, stageDir, cfg)
    val segs = new java.io.File(stageDir).listFiles()
      .filter(_.getName.startsWith("seg=")).sortBy(_.getName)
    new java.io.File(logDir).mkdirs()
    def copySeg(d: java.io.File): Unit = {
      val dst = java.nio.file.Paths.get(logDir, d.getName)
      java.nio.file.Files.createDirectories(dst)
      d.listFiles().foreach { f =>
        java.nio.file.Files.copy(f.toPath, dst.resolve(f.getName))
      }
    }
    segs.take(4).foreach(copySeg)

    val jobCfg = CdcJobConfig(logDir = logDir, tablePath = tableDir,
      checkpointDir = ckptDir, maxFilesPerTrigger = 2)
    // phase 1: replay the visible half to completion, then "crash"
    val job1 = CdcJob(spark, jobCfg)
    job1.runToCompletion()
    val v1 = job1.lake.currentVersion.get
    assert(v1 > 0)

    // phase 2: reveal the rest, restart from the same checkpoint
    segs.drop(4).foreach(copySeg)
    val job2 = CdcJob(spark, jobCfg)
    val stats2 = job2.runToCompletion()
    assert(stats2.nonEmpty, "restart processed no batches")

    // final state equals the oracle over the FULL log
    val finalState = job2.lake.read()
    val oracle = ChangeLogGenerator.oracleFinalState(spark, cfg)
    val got = finalState.select(col("repo"), col("path"),
      sha2(col("content"), 256).as("sha"))
    val want = oracle.select(col("repo"), col("path"),
      sha2(col("content"), 256).as("sha"))
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() + want.exceptAll(got).count() === 0L)
  }

  test("merge is idempotent: re-applying a batchId is a no-op") {
    import spark.implicits._
    val tableDir = tmpDir("idem")
    val lake = graft.lake.LakeTable(spark, tableDir, Seq("repo", "path"), 8)
    lake.createIfAbsent(org.apache.spark.sql.types.StructType.fromDDL(
      "repo STRING, path STRING, commit STRING, lang STRING, content STRING"))
    val batch = Seq(
      ChangeEvent(1, "insert", new java.sql.Timestamp(0), "r1", "a", "c1", "scala", "x", Map.empty),
      ChangeEvent(2, "update", new java.sql.Timestamp(0), "r1", "a", "c2", "scala", "y", Map.empty),
      ChangeEvent(3, "insert", new java.sql.Timestamp(0), "r2", "b", "c3", "go", "z", Map.empty)
    ).toDS().toDF()
    val st1 = lake.merge(batch, "ck", 0L)
    assert(!st1.skippedAsApplied && st1.upserted === 2L)
    val v = lake.currentVersion.get
    val rows = lake.read().orderBy("repo", "path").collect().map(_.toSeq)
    // replay the same batch (crash-replay path)
    val st2 = lake.merge(batch, "ck", 0L)
    assert(st2.skippedAsApplied)
    assert(lake.currentVersion.get === v, "version must not advance")
    assert(lake.read().orderBy("repo", "path").collect().map(_.toSeq)
      .sameElements(rows))
    // delete removes, new batch advances
    val del = Seq(ChangeEvent(4, "delete", new java.sql.Timestamp(0),
      "r1", "a", "c4", "scala", "", Map.empty)).toDS().toDF()
    val st3 = lake.merge(del, "ck", 1L)
    assert(st3.deleted === 1L)
    val after = lake.read().select("repo", "path").collect().map(r => (r.getString(0), r.getString(1)))
    assert(after.toSet === Set(("r2", "b")))
  }

  test("a checkpoint written by the stateful pipeline is refused with a restart recipe") {
    // an empty state/ directory is what marks it: no streaming run needed
    val root = tmpDir("stateful-ckpt")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "ckpt", "state"))
    val job = CdcJob(spark, CdcJobConfig(logDir = s"$root/log",
      tablePath = s"$root/lake", checkpointDir = s"$root/ckpt"))
    val e = intercept[IllegalStateException](job.start())
    assert(e.getMessage.contains("state/") &&
      e.getMessage.contains("new checkpointDir") &&
      e.getMessage.contains("new checkpointId"), e.getMessage)
    // refused before anything is written: no table was created
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "lake")))
  }

  test("a jsonl checkpoint holding state/ is refused the same way") {
    val root = tmpDir("stateful-jsonl-ckpt")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "ckpt", "state"))
    val job = CdcJob(spark, CdcJobConfig(logDir = s"$root/log",
      tablePath = s"$root/lake", checkpointDir = s"$root/ckpt",
      dlqDir = Some(s"$root/dlq"), format = "jsonl"))
    val e = intercept[IllegalStateException](job.start())
    assert(e.getMessage.contains("state/") &&
      e.getMessage.contains("new checkpointDir") &&
      e.getMessage.contains("new checkpointId"), e.getMessage)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "lake")))
  }
}
