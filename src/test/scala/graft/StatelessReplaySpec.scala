package graft

import graft.envelope.ChangeEvent
import graft.job.{CdcJob, CdcJobConfig}
import org.apache.spark.sql.functions._

/** The parquet → lake replay keeps no dedup state: the lake's max-`__lsn`
  * merge is the only cross-batch dedup. These specs deliver stale events
  * in LATER batches (each segment is replayed by its own AvailableNow run
  * from the same checkpoint, so it is its own micro-batch) and pin that
  * they land as losing delta rows, never as visible state.
  */
class StatelessReplaySpec extends SparkSpec {

  private def ev(lsn: Long, op: String, key: String, content: String): ChangeEvent =
    ChangeEvent(lsn, op, new java.sql.Timestamp(lsn * 1000L),
      "r", key, f"c$lsn%040d", "scala", content, Map.empty)

  private def writeSeg(logDir: String, seg: Int, events: Seq[ChangeEvent]): Unit = {
    import spark.implicits._
    events.toDS().coalesce(1).write.parquet(f"$logDir/seg=$seg%03d")
  }

  private def replay(root: String): CdcJob = {
    val job = CdcJob(spark, CdcJobConfig(logDir = s"$root/log",
      tablePath = s"$root/lake", checkpointDir = s"$root/ckpt",
      numBuckets = 2, checkpointId = "stateless"))
    job.runToCompletion()
    job
  }

  private def rawLsns(job: CdcJob, key: String): Seq[Long] =
    job.lake.readRaw().filter(col("path") === key)
      .select("__lsn").collect().map(_.getLong(0)).toSeq.sorted

  test("a stale redelivery in a later batch lands as a delta row; read serves the newest") {
    val root = tmpDir("stateless-stale")
    writeSeg(s"$root/log", 0, Seq(
      ev(1, "insert", "A", "a-v1"), ev(2, "update", "A", "a-v2"),
      ev(3, "update", "A", "a-v3"), ev(10, "insert", "B", "b-v10")))
    val v1 = replay(root).lake.currentVersion.get
    writeSeg(s"$root/log", 1, Seq(ev(2, "update", "A", "a-v2"), ev(11, "update", "B", "b-v11")))
    val job = replay(root)
    val v2 = job.lake.currentVersion.get

    // no state dropped the redelivery: it is stored, with its own lsn...
    assert(rawLsns(job, "A") === Seq(2L, 3L))
    // ...and loses to the newer row in the resolved read and the lookup
    def content(k: String) =
      job.lake.read().filter(col("path") === k).select("content")
        .collect().map(_.getString(0)).toSeq
    assert(content("A") === Seq("a-v3"))
    assert(content("B") === Seq("b-v11"))
    assert(job.lake.lookup(Seq("r", "A")).collect().map(_.getAs[String]("content"))
      .toSeq === Seq("a-v3"))

    // the change feed carries the redelivery under the LATER version with
    // a LOWER lsn: applied in version order it would roll A back to a-v2,
    // applied per key by max __lsn it yields a-v3
    val feedA = job.lake.changeFeed(0L, v2).filter(col("path") === "A")
      .select("__version", "__lsn", "content").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sortBy(_._1)
    assert(feedA === Seq((v1, 3L, "a-v3"), (v2, 2L, "a-v2")))
    assert(feedA.maxBy(_._2)._3 === "a-v3")
  }

  test("delete, stale insert, compact (tombstones kept), stale insert: the key stays absent") {
    val root = tmpDir("stateless-tomb")
    writeSeg(s"$root/log", 0, Seq(
      ev(1, "insert", "A", "a-v1"), ev(5, "delete", "A", ""),
      ev(6, "insert", "B", "b-v6")))
    replay(root)
    writeSeg(s"$root/log", 1, Seq(ev(3, "insert", "A", "a-stale3")))
    val job = replay(root)
    def absent(j: CdcJob): Unit = {
      assert(j.lake.read().filter(col("path") === "A").count() === 0L)
      assert(j.lake.lookup(Seq("r", "A")).collect().isEmpty)
    }
    assert(rawLsns(job, "A") === Seq(3L, 5L))
    absent(job)

    // compaction keeps the tombstone (and resolves the stale row away)
    job.lake.compact()
    val afterCompact = job.lake.readRaw().filter(col("path") === "A")
      .select("__lsn", "__deleted").collect().map(r => (r.getLong(0), r.getBoolean(1)))
    assert(afterCompact.toSeq === Seq((5L, true)))

    writeSeg(s"$root/log", 2, Seq(ev(4, "insert", "A", "a-stale4")))
    val job2 = replay(root)
    assert(rawLsns(job2, "A") === Seq(4L, 5L))
    absent(job2)
    assert(job2.lake.read().filter(col("path") === "B").select("content")
      .collect().map(_.getString(0)).toSeq === Seq("b-v6"))
  }
}
