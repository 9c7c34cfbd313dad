package graft

import graft.envelope.ChangeEvent
import graft.job.{CdcJob, CdcJobConfig}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Dedup-state TTL (`dedupStateTtlMs`): per-key state expires after
  * inactivity, bounding state at 10^10-key scale — and expiry is SAFE:
  * a stale duplicate arriving after its key expired is re-admitted as an
  * idempotent extra row that the lake's monotone max-`__lsn` merge
  * resolves away. The TTL exists only where dedup state does: the specs
  * tail a jsonl log, and a parquet changelog into a lake (no state) is
  * refused.
  *
  * The TTL is a TAILING-mode feature: under `ProcessingTimeTimeout` the
  * engine reports should-run-another-batch on every batch, so an
  * AvailableNow replay would spin no-data micro-batches forever — the
  * job refuses that combination fail-fast (asserted below), and the
  * lake's empty-batch merges are version-neutral so the tailing ticks
  * don't churn versions.
  */
class DedupTtlSpec extends SparkSpec {

  private def ev(lsn: Long, key: String, content: String): ChangeEvent =
    ChangeEvent(lsn, "update", new java.sql.Timestamp(lsn * 1000L),
      "r", key, f"c$lsn%040d", "scala", content, Map.empty)

  /** One jsonl segment: an envelope JSON object per line. */
  private def writeSeg(logDir: String, seg: Int, events: Seq[ChangeEvent]): Unit = {
    import spark.implicits._
    events.toDS().select(to_json(struct(col("*"))).as("value"))
      .coalesce(1).write.text(f"$logDir/seg=$seg%03d")
  }

  test("TTL on a parquet changelog into a lake is refused: that path keeps no dedup state") {
    val root = tmpDir("ttl-stateless")
    val cfg = CdcJobConfig(logDir = s"$root/log", tablePath = s"$root/lake",
      checkpointDir = s"$root/ckpt", dedupStateTtlMs = Some(1000L))
    val e = intercept[IllegalArgumentException] {
      CdcJob(spark, cfg).start(Trigger.ProcessingTime(200L))
    }
    assert(e.getMessage.contains("dedupStateTtlMs") &&
      e.getMessage.contains("no dedup state"))
  }

  test("TTL + AvailableNow is refused fail-fast (the engine would never terminate)") {
    val root = tmpDir("ttl-reject")
    val cfg = CdcJobConfig(logDir = s"$root/log", tablePath = s"$root/lake",
      checkpointDir = s"$root/ckpt", format = "jsonl",
      dedupStateTtlMs = Some(1000L))
    val e = intercept[IllegalArgumentException] {
      CdcJob(spark, cfg).start(Trigger.AvailableNow())
    }
    assert(e.getMessage.contains("ProcessingTime"))
  }

  test("expired keys re-admit stale duplicates; the lake still converges (TTL bounds state, not correctness)") {
    val root = tmpDir("ttl")
    val logDir = s"$root/log"
    val cfg = CdcJobConfig(logDir = logDir, tablePath = s"$root/lake",
      checkpointDir = s"$root/ckpt", numBuckets = 2,
      maxFilesPerTrigger = 4, format = "jsonl", dedupStateTtlMs = Some(700L),
      checkpointId = "ttl")

    // key A advances to lsn 3 before the stream starts
    writeSeg(logDir, 0, Seq(
      ev(1, "A", "a-v1"), ev(2, "A", "a-v2"), ev(3, "A", "a-v3"),
      ev(10, "B", "b-v10")))

    // feeder: the redelivery must land in a LATER batch than A's expiry
    // tick — a key receiving data in the same batch as its due timeout
    // is served the data with state intact (the engine's correct
    // precedence). The first (data) batch can take many seconds cold, so
    // gate on the CHECKPOINT OFFSETS LOG: wait until at least three
    // post-data batches (state-timeout ticks) have been planned — by
    // then the 700 ms TTL has fired — and only then write the stale
    // A@lsn2.
    val feeder = new Thread(() => {
      val offsets = java.nio.file.Paths.get(s"$root/ckpt/offsets")
      def plannedBatches: Int =
        if (!java.nio.file.Files.isDirectory(offsets)) 0
        else {
          import scala.jdk.CollectionConverters._
          val l = java.nio.file.Files.list(offsets)
          try l.iterator().asScala
            .count(p => p.getFileName.toString.forall(_.isDigit))
          finally l.close()
        }
      val deadline = System.nanoTime() + 90L * 1000000000L
      while (plannedBatches < 4 && System.nanoTime() < deadline)
        Thread.sleep(100L)
      Thread.sleep(1000L) // the planned ticks have committed by now
      writeSeg(logDir, 1, Seq(ev(11, "B", "b-v11"), ev(2, "A", "a-v2")))
    })
    feeder.setDaemon(true)
    feeder.start()

    val job = CdcJob(spark, cfg)
    job.runFollowing(intervalMs = 200L, idleTimeoutMs = Some(8000L))
    feeder.join(30000L)

    // the stale redelivery passed the (expired) dedup and landed as an
    // extra delta row — proof the TTL actually fired...
    val rawA = job.lake.readRaw().filter(col("path") === "A")
      .select("__lsn").collect().map(_.getLong(0)).sorted
    assert(rawA.contains(2L),
      s"expected the re-admitted stale row (proves expiry), got ${rawA.toSeq}")

    // ...but the monotone MOR resolve still serves the newest state
    assert(job.lake.read().filter(col("path") === "A")
      .select("content").head().getString(0) === "a-v3")
    assert(job.lake.read().filter(col("path") === "B")
      .select("content").head().getString(0) === "b-v11")
  }
}
