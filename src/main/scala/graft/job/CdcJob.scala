package graft.job

import graft.envelope.ChangeEvent
import graft.lake.{LakeTable, MergeStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import java.util.concurrent.ConcurrentLinkedQueue

/** Configuration of the flagship CDC replay job — the Spark-native analog
  * of a draethos pipeline spec (`pkg/streams/specs/stream.go:3-65`):
  * one source (the ordered change log), one target (the lake table), one
  * DLQ, and the batch-size knob.
  */
final case class CdcJobConfig(
    logDir: String,
    tablePath: String,
    checkpointDir: String,
    dlqDir: Option[String] = None,
    keyCols: Seq[String] = ChangeEvent.keyCols,
    numBuckets: Int = 32,
    maxFilesPerTrigger: Int = 2,
    // when set, micro-batches are bounded by BYTES of source files instead
    // of file count — the backpressure knob that stays correct when
    // segment sizes vary (a file-count bound ties batch size to segment
    // layout). Maps to the file source's `maxBytesPerTrigger`; overrides
    // maxFilesPerTrigger when both are set.
    maxBytesPerTrigger: Option[Long] = None,
    // changelog encoding: "parquet" (typed segments) or "jsonl" (raw text
    // lines decoded by `codec` — the draethos kafka shape; malformed
    // lines DLQ)
    format: String = "parquet",
    // text-changelog codec ≙ the reference dispatcher
    // (`internal/context/codec.go:15-27`, whose xml→yaml bug we don't
    // copy): json | xml (native expressions) | yaml (transcoded to JSON
    // per partition, then the JSON path)
    codec: String = "json",
    // runId-agnostic identity of this pipeline for the exactly-once ledger
    checkpointId: String = "cdc",
    // when set, micro-batches upsert into a JDBC table (≙ the reference's
    // kafka→pgsql/mysql pipelines) instead of the lake; the applied-batch
    // ledger lives in the target database
    jdbcSink: Option[graft.sinks.JdbcUpsert.Config] = None)

/** The flagship job: tail the ordered change log with a Structured
  * Streaming file source and apply each micro-batch to the sink inside
  * `foreachBatch` with an idempotent commit. One start path for every
  * source format and target: `readStream → foreachBatch { DLQ split
  * (jsonl only) → sink }`, with no keyed state. The sinks hold the
  * per-key max-LSN guarantee, as draethos's key-idempotent sinks do
  * (`internal/target/pgsql.go:22-33`, `mysql.go:22-35`):
  *
  *  - lake: the merge's one exchange and winner window reduce each batch
  *    to one max-`lsn` row per key, and a stale event from a later batch
  *    lands as an idempotent delta row that loses at read and in
  *    compaction;
  *  - JDBC: the guarded upsert and delete of
  *    [[graft.sinks.JdbcUpsert.applyCdcBatch]] compare the stored row's
  *    `lsn` and the key's tombstone.
  *
  * Pipeline ≙ draethos `source → codec → Attach → CanFlush → Flush →
  * commit offsets` (`internal/source/kafka.go:84-118`), with the same
  * "sink write before offset commit" order — but upgraded from
  * at-least-once to exactly-once by the ledgered snapshot commit
  * (SURVEY.md §2.6).
  */
class CdcJob(spark: SparkSession, cfg: CdcJobConfig) {

  lazy val lake: LakeTable = LakeTable(spark, cfg.tablePath, cfg.keyCols, cfg.numBuckets)

  /** Lake base schema = fixed envelope value columns (drift columns are
    * added by auto-ALTER as they appear).
    */
  private val baseSchema: StructType =
    StructType(ChangeEvent.schema.fields.filter(f =>
      ChangeEvent.lakeCols.contains(f.name)))

  /** Per-micro-batch merge stats, drained by callers for metrics. */
  val stats = new ConcurrentLinkedQueue[MergeStats]()
  def drainStats(): Seq[MergeStats] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[MergeStats]
    var s = stats.poll()
    while (s != null) { out += s; s = stats.poll() }
    out.toSeq
  }

  /** Micro-batch bound on the file source: bytes when configured (the
    * knob that stays meaningful across segment layouts), else file count.
    */
  private def bounded(r: org.apache.spark.sql.streaming.DataStreamReader)
      : org.apache.spark.sql.streaming.DataStreamReader =
    cfg.maxBytesPerTrigger match {
      case Some(b) => r.option("maxBytesPerTrigger", b)
      case None => r.option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
    }

  /** Build (but do not await) the streaming query, after refusing a
    * checkpoint that the stateful pipeline wrote.
    *
    * A parquet changelog into a lake hands each micro-batch straight to
    * `lake.merge`: a non-compacting batch runs the merge's map stage and
    * its write, nothing else. Exactly-once needs no separate ledger
    * probe: `merge` (and [[applyJdbc]]) returns a skipped no-op for a
    * batch id the sink's ledger already holds — the crash window between
    * the sink commit and the engine's batch commit.
    */
  def start(trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    refuseStatefulCheckpoint()
    val events = cfg.format match {
      case "parquet" => parquetEvents
      case "jsonl" =>
        CdcJob.decodeLines(bounded(spark.readStream).text(s"${cfg.logDir}/seg=*"), cfg.codec)
      case other =>
        throw new IllegalArgumentException(s"changelog format $other not implemented")
    }
    if (cfg.jdbcSink.isEmpty) lake.createIfAbsent(baseSchema)
    events.writeStream
      .queryName(s"graft-cdc-${cfg.checkpointId}")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val good = if (cfg.format == "jsonl") dropMalformed(batch, batchId) else batch
        stats.add(cfg.jdbcSink match {
          case Some(j) => applyJdbc(good, j, batchId)
          case None => lake.merge(good, cfg.checkpointId, batchId)
        }); ()
      }
      .start()
  }

  /** A checkpoint written while CDC pipelines kept keyed dedup state has
    * a `state/` directory whose operator metadata the stateless plan
    * cannot match; Spark would fail the restart with an opaque
    * `STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA`.
    */
  private def refuseStatefulCheckpoint(): Unit = {
    val state = new org.apache.hadoop.fs.Path(cfg.checkpointDir, "state")
    val fs = state.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(state))
      throw new IllegalStateException(
        s"checkpoint ${cfg.checkpointDir} was written by the stateful " +
          "dedup pipeline (it has a state/ directory); CDC pipelines now " +
          "run without dedup state and cannot resume it. Restart with a " +
          "new checkpointDir AND a new checkpointId: the log replays from " +
          "the start and the sink's max-lsn apply converges, while a " +
          "reused checkpointId would make the sink's ledger skip the " +
          "restarted batch ids.")
  }

  /** The changelog's parquet segments as full envelope rows. */
  private def parquetEvents: DataFrame =
    bounded(spark.readStream.schema(ChangeEvent.schema))
      .parquet(s"${cfg.logDir}/seg=*")
      .withColumn("extra", coalesce(col("extra"), map()))

  /** A jsonl micro-batch minus its malformed lines. With a DLQ they go
    * there first, exactly once per batch ([[graft.sinks.Dlq]]); the batch
    * is materialized once so the DLQ split and the sink share one decode.
    */
  private def dropMalformed(batch: DataFrame, batchId: Long): DataFrame = {
    val bad = col("op") === CdcJob.DlqOp
    cfg.dlqDir.fold(batch) { dir =>
      val df = graft.util.Materialize.barrier(batch)
      graft.sinks.Dlq.write(df.filter(bad).select(col("content").as("raw")),
        dir, cfg.checkpointId, batchId)
      df
    }.filter(!bad)
  }

  /** JDBC micro-batch apply ≙ a reference pgsql/mysql Flush: one
    * aggregate counts the batch and finds its drift keys, which are
    * lifted out of `extra` into top-level columns (they become ALTERed
    * columns, `pgsql.go:162-238`); then the one-pass lsn-guarded apply.
    * A batch runs three Spark actions: this aggregate, the sink's length
    * probe and its write. A batch id the ledger already holds is a
    * skipped no-op, as in `LakeTable.merge`. The ledger row is recorded
    * after the data commit — same sink-before-offsets order as the
    * reference, exactly-once at batch granularity, residual overlap
    * absorbed by the lsn guards.
    */
  private def applyJdbc(batch: DataFrame, j: graft.sinks.JdbcUpsert.Config,
      batchId: Long): MergeStats = {
    if (graft.sinks.JdbcUpsert.isApplied(j.url, cfg.checkpointId, batchId))
      return MergeStats(-1L, batchId, skippedAsApplied = true, 0L, 0L, 0L, Nil)
    // the drift-key expression of LakeTable.merge's observe()
    val agg = batch.agg(count(lit(1)),
      array_distinct(flatten(collect_set(map_keys(col("extra")))))).head()
    val n = agg.getLong(0)
    val driftKeys = agg.getSeq[String](1).sorted
      // a drift key named like an envelope/key column (lsn, op, repo, …)
      // must not overwrite it — that would corrupt the winner reduction
      // and the JDBC key columns. Same guard as the lake side, where
      // base columns always win over the extra map.
      .filterNot(batch.columns.contains)
    val lifted = driftKeys.foldLeft(batch) { (d, k) =>
      d.withColumn(k, element_at(col("extra"), k))
    }.drop("extra")
    val (up, del) = graft.sinks.JdbcUpsert.applyCdcBatch(lifted, j)
    graft.sinks.JdbcUpsert.recordApplied(j.url, cfg.checkpointId, batchId)
    MergeStats(-1L, batchId, skippedAsApplied = false, n, up, del, driftKeys)
  }

  /** Run to end-of-log (AvailableNow) and block until done. */
  def runToCompletion(): Seq[MergeStats] = {
    val q = start(Trigger.AvailableNow())
    q.awaitTermination()
    drainStats()
  }

  /** Tail the log forever with a ProcessingTime trigger ≙ the reference's
    * main poll loop (`internal/source/kafka.go:84-118`, which only exits
    * on signal/EOF-config). With `idleTimeoutMs` set, stop gracefully
    * after that long without new data — the testable analog of the
    * reference's `enable.partition.eof` drain, and a natural CLI knob for
    * catch-up-then-exit runs.
    */
  def runFollowing(intervalMs: Long,
      idleTimeoutMs: Option[Long] = None): Seq[MergeStats] = {
    val q = start(Trigger.ProcessingTime(intervalMs))
    // SIGINT/SIGTERM drain ≙ the reference's signal handler
    // (`internal/source/kafka.go:73-82`): stop the query gracefully — the
    // in-flight batch completes or replays from checkpoint on restart
    val hook = new Thread(() => if (q.isActive) q.stop())
    Runtime.getRuntime.addShutdownHook(hook)
    try idleTimeoutMs match {
      case None => q.awaitTermination()
      case Some(idle) =>
        var lastData = System.nanoTime()
        var lastSeenBatch = -1L
        def idleExceeded = (System.nanoTime() - lastData) / 1e6 >= idle
        // `lastProgress != null` gate: never stop before the engine has
        // reported at least one (possibly empty) batch — a cold first
        // batch can take longer than the idle window.
        //
        // The exit gate is "no UNPROCESSED data" (isDataAvailable); the
        // drain loop below keeps the catch-up guarantee for a data batch
        // still in flight. Stopping during a no-data batch is safe too —
        // it replays as a no-op.
        var stopping = false
        while (q.isActive && !stopping) {
          val p = q.lastProgress
          if (p != null && p.batchId > lastSeenBatch && p.numInputRows > 0) {
            lastSeenBatch = p.batchId
            lastData = System.nanoTime()
          }
          if (idleExceeded && !q.status.isDataAvailable && p != null) {
            // drain the batch in flight NOW (bounded) — if it was a DATA
            // batch, its completion shows up as fresh progress in the
            // grace re-check below and we keep running. Wait for that one
            // batch only: it ends when the trigger goes idle or a later
            // batch has reported.
            val drainDeadline = System.nanoTime() + 30L * 1000000000L
            def drained = !q.status.isTriggerActive ||
              Option(q.lastProgress).exists(_.batchId > p.batchId)
            while (!drained && System.nanoTime() < drainDeadline)
              Thread.sleep(50)
            // grace re-check: files that landed in the last instants may
            // not have been seen by a source poll yet — give the engine
            // two more trigger intervals and only stop if still nothing
            Thread.sleep(math.max(2 * intervalMs, 1000L))
            val p2 = q.lastProgress
            val sawData = p2 != null && p2.batchId > lastSeenBatch && p2.numInputRows > 0
            if (!sawData && !q.status.isDataAvailable) stopping = true
          } else Thread.sleep(50)
        }
        if (q.isActive) q.stop()
        q.awaitTermination()
    } finally {
      try Runtime.getRuntime.removeShutdownHook(hook)
      catch { case _: IllegalStateException => () } // JVM already exiting
    }
    drainStats()
  }

  /** The independent one-batch oracle applied to an arbitrary envelope
    * DataFrame: latest-lsn winner per key, deletes dropped — what the
    * reference's key-idempotent sink converges to.
    */
  def oracleOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // equal-lsn tie-break: delete wins — aligned with LakeTable's
    // within-batch winner window AND its cross-file resolve()
    val w = Window.partitionBy(cfg.keyCols.map(col): _*)
      .orderBy(col("lsn").desc, (col("op") === "delete").desc, col("op").desc)
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("op") =!= "delete")
      .drop("__rn")
  }
}

object CdcJob {
  def apply(spark: SparkSession, cfg: CdcJobConfig): CdcJob = new CdcJob(spark, cfg)

  /** Marker op of a malformed text-changelog line; such rows go to the
    * DLQ and never reach a sink.
    */
  val DlqOp = "__dlq"

  /** Text changelog lines (a `value` column, batch or streaming) decoded
    * by `codec` into envelope rows: raw text + codec ≙ the draethos
    * kafka-source + codec path (`internal/source/kafka.go:130`,
    * `internal/codec/{json,xml,yaml}.go`). A line that fails to decode,
    * or lacks `lsn`, `op`, `repo` or `path` (≙ dispatcher validation the
    * reference lacks), becomes a [[DlqOp]] row carrying the line as its
    * `content`, instead of being logged-and-dropped like the reference
    * (`kafka.go:93-97`). json/xml decode through native expressions
    * (codegen'd); yaml — which has no SQL expression — transcodes to JSON
    * lines per partition and rides the same path, so malformed yaml
    * reaches the DLQ as the original line too.
    */
  def decodeLines(lines: DataFrame, codec: String): DataFrame = {
    val raw = if (codec == "yaml") yamlToJsonLines(lines) else lines
    val envelope = codec match {
      case "xml" => from_xml(col("value"), ChangeEvent.schema)
      case _ => from_json(col("value"), ChangeEvent.schema)
    }
    val valid = col("__p").isNotNull && col("__p.lsn").isNotNull &&
      col("__p.op").isNotNull && col("__p.repo").isNotNull &&
      col("__p.path").isNotNull
    raw
      .withColumn("__p", envelope)
      .select(
        col("__p.lsn").as("lsn"),
        when(valid, col("__p.op")).otherwise(lit(DlqOp)).as("op"),
        coalesce(col("__p.ts"), lit(new java.sql.Timestamp(0))).as("ts"),
        col("__p.repo").as("repo"),
        col("__p.path").as("path"),
        coalesce(col("__p.commit"), lit("")).as("commit"),
        coalesce(col("__p.lang"), lit("")).as("lang"),
        when(valid, coalesce(col("__p.content"), lit("")))
          .otherwise(col("value")).as("content"),
        coalesce(col("__p.extra"), map()).as("extra"))
  }

  /** YAML→JSON transcode, one line per record: snakeyaml parse + jackson
    * re-encode inside `mapPartitions` (the documented per-record
    * imperative case — YAML has no Catalyst expression). A line that
    * fails to parse as a YAML mapping passes through VERBATIM, so the
    * downstream `from_json` rejects it into the DLQ carrying the
    * original bytes. Works on batch and streaming inputs alike.
    */
  private def yamlToJsonLines(raw: DataFrame): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    raw.select(col("value").cast("string")).as[String].mapPartitions { it =>
      val yaml = new org.yaml.snakeyaml.Yaml()
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
      it.map { line =>
        try yaml.load[Object](line) match {
          case m: java.util.Map[_, _] => json.writeValueAsString(m)
          case _ => line // scalar/sequence/empty: not an envelope mapping
        } catch { case scala.util.control.NonFatal(_) => line }
      }
    }.toDF("value")
  }
}
