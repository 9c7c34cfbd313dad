package perfbench

import graft.lake.LakeTable
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The traced run's recorder. Spans have a name, start, end and parent and
  * share one trace id; they are kept in memory and written out by
  * [[finish]].
  *
  * Work `CdcJob` does inside `foreachBatch` is seen only through Spark's
  * public listener events: progress phases, and SQL-execution, job and
  * stage start/end, tied to a micro-batch by the `streaming.sql.batchId`
  * job property. A stage is charged to a layer by the operators in its
  * plan, never by call site (every streaming stage carries the same one):
  *
  *  - a stage running `FlatMapGroupsWithState`  -> dedup.state
  *  - other stages of that plan (scan + combine) -> dedup.scan_combine
  *  - a plan writing `data/v<N>/rewrite`        -> lake.compact
  *  - a plan writing `data/v<N>/delta`: its `WriteFiles` stage -> lake.merge,
  *    its map/broadcast stages (log re-read + semi-join, which also write
  *    the merge exchange) -> job.refetch
  *  - any other job of the batch (winner-file collect) -> job.refetch
  *
  * Batch time covered by no job is driver time (ledger check, manifest and
  * snapshot commit, in-batch planning).
  */
final class Tracer(spark: SparkSession, traceId: String) {

  final case class Span(id: Long, parent: Long, name: String, layer: String,
      start: Long, end: Long)

  private final case class JobRec(id: Int, start: Long, stageIds: Seq[Int],
      batchId: Option[Long], execId: Option[Long], phase: String) {
    @volatile var end: Long = -1L
  }
  private final case class ExecRec(nodes: Set[String], plan: String)
  private final case class QueryRec(phases: Map[String, Long], durationNs: Long)

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private var stack: List[Long] = Nil
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageInfo]()
  private val execs = new ConcurrentHashMap[Long, ExecRec]()
  private val queries = new ConcurrentLinkedQueue[QueryRec]()
  @volatile private var current = "replay"

  /** A span around one of the benchmark's own calls into the engine. */
  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    val t0 = System.currentTimeMillis()
    try body
    finally {
      stack = stack.tail
      spans.add(Span(id, parent, name, name.takeWhile(_ != '.'), t0,
        System.currentTimeMillis()))
    }
  }

  /** Names the benchmark phase that jobs started from now on belong to:
    * "replay" (the timed region, the initial phase), "oracle", "read"
    * (scans + lookups: the `query` layer's sample) or "after".
    */
  def phase(name: String): Unit = current = name

  private def nodeNames(p: SparkPlanInfo): Set[String] =
    p.children.flatMap(nodeNames).toSet + p.nodeName

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      jobs.put(e.jobId, JobRec(e.jobId, e.time, e.stageIds,
        prop("streaming.sql.batchId").map(_.toLong),
        prop("spark.sql.execution.id").map(_.toLong), current))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.put(e.stageInfo.stageId, e.stageInfo)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      val rows = m.shuffleReadMetrics.recordsRead + m.inputMetrics.recordsRead
      taskRows.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]()).add(rows)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, ExecRec(
          Option(s.sparkPlanInfo).map(nodeNames).getOrElse(Set.empty),
          Option(s.physicalPlanDescription).getOrElse("")))
      case _ =>
    }
  }
  private val taskRows = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (current == "read") queries.add(QueryRec(
        qe.tracker.phases.map { case (k, v) => k -> v.durationMs }, durationNs))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)

  // -- attribution -------------------------------------------------------------

  /** The layer of every stage of a job outside a micro-batch. */
  private def outsideBatch(job: JobRec): Option[String] =
    if (job.phase == "read") Some("query")
    else if (job.phase != "replay") Some("outside")
    else if (job.batchId.isEmpty) Some("lake.scan") // the convergence barrier
    else None

  private def stageLayer(st: StageInfo, exec: Option[ExecRec], job: JobRec,
      jobHasState: Boolean): String = {
    val plan = exec.map(_.plan).getOrElse("")
    outsideBatch(job).getOrElse {
      if (isState(st)) "dedup.state"
      else if (jobHasState || exec.exists(_.nodes.exists(_.contains("FlatMapGroupsWithState"))))
        "dedup.scan_combine"
      else if (plan.contains("/rewrite")) "lake.compact"
      else if (plan.contains("/delta") && st.rddInfos.exists(_.scope.exists(_.name == "WriteFiles")))
        "lake.merge"
      else "job.refetch"
    }
  }

  private def isState(st: StageInfo): Boolean =
    st.rddInfos.exists(_.scope.exists(_.name.contains("FlatMapGroupsWithState")))

  /** Layer group of a stage layer for the cpu/gc/spill rows. */
  private def group(layer: String): String = layer.takeWhile(_ != '.')

  /** Parses a progress timestamp (ISO-8601, UTC) to epoch ms. */
  private def epochMs(ts: String): Long = java.time.Instant.parse(ts).toEpochMilli

  /** Computes the per-layer metrics of the timed replay (whose micro-batch
    * progress is `batches`) and read phase, writes every span to
    * `spansFile`, and detaches the listeners.
    */
  def finish(batches: Seq[StreamingQueryProgress], lake: LakeTable,
      lookupKeys: Seq[(String, String)], spansFile: String): Map[String, Any] = {
    // listener events arrive asynchronously but in order (a job's stage and
    // task events precede its end): wait until every job seen has ended
    // and no new job has appeared for 200 ms
    val deadline = System.currentTimeMillis() + 30000L
    var seen = -1
    while ((seen != jobs.size || !jobs.values.asScala.forall(_.end >= 0)) &&
        System.currentTimeMillis() < deadline) {
      seen = jobs.size
      Thread.sleep(200)
    }
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)

    val allJobs = jobs.values.asScala.toSeq.sortBy(_.id)
    val layerOf = mutable.Map.empty[Int, String] // stageId -> layer
    val jobLayer = mutable.Map.empty[Int, String]
    allJobs.foreach { j =>
      val exec = j.execId.flatMap(id => Option(execs.get(id)))
      val recs = j.stageIds.flatMap(id => Option(stages.get(id)))
      val hasState = recs.exists(isState)
      val ls = recs.map { s =>
        val l = stageLayer(s, exec, j, hasState)
        layerOf(s.stageId) = l
        (l, s.completionTime.getOrElse(0L) - s.submissionTime.getOrElse(0L))
      }
      jobLayer(j.id) =
        if (ls.nonEmpty) ls.maxBy(_._2)._1 else outsideBatch(j).getOrElse("job.refetch")
    }
    def recs(p: String => Boolean): Seq[StageInfo] =
      stages.values.asScala.toSeq.filter(s => layerOf.get(s.stageId).exists(p))
    def sum(ss: Seq[StageInfo])(f: StageInfo => Long): Long = ss.map(f).sum

    // per-batch self time: trigger = phases; addBatch = time covered by the
    // batch's jobs (split across the stages/jobs running in each instant)
    // + driver time covered by none
    val perBatch = batches.map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap
      val trigger = d.getOrElse("triggerExecution", 0L)
      val bJobs = allJobs.filter(j => j.batchId.contains(p.batchId) && j.phase == "replay" &&
        j.end >= 0)
      val covered = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val ivs: Seq[(Long, Long, String, Boolean)] = bJobs.flatMap { j =>
        (j.start, j.end, jobLayer(j.id), false) +: j.stageIds.flatMap(id => Option(stages.get(id)))
          .flatMap(s => for (a <- s.submissionTime; b <- s.completionTime)
            yield (a, b, layerOf(s.stageId), true))
      }
      val cuts = ivs.flatMap(i => Seq(i._1, i._2)).distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val live = ivs.filter(i => i._1 <= a && i._2 >= b)
        val st = live.filter(_._4)
        val who = if (st.nonEmpty) st else live
        who.foreach(i => covered(i._3) += (b - a).toDouble / who.size)
      }
      val addBatch = d.getOrElse("addBatch", 0L)
      val plan = d.getOrElse("queryPlanning", 0L)
      val wal = d.getOrElse("walCommit", 0L)
      val offsets = d.filter { case (k, _) =>
        !Set("triggerExecution", "addBatch", "queryPlanning", "walCommit")(k) }.values.sum
      val driver = addBatch - covered.values.sum
      val layers = covered.toMap ++ Map(
        "job.plan" -> plan.toDouble, "job.offsets" -> offsets.toDouble,
        "job.wal" -> wal.toDouble, "job.driver" -> driver)
      val start = epochMs(p.timestamp)
      val trigId = ids.incrementAndGet()
      spans.add(Span(trigId, 0L, s"trigger.${p.batchId}", "job", start, start + trigger))
      bJobs.foreach { j =>
        val jid = ids.incrementAndGet()
        spans.add(Span(jid, trigId, s"job.${j.id}", jobLayer(j.id), j.start, j.end))
        j.stageIds.flatMap(id => Option(stages.get(id))).foreach { s =>
          for (a <- s.submissionTime; b <- s.completionTime)
            spans.add(Span(ids.incrementAndGet(), jid, s"stage.${s.stageId}",
              layerOf(s.stageId), a, b))
        }
      }
      (p, trigger.toDouble, layers)
    }
    def lsum(k: String) = perBatch.map(_._3.getOrElse(k, 0.0)).sum
    val layerSumErr = perBatch.map { case (_, trig, ls) =>
      if (trig <= 0) 0.0 else math.abs(ls.values.sum - trig) / trig }

    val ops = batches.flatMap(_.stateOperators.toSeq)
    def opSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) = ops.map(f).sum
    def custom(k: String) = ops.map(o => Option(o.customMetrics.get(k)).map(_.toLong).getOrElse(0L)).sum

    val scanCombine = recs(_ == "dedup.scan_combine")
    val state = recs(_ == "dedup.state")
    val merge = recs(_ == "lake.merge")
    val refetch = recs(_ == "job.refetch")
    val compact = recs(_ == "lake.compact")
    val read = recs(_ == "query")
    val skew = merge.flatMap { s =>
      val rows = Option(taskRows.get(s.stageId)).map(_.asScala.toSeq).getOrElse(Nil)
      if (rows.isEmpty || rows.sum == 0) None
      else Some(rows.max.toDouble / (rows.sum.toDouble / rows.size))
    }

    val snap = lake.currentSnapshot.get
    val files = lake.filesOf(snap)
    val tableDir = Paths.get(lake.tablePath)
    def dirs(kind: String): Seq[java.nio.file.Path] = {
      val data = tableDir.resolve("data")
      if (!Files.exists(data)) Nil
      else {
        val st = Files.list(data)
        try st.iterator().asScala.map(_.resolve(kind)).filter(Files.exists(_)).toSeq
        finally st.close()
      }
    }
    def parquet(ds: Seq[java.nio.file.Path]): (Long, Long) =
      ds.map { d =>
        val st = Files.walk(d)
        try st.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
        finally st.close()
      }.foldLeft((0L, 0L)) { case ((b, n), (x, y)) => (b + x, n + y) }
    val (deltaBytes, deltaFiles) = parquet(dirs("delta"))
    val (compactBytes, _) = parquet(dirs("rewrite"))
    val lookupFiles = {
      import spark.implicits._
      val bs = lookupKeys.toDF("repo", "path")
        .select(pmod(xxhash64(col("repo"), col("path")), lit(snap.numBuckets)).cast("string"))
        .collect().map(_.getString(0))
      if (bs.isEmpty) 0.0 else bs.map(b => files.getOrElse(b, Nil).size).sum.toDouble / bs.length
    }
    val qs = queries.asScala.toSeq
    def qPhase(k: String) = qs.map(_.phases.getOrElse(k, 0L)).sum.toDouble

    val metrics = mutable.LinkedHashMap[String, Double](
      "job.trigger_ms" -> perBatch.map(_._2).sum,
      "job.plan_ms" -> lsum("job.plan"),
      "job.offsets_ms" -> lsum("job.offsets"),
      "job.wal_ms" -> lsum("job.wal"),
      "job.refetch_ms" -> lsum("job.refetch"),
      "job.driver_ms" -> lsum("job.driver"),
      "dedup.scan_combine_ms" -> lsum("dedup.scan_combine"),
      "dedup.state_stage_ms" -> lsum("dedup.state"),
      "dedup.shuffle_bytes" -> sum(scanCombine)(_.taskMetrics.shuffleWriteMetrics.bytesWritten).toDouble,
      "dedup.combine_ratio" -> ratio(
        sum(scanCombine)(_.taskMetrics.shuffleWriteMetrics.recordsWritten),
        sum(scanCombine)(_.taskMetrics.inputMetrics.recordsRead)),
      "dedup.state_update_ms" -> opSum(_.allUpdatesTimeMs).toDouble,
      "dedup.state_commit_ms" -> opSum(_.commitTimeMs).toDouble,
      "dedup.state_rows_updated" -> opSum(_.numRowsUpdated).toDouble,
      "dedup.emit_ratio" -> ratio(
        sum(merge)(_.taskMetrics.outputMetrics.recordsWritten),
        sum(state)(_.taskMetrics.shuffleReadMetrics.recordsRead)),
      "dedup.state_mem_bytes" -> (if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes).max.toDouble),
      "dedup.rocksdb_bytes_written" -> custom("rocksdbTotalBytesWritten").toDouble,
      "dedup.rocksdb_fsync_ms" -> custom("rocksdbCommitFileSyncLatencyMs").toDouble,
      "lake.merge_ms" -> lsum("lake.merge"),
      "lake.merge_shuffle_bytes" -> sum(refetch)(_.taskMetrics.shuffleWriteMetrics.bytesWritten).toDouble,
      "lake.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "lake.delta_files" -> deltaFiles.toDouble,
      "lake.delta_bytes" -> deltaBytes.toDouble,
      "lake.compact_ms" -> lsum("lake.compact"),
      "lake.compact_bytes" -> compactBytes.toDouble,
      "lake.compactions" -> dirs("rewrite").size.toDouble,
      "lake.live_files" -> files.values.map(_.size).sum.toDouble,
      "lake.max_files_per_bucket" -> (if (files.isEmpty) 0.0 else files.values.map(_.size).max.toDouble),
      "lake.manifest_chain" -> snap.manifests.size.toDouble,
      "lake.scan_files" -> files.values.map(_.size).sum.toDouble,
      "lake.lookup_files" -> lookupFiles,
      "query.analysis_ms" -> qPhase(org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS),
      "query.optimization_ms" -> qPhase(org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION),
      "query.planning_ms" -> qPhase(org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING),
      "query.exec_ms" -> qs.map(_.durationNs).sum / 1e6,
      "query.actions" -> qs.size.toDouble,
      "query.jobs" -> allJobs.count(_.phase == "read").toDouble,
      "query.shuffle_bytes" -> sum(read)(_.taskMetrics.shuffleWriteMetrics.bytesWritten).toDouble,
      "trace.layer_sum_err_max" -> (if (layerSumErr.isEmpty) 0.0 else layerSumErr.max))
    Seq("dedup", "lake", "job", "query").foreach { g =>
      val ss = recs(l => group(l) == g)
      metrics(s"$g.cpu_ms") = sum(ss)(_.taskMetrics.executorCpuTime) / 1e6
      metrics(s"$g.gc_ms") = sum(ss)(_.taskMetrics.jvmGCTime).toDouble
      metrics(s"$g.spill_bytes") =
        sum(ss)(s => s.taskMetrics.memoryBytesSpilled + s.taskMetrics.diskBytesSpilled).toDouble
    }

    val w = Files.newBufferedWriter(Paths.get(spansFile))
    try spans.asScala.toSeq.sortBy(_.start).foreach { s =>
      w.write(Json.write(Map("trace_id" -> traceId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end)))
      w.newLine()
    } finally w.close()

    Map(
      "metrics" -> metrics,
      "per_batch" -> perBatch.map { case (p, trig, ls) =>
        Map("batch" -> p.batchId, "rows" -> p.numInputRows, "trigger_ms" -> trig,
          "layers_ms" -> ls, "durations_ms" -> p.durationMs.asScala.toMap,
          "state_custom" -> p.stateOperators.headOption.map(_.customMetrics.asScala.toMap)
            .getOrElse(Map.empty))
      },
      // the attribution, auditable: stage id, layer, operator scopes
      "stage_layers" -> stages.values.asScala.toSeq.sortBy(_.stageId).map { s =>
        s"${s.stageId} ${layerOf.getOrElse(s.stageId, "?")} " +
          s.rddInfos.flatMap(_.scope.map(_.name)).distinct.mkString("|")
      },
      "spans" -> spans.size)
  }

  private def ratio(a: Long, b: Long): Double = if (b == 0) 0.0 else a.toDouble / b
}
