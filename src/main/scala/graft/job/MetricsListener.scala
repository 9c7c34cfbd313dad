package graft.job

import org.apache.spark.sql.streaming.StreamingQueryListener
import java.util.concurrent.ConcurrentLinkedQueue

/** Per-micro-batch throughput metrics — the analog of the reference's
  * Prometheus endpoint (`internal/worker.go:93-108`), retained for the
  * ops endpoint's counters and for BENCH artifacts.
  */
class MetricsListener extends StreamingQueryListener {
  final case class BatchMetric(batchId: Long, inputRows: Long, durationMs: Long)

  val metrics = new ConcurrentLinkedQueue[BatchMetric]()

  // cumulative counters for the ops endpoint (drain() empties the queue,
  // so scrapes can't ride on it)
  val totalBatches = new java.util.concurrent.atomic.AtomicLong(0L)
  val totalRows = new java.util.concurrent.atomic.AtomicLong(0L)
  val lastBatchId = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Prometheus text rendering ≙ the reference's promhttp route
    * (`internal/worker.go:106-108`).
    */
  def prometheusText: String =
    s"""# TYPE graft_micro_batches_total counter
       |graft_micro_batches_total ${totalBatches.get}
       |# TYPE graft_input_rows_total counter
       |graft_input_rows_total ${totalRows.get}
       |# TYPE graft_last_batch_id gauge
       |graft_last_batch_id ${lastBatchId.get}
       |""".stripMargin

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val dur = Option(p.durationMs.get("triggerExecution"))
      .map(_.longValue).getOrElse(0L)
    if (p.numInputRows > 0 || dur > 0) {
      val m = BatchMetric(p.batchId, p.numInputRows, dur)
      totalBatches.incrementAndGet()
      totalRows.addAndGet(p.numInputRows)
      lastBatchId.set(p.batchId)
      metrics.add(m)
    }
  }

  def drain(): Seq[BatchMetric] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[BatchMetric]
    var m = metrics.poll()
    while (m != null) { out += m; m = metrics.poll() }
    out.toSeq
  }
}
