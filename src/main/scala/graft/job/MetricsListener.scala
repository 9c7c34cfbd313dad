package graft.job

import org.apache.spark.sql.streaming.StreamingQueryListener
import java.util.concurrent.atomic.AtomicLong

/** Cumulative micro-batch counters for the ops endpoint — the analog of
  * the reference's Prometheus endpoint (`internal/worker.go:93-108`).
  */
class MetricsListener extends StreamingQueryListener {
  val totalBatches = new AtomicLong(0L)
  val totalRows = new AtomicLong(0L)
  val lastBatchId = new AtomicLong(-1L)

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
      totalBatches.incrementAndGet()
      totalRows.addAndGet(p.numInputRows)
      lastBatchId.set(p.batchId)
    }
  }
}
