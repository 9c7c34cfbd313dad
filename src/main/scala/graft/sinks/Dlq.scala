package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The dead-letter queue: malformed input lines as parquet rows
  * `(raw, dlq_ts)` in one directory, read back with
  * `spark.read.parquet(dir)`. The reference logs-and-drops them
  * (`internal/source/kafka.go:93-97`).
  *
  * Exactly once per batch: a batch's lines go into ONE file named by
  * pipeline and batch id, renamed into place from a staging directory
  * that Spark's readers skip (a `_` prefix), so a replayed batch finds
  * its file and writes nothing. A line that another batch's file already
  * holds is left out (an anti-join on `raw`, run only when the batch has
  * malformed lines), and so is a repeat within the batch.
  */
object Dlq {

  private val Schema = StructType.fromDDL("raw STRING, dlq_ts TIMESTAMP")

  /** Add `lines` (a `raw` string column) as the DLQ file of
    * `(pipeline, batchId)` under `dir`; returns how many lines it added.
    */
  def write(lines: DataFrame, dir: String, pipeline: String, batchId: Long): Long = {
    val spark = lines.sparkSession
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val name = s"dlq-${pipeline.replaceAll("[^A-Za-z0-9.-]", "_")}-$batchId"
    val target = new Path(root, s"$name.parquet")
    val staging = new Path(root, s"_staging-$name")
    fs.delete(staging, true) // an earlier attempt's leftover
    if (fs.exists(target) || lines.isEmpty) return 0L
    val held =
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).map(_.toString).toSeq
    val raw = lines.select("raw")
    val fresh =
      if (held.isEmpty) raw
      else raw.join(spark.read.schema(Schema).parquet(held: _*).select("raw"),
        Seq("raw"), "left_anti")
    val obs = Observation("graft_dlq")
    fresh.distinct().observe(obs, count(lit(1)).as("n"))
      .withColumn("dlq_ts", current_timestamp())
      .coalesce(1).write.parquet(staging.toString)
    fs.listStatus(staging).map(_.getPath).find(_.getName.endsWith(".parquet"))
      .foreach { f =>
        if (!fs.rename(f, target))
          throw new java.io.IOException(s"DLQ: cannot rename $f to $target")
      }
    fs.delete(staging, true)
    obs.get("n").asInstanceOf[Long]
  }
}
