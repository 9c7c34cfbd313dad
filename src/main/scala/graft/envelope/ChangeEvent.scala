package graft.envelope

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The CDC change-event envelope — the "binlog record" the flagship job
  * tails. This is the Spark-native analog of a draethos source event
  * (key + schemaless payload, reference `internal/source/kafka.go:127-136`),
  * extended with the ordering/idempotence fields the north rule requires
  * and the reference lacks (it is order-blind, see SURVEY.md §2.6):
  *
  *  - `lsn`: global monotone commit sequence (monotone per `(repo,path)`);
  *    the dedup / exactly-once key.
  *  - `op`: `insert | update | delete` (reference pgsql = insert-if-absent
  *    `ON CONFLICT DO NOTHING`, mysql = `REPLACE INTO` last-write-wins;
  *    we keep last-write-wins, i.e. max-LSN-per-key).
  *  - `extra`: open-ended drift carrier — the analog of new fields showing
  *    up in a schemaless draethos record mid-stream, which triggered
  *    `ALTER TABLE ... ADD COLUMN` (`internal/target/pgsql.go:162-238`).
  */
case class ChangeEvent(
    lsn: Long,
    op: String,
    ts: java.sql.Timestamp,
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String,
    extra: Map[String, String])

object ChangeEvent {
  val Insert = "insert"
  val Update = "update"
  val Delete = "delete"

  implicit val encoder: Encoder[ChangeEvent] = Encoders.product[ChangeEvent]

  /** Envelope schema, fixed part. Drift fields ride in `extra`. */
  val schema: StructType = encoder.schema

  /** Per-key winner order of a batch, the one both CDC sinks rank by:
    * max `lsn` first; on an equal-lsn tie the delete wins (the lake's
    * cross-file resolve and the JDBC sink's `lsn <= ?` delete break it
    * the same way), then `op` descending so any other tie is decided too.
    */
  val winnerOrder: Seq[Column] =
    Seq(col("lsn").desc, (col("op") === Delete).desc, col("op").desc)

  /** Lake-table key columns, per BASELINE.json input_hint. */
  val keyCols: Seq[String] = Seq("repo", "path")

  /** Fixed (non-drift) lake columns. */
  val lakeCols: Seq[String] = Seq("repo", "path", "commit", "lang", "content")
}
