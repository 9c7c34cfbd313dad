package graft.dedup

import graft.envelope.ChangeEvent
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-key dedup state: the highest change-sequence number already emitted
  * downstream for a `(repo, path)` key. One Long per live key — the minimal
  * state that makes replay exactly-once and order-robust.
  */
final case class KeyProgress(maxEmittedLsn: Long)

/** Commit-sequence dedup in keyed state: `flatMapGroupsWithState` keyed
  * on `(repo, path)` holding the max emitted LSN per key. draethos keeps
  * no such state (it is order-blind and at-least-once; duplicates are
  * absorbed only by key-idempotent sinks, `internal/source/kafka.go:
  * 103-109` + `internal/target/mysql.go:23`).
  *
  * Semantics (order-independent convergence):
  *  - within a group-batch, events are sorted by `lsn` (group iterator
  *    order is not guaranteed);
  *  - an event is emitted iff its `lsn` exceeds everything already emitted
  *    for its key — exact redeliveries (same lsn) and stale out-of-order
  *    events (lower lsn than an already-applied change, e.g. an insert
  *    arriving after its key's delete) are dropped;
  *  - therefore the event with the key's maximum LSN is always emitted,
  *    and the final merged state equals the one-batch oracle reducer
  *    regardless of delivery order or duplication.
  *
  * Who needs it: a parquet changelog into a lake table does NOT — the
  * lake's merge picks one max-`__lsn` winner per key per batch, and every
  * reader and compaction resolves stale rows across batches, so keyed
  * state there only added a state stage and its commit to every batch
  * (`CdcJob.startLake`). The state stays where it carries a guarantee:
  *  - jsonl changelogs: malformed lines ride the stream keyed by content
  *    hash, and the state is what drops a redelivered bad line in a later
  *    batch, keeping the DLQ free of cross-batch duplicates
  *    (JsonlChangelogSpec pins it);
  *  - JDBC targets: the upsert has no LSN column to compare, so the state
  *    is their only per-key monotonicity (`JdbcUpsert.applyCdcBatch`).
  *
  * State is hash-partitioned by key and checkpointed by the engine —
  * resume-safe. CLI sessions run the RocksDB state store provider
  * (off-heap, spills to executor-local disk), so state size is bounded by
  * disk, not heap (BENCH.md "State store"). State never expires: an
  * expired key would re-admit a stale redelivery, which the JDBC upsert
  * would write over the newer row and the DLQ would record twice.
  */
object LsnDedup {

  implicit val keyProgressEnc: Encoder[KeyProgress] = Encoders.product[KeyProgress]
  implicit val keyEnc: Encoder[(String, String)] =
    Encoders.tuple(Encoders.STRING, Encoders.STRING)

  private def isDelete(e: ChangeEvent): Boolean = e.op == ChangeEvent.Delete

  def apply(events: Dataset[ChangeEvent]): Dataset[ChangeEvent] =
    preCombine(events).groupByKey(e => (e.repo, e.path))
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout)(dedupGroup)

  /** Partition-local pre-reduce (map-side combiner): keep only each key's
    * winner within an input partition before the key shuffle. Winner-max
    * is associative/commutative, so this never changes what dedupGroup
    * emits — it just cuts shuffle volume and per-event state-store work
    * by the duplication factor (large under Zipf-hot keys). The map is
    * capacity-capped and flushed so task memory stays bounded at any
    * scale (a flush only means some extra rows shuffle — still correct).
    */
  private[graft] def preCombine(events: Dataset[ChangeEvent],
      cap: Int = 1 << 16): Dataset[ChangeEvent] =
    events.mapPartitions { it =>
      val m = new java.util.HashMap[(String, String), ChangeEvent](1 << 12)
      val flushed = scala.collection.mutable.ArrayBuffer.empty[ChangeEvent]
      it.foreach { e =>
        val key = (e.repo, e.path)
        val cur = m.get(key)
        if (cur == null || beats(e, cur)) m.put(key, e)
        if (m.size > cap) {
          m.values.forEach(v => { flushed += v; () })
          m.clear()
        }
      }
      m.values.forEach(v => { flushed += v; () })
      flushed.iterator
    }

  /** Winner order: higher lsn wins; on an equal-lsn tie the delete wins —
    * the same tie-break as the lake's merge/resolve windows, so the dedup
    * layer can never mask a tombstone the merge would have preferred.
    */
  private def beats(a: ChangeEvent, b: ChangeEvent): Boolean =
    a.lsn > b.lsn || (a.lsn == b.lsn && isDelete(a) && !isDelete(b))

  /** Batch analog (for tests / batch replay): same semantics, no state. */
  def batch(events: Dataset[ChangeEvent]): Dataset[ChangeEvent] =
    events.groupByKey(e => (e.repo, e.path)).flatMapGroups {
      (_: (String, String), it: Iterator[ChangeEvent]) =>
        var last = Long.MinValue
        var lastDelete = false
        it.toArray
          .sortBy(e => (e.lsn, if (isDelete(e)) 1 else 0))
          .iterator.filter { e =>
            val del = isDelete(e)
            val keep = e.lsn > last || (e.lsn == last && del && !lastDelete)
            if (keep) { last = e.lsn; lastDelete = del }
            keep
          }
    }

  /** Emits at most ONE event per key per micro-batch: the key's highest
    * new LSN. Intermediate events within a batch can never surface in the
    * lake (last-write-wins), so emitting only the winner halves-or-better
    * the merge-shuffle volume on hot keys without changing convergence.
    *
    * Equal-LSN corner (LSNs are normally unique per logical event): a
    * delete at the current max LSN is still emitted — letting it through
    * costs one idempotent row, while suppressing it could mask a
    * tombstone the lake's delete-wins tie-break would have preferred,
    * making final state depend on batching.
    */
  private[graft] def dedupGroup(
      key: (String, String),
      events: Iterator[ChangeEvent],
      state: GroupState[KeyProgress]): Iterator[ChangeEvent] = {
    val already = state.getOption.map(_.maxEmittedLsn).getOrElse(Long.MinValue)
    var winner: ChangeEvent = null
    var max = already
    events.foreach { e =>
      val beats = e.lsn > max ||
        (e.lsn == max && isDelete(e) && (winner == null || !isDelete(winner)))
      if (beats) { max = e.lsn; winner = e }
    }
    if (winner != null) {
      if (max > already) state.update(KeyProgress(max))
      Iterator.single(winner)
    } else Iterator.empty
  }
}
