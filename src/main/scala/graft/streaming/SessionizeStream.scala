package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-key sessionization state: event times (epoch micros) not yet
  * folded into a finalized session, plus the count of sessions already
  * emitted (so `session_seq` stays continuous across micro-batches and
  * restarts — it is checkpointed with the state).
  */
final case class SessionBuffer(pendingMicros: Seq[Long], emitted: Long)

/** One finalized session — identical shape and semantics to a row of
  * [[graft.operators.Relational.sessionize]].
  */
final case class SessionRow(
    user_id: Long, session_seq: Long, n_events: Long,
    session_start: Timestamp, session_end: Timestamp)

/** Streaming gap-sessionization: the stateful, incremental counterpart
  * of the batch [[graft.operators.Relational.sessionize]], built on
  * `flatMapGroupsWithState` with **event-time timeout** — one of the
  * two stateful operators in this repo, next to EventRollup (watermarked
  * windows); the CDC pipelines keep no keyed state.
  *
  * Semantics are IDENTICAL to the batch operator (splits on gaps
  * strictly greater than `gapSeconds`, microsecond-exact), which the
  * spec pins by running both over the same log:
  *
  *  - arriving events buffer per key (out-of-order arrival inside the
  *    watermark delay is fine — the buffer is re-sorted per invocation);
  *  - a session finalizes only when `session_end + gap <` the current
  *    event-time watermark: any event the watermark still admits has
  *    `ts ≥ watermark`, so it could at best start at the gap boundary
  *    (`ts − end == gap` joins — strict-split semantics), meaning no
  *    admissible future event can extend or bridge the session;
  *  - sessions are emitted in time order with a per-key cumulative
  *    `session_seq` carried in state;
  *  - keys with buffered events but no new arrivals finalize via
  *    `EventTimeTimeout` when the watermark (driven by OTHER keys'
  *    progress) passes their flush point — without the timeout a quiet
  *    key's last session would sit in state forever;
  *  - PENDING-event state per key is O(events inside the watermark
  *    horizon), the same bound a shuffle-based session-window
  *    aggregation needs. Additionally, once all of a key's sessions
  *    close, ONE residual entry (empty buffer + the emitted counter, a
  *    single Long) is retained per ever-seen key so `session_seq` stays
  *    cumulative across quiet periods — total state is therefore
  *    O(live keys) + O(distinct keys ever seen) × ~16 bytes. For
  *    key spaces where that tail matters, an idle-key TTL (accepting a
  *    seq reset on the key's return) is the documented trade — not
  *    enabled here because seq continuity is part of the operator's
  *    contract (ADVICE r5).
  *
  * At 10^10-event scale this runs on the RocksDB state store
  * (off-heap, disk-backed; `Sessions.local`), and OutputMode.Append means a
  * session row is written exactly once — safe for immutable sinks.
  */
object SessionizeStream {

  implicit val bufEnc: Encoder[SessionBuffer] = Encoders.product[SessionBuffer]
  implicit val rowEnc: Encoder[SessionRow] = Encoders.product[SessionRow]
  private implicit val keyedEnc: Encoder[(Long, Timestamp)] =
    Encoders.tuple(Encoders.scalaLong, Encoders.TIMESTAMP)

  private def toMicros(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000L

  private def toTimestamp(us: Long): Timestamp = {
    val t = new Timestamp((us / 1000000L) * 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  /** Split sorted event times into maximal runs with internal gaps
    * ≤ gapUs (strictly-greater gaps split — batch semantics).
    */
  private def split(sorted: Seq[Long], gapUs: Long): Seq[Seq[Long]] =
    sorted.foldLeft(Vector.empty[Vector[Long]]) { (acc, t) =>
      if (acc.nonEmpty && t - acc.last.last <= gapUs)
        acc.init :+ (acc.last :+ t)
      else acc :+ Vector(t)
    }

  private def handleGroup(gapUs: Long)(
      key: Long, events: Iterator[(Long, Timestamp)],
      state: GroupState[SessionBuffer]): Iterator[SessionRow] = {
    val prior = state.getOption.getOrElse(SessionBuffer(Nil, 0L))
    val buffered =
      (prior.pendingMicros ++ events.map(e => toMicros(e._2))).sorted
    if (buffered.isEmpty) { // timed out with nothing pending
      if (state.hasTimedOut && state.exists) state.remove()
      return Iterator.empty
    }
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val sessions = split(buffered, gapUs)
    val (closed, open) = sessions.partition(s => s.last + gapUs < wmUs)
    val rows = closed.zipWithIndex.map { case (s, i) =>
      SessionRow(key, prior.emitted + i + 1, s.length,
        toTimestamp(s.head), toTimestamp(s.last))
    }
    state.update(
      SessionBuffer(open.flatten, prior.emitted + closed.length))
    if (open.nonEmpty) {
      // flush point: the moment the watermark strictly passes
      // oldest-open-end + gap (ms granularity, so +1 ms past the
      // boundary); must stay ahead of the current watermark
      val flushMs = (open.head.last + gapUs) / 1000L + 1L
      state.setTimeoutTimestamp(
        math.max(flushMs, state.getCurrentWatermarkMs() + 1L))
    }
    rows.iterator
  }

  /** Sessionize a (possibly streaming) frame of (key, event-time) rows.
    *
    * @param events frame with at least `keyCol` (integral) and `tsCol`
    *   (timestamp); for a streaming frame the watermark governs both
    *   late-event dropping and session finalization
    */
  def sessions(events: DataFrame, keyCol: String, tsCol: String,
      gapSeconds: Long, watermarkDelay: String): Dataset[SessionRow] = {
    // the state key and SessionRow.user_id are primitive longs: a
    // string/decimal key would corrupt (or throw) through the cast and a
    // NULL key dies in the encoder — fail fast with a clear error
    // instead (ADVICE r5); the batch Relational.sessionize stays the
    // key-type-generic surface
    import org.apache.spark.sql.types._
    val kt = events.schema(keyCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(kt),
      s"SessionizeStream.sessions: key column '$keyCol' must be integral " +
        s"non-null (state key and SessionRow.user_id are primitive LONG), " +
        s"got ${kt.simpleString}; use Relational.sessionize for generic keys")
    val gapUs = gapSeconds * 1000000L
    events
      .select(col(keyCol).cast("long").as("k"),
        col(tsCol).cast("timestamp").as("ts"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Timestamp)]
      .groupByKey(_._1)(Encoders.scalaLong)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        handleGroup(gapUs) _)
  }
}
