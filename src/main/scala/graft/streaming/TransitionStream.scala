package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.OutputMode

/** Streaming form of x39's Markov transition matrix: per-user LAST
  * event type as `transformWithState` ValueState — one (string, long)
  * per user forever, regardless of event volume — emitting one
  * (from_type, to_type) row per observed consecutive pair. A running
  * `groupBy(from_type, to_type).count` over the output stream IS the
  * transition-count matrix, incrementally.
  *
  * Ordering contract (the FunnelStream/BarIndicatorStream discipline):
  * within a micro-batch a user's events fold in (ts, event_id) order —
  * the same tuple the batch x39 window orders by — and an event whose
  * (ts, event_id) is not lexicographically greater than the user's
  * high-water mark is dropped. Replays are idempotent, distinct
  * same-timestamp events (different event_id) both survive, and an
  * already-emitted transition can never be contradicted. Under
  * per-user event-time-ordered delivery the streamed pair multiset
  * equals the batch operator's exactly (TransitionStreamSpec pins this
  * for arbitrary micro-batch slicings).
  */
object TransitionStream {

  import FunnelStream.UserEvent

  case class Transition(user_id: Long, from_type: String, to_type: String, ts: Long)

  /** lastType = "" means no event seen yet; (hwm, hwmId) = the largest
    * (ts, event_id) absorbed so far, compared lexicographically. */
  case class LastSeen(lastType: String, hwm: Long, hwmId: Long)

  private[graft] def step(st: LastSeen, e: UserEvent): (LastSeen, Option[Transition]) =
    if (st.hwm != Long.MinValue &&
        (e.ts < st.hwm || (e.ts == st.hwm && e.event_id <= st.hwmId))) (st, None)
    else {
      val out =
        if (st.lastType.nonEmpty)
          Some(Transition(e.user_id, st.lastType, e.event_type, e.ts))
        else None
      (LastSeen(e.event_type, e.ts, e.event_id), out)
    }

  /** Wire the transition extractor over a user-event stream. */
  def transitions(spark: SparkSession, events: Dataset[UserEvent]): Dataset[Transition] = {
    import spark.implicits._
    KeyedFold(events.groupByKey(_.user_id), "last_seen", OutputMode.Append)(
      KeyedFold.ordered((e: UserEvent) => (e.ts, e.event_id),
        LastSeen("", Long.MinValue, Long.MinValue))(step))
  }
}
