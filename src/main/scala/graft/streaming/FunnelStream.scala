package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.OutputMode

/** Streaming form of the x32 conversion funnel (view → click →
  * purchase, each stage strictly after the user's FIRST event of the
  * previous stage): per-user stage timestamps as `transformWithState`
  * ValueState — three longs per user forever, regardless of event
  * volume.
  *
  * A transition row is emitted exactly once per (user, stage), the
  * micro-batch the stage first completes, so `groupBy(stage).count`
  * over the output stream IS the funnel frame, incrementally.
  *
  * Ordering contract (the BarIndicatorStream discipline): within a
  * micro-batch events fold in (ts, event_id) order, and an event whose
  * (ts, event_id) is not lexicographically greater than the user's
  * high-water mark is dropped — replays are idempotent, distinct
  * same-timestamp events survive, and a completed stage can never be
  * rewound. Under
  * per-user event-time-ordered delivery the streamed stage sets equal
  * the batch operator's exactly (FunnelStreamSpec pins this for
  * arbitrary micro-batch slicings); out-of-order delivery degrades
  * gracefully (late pre-stage events are ignored, never corrupting
  * already-emitted transitions).
  */
object FunnelStream {

  /** `event_id` breaks ties between same-timestamp events: the replay
    * guard compares (ts, event_id) lexicographically, so two distinct
    * events sharing a timestamp are both processed while an exact
    * replay of either is still dropped. Defaults to 0 for callers
    * (and older specs) whose timestamps are unique by construction.
    */
  case class UserEvent(user_id: Long, event_type: String, ts: Long, event_id: Long = 0L)

  /** Stage timestamps; MinValue = not reached. hwm/hwmId = the largest
    * (ts, event_id) absorbed so far, compared lexicographically. */
  case class FunnelState(tView: Long, tClick: Long, tPurchase: Long, hwm: Long, hwmId: Long)

  /** Emitted once per (user, stage-completion). */
  case class FunnelTransition(user_id: Long, stage: String, ts: Long)

  private val Unset = Long.MinValue

  /** Absorb one event; returns (next state, emitted transition). */
  private[graft] def step(st: FunnelState, e: UserEvent)
      : (FunnelState, Option[FunnelTransition]) = {
    if (e.ts < st.hwm || (e.ts == st.hwm && e.event_id <= st.hwmId)) (st, None)
    else {
      val next = st.copy(hwm = e.ts, hwmId = e.event_id)
      e.event_type match {
        case "view" if st.tView == Unset =>
          (next.copy(tView = e.ts), Some(FunnelTransition(e.user_id, "1_view", e.ts)))
        case "click" if st.tView != Unset && st.tClick == Unset && e.ts > st.tView =>
          (next.copy(tClick = e.ts), Some(FunnelTransition(e.user_id, "2_click", e.ts)))
        case "purchase" if st.tClick != Unset && st.tPurchase == Unset && e.ts > st.tClick =>
          (next.copy(tPurchase = e.ts), Some(FunnelTransition(e.user_id, "3_purchase", e.ts)))
        case _ => (next, None)
      }
    }
  }

  /** Wire the funnel over a user-event stream. */
  def transitions(spark: SparkSession, events: Dataset[UserEvent]): Dataset[FunnelTransition] = {
    import spark.implicits._
    KeyedFold(events.groupByKey(_.user_id), "funnel", OutputMode.Append)(
      KeyedFold.ordered((e: UserEvent) => (e.ts, e.event_id),
        FunnelState(Unset, Unset, Unset, Unset, Unset))(step))
  }
}
