package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.OutputMode

import graft.model.LatestPrice

/** A6 (streaming) — latest-price snapshot with change vs the previous
  * trade, as an arbitrary-stateful streaming operator
  * (`transformWithState` keyed by symbol, via [[KeyedFold]]). The
  * reference declares the table + UPDATE statement (keyspace.cql:132-141,
  * cassandra_client.py:105-114) but never ships the writer — a gap we
  * fill (SURVEY.md §2.5).
  *
  * State per key is one (price, volume, time) triple — O(symbols)
  * total, trivially sharded by the groupBy key at any scale.
  */
object LatestPriceStream {

  case class TradeEvent(symbol: String, price: Double, volume: Long,
                        event_time: Timestamp)

  case class PriceState(price: Double, volume: Long, time: Timestamp)

  /** Core fold of the stream and the batch adapter: advance through
    * the batch's events in (event_time, price) order, IGNORING any
    * event not strictly after the current state in that order — a late
    * out-of-order trade must not regress the snapshot to stale data
    * (found in review; the batch form's window picks the max event
    * time, and streaming must agree), and a re-delivered copy of the
    * newest trade must not emit a second snapshot with a zero change.
    * Ties on event_time take the later-sorted (higher-price) event,
    * deterministically. The first-ever trade of a symbol carries
    * change = pct = None — the batch window's LEAD produces NULL
    * there, and the stream must agree with it under the oracle (sr3).
    */
  private[streaming] def fold(symbol: String, events: Seq[TradeEvent],
                              initial: Option[PriceState]): (Option[PriceState], Option[LatestPrice]) = {
    val sorted = events.sortBy(e => (e.event_time.getTime, e.price))
    var prev = initial
    var newest: Option[LatestPrice] = None
    sorted.foreach { e =>
      val fresh = prev.forall(p => e.event_time.after(p.time) ||
        (e.event_time.equals(p.time) && e.price > p.price))
      if (fresh) {
        val (change, pct) = prev match {
          case Some(p) if p.price != 0 =>
            (Some(e.price - p.price), Some((e.price - p.price) / p.price * 100))
          case Some(p) => (Some(e.price - p.price), None)
          case None => (None, None)
        }
        newest = Some(LatestPrice(symbol, e.price, e.volume, e.event_time, change, pct))
        prev = Some(PriceState(e.price, e.volume, e.event_time))
      }
    }
    (prev, newest)
  }

  /** Wire the per-symbol fold over a parsed trade stream
    * (transformWithState through [[KeyedFold]], RocksDB-backed). Update
    * output mode: each micro-batch emits only the newest snapshot per
    * symbol, and downstream upserts by symbol. TTL is deliberately off:
    * StateTtlSpec measured that a TTL'd processor in
    * TimeMode.ProcessingTime makes Trigger.AvailableNow loop forever
    * ("another batch could expire state" never goes false), so TTL
    * belongs on ProcessingTime-trigger topologies, not backfills.
    */
  def snapshots(spark: SparkSession, trades: Dataset[TradeEvent]): Dataset[LatestPrice] = {
    import spark.implicits._
    KeyedFold[String, TradeEvent, PriceState, LatestPrice](
        trades.groupByKey(_.symbol), "latest", OutputMode.Update)(
      (sym, rows, prev) => fold(sym, rows.toSeq, prev))
  }

  /** Batch adapter: the same per-symbol fold, for tests and backfill. */
  def snapshotsBatch(spark: SparkSession, trades: Dataset[TradeEvent]): Dataset[LatestPrice] = {
    import spark.implicits._
    trades.groupByKey(_.symbol).flatMapGroups { (sym, rows) =>
      fold(sym, rows.toSeq, None)._2.iterator
    }
  }
}
