package graft.model

import java.sql.Timestamp

/** Typed core schemas, mirroring the reference's three schema systems
  * (Avro trade.avsc / Spark TRADE_SCHEMA transformations.py:25-32 /
  * CQL keyspace.cql — see SURVEY.md §1).
  */

/** A parsed trade event. `timestamp` is epoch millis (the wire unit,
  * trade.avsc:19); `event_time` is derived (P2).
  */
case class Trade(
    symbol: String,
    price: Double,
    volume: Long,
    timestamp: Long,
    conditions: Seq[String],
    event_time: Timestamp)

/** Latest-price snapshot row (keyspace.cql:132-141). change/pct are
  * None for a symbol's first-ever trade — the same NULL the batch
  * form's LEAD(price) produces (LatestPrices.snapshot), so the
  * streaming and batch runtimes agree row-for-row under the oracle.
  */
case class LatestPrice(
    symbol: String,
    last_price: Double,
    last_volume: Long,
    last_trade_time: Timestamp,
    price_change: Option[Double],
    price_change_pct: Option[Double])
