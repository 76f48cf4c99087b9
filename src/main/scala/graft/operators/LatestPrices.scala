package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Latest-price snapshot per symbol with change vs the previous trade
  * (A6 — declared in the reference's keyspace.cql:132-141 and the
  * UPDATE statement cassandra_client.py:105-114, but never wired to a
  * writer; a reference gap we fill, SURVEY.md §2.5).
  *
  * Batch form (rewritten in the r17 optimization round): a single
  * HashAggregate per symbol with map-side partials — max_by and
  * second_max_by over the (event_time, event_id) ordering key. The
  * previous form sorted every silver row per symbol and ran a
  * row_number+lead Window just to read the top two rows; at 100 TB
  * that is a full per-symbol sort of the trade history, where the
  * aggregate keeps two (ord, value) slots of state per group and the
  * exchange ships two buffered rows per symbol per map task. Plan
  * diff: Exchange+Sort+Window+Filter -> partial HashAggregate +
  * Exchange + final HashAggregate (plans/r17/a6_latest_prices_*).
  * Equivalence holds because silver is deduped on (symbol,
  * event_time): the ordering key is unique per symbol, so "value at
  * the second-largest key" IS lead(value, 1) at the top row (see
  * SecondMaxByOrd2's scaladoc for why uniqueness matters).
  *
  * Streaming form: graft.streaming.LatestPriceStream keeps one small
  * state record per symbol on the transformWithState runtime
  * (graft.streaming.KeyedFold).
  */
object LatestPrices {

  def snapshot(silver: DataFrame): DataFrame = {
    import graft.functions.OrderedExtremum.{maxByOrd2, secondMaxByOrd2}
    val t = unix_micros(col("event_time"))
    val id = col("event_id")
    silver
      .groupBy(col("symbol"))
      .agg(
        maxByOrd2(col("price"), t, id).as("price"),
        maxByOrd2(col("volume"), t, id).as("volume"),
        max(col("event_time")).as("event_time"),
        secondMaxByOrd2(col("price"), t, id).as("prev_price"))
      .select(
        col("symbol"),
        col("price").as("last_price"),
        col("volume").as("last_volume"),
        unix_millis(col("event_time")).as("last_trade_time_ms"),
        round(col("price") - col("prev_price"), 6).as("price_change"),
        when(col("prev_price").isNull || col("prev_price") === 0, lit(null))
          .otherwise(round((col("price") - col("prev_price")) / col("prev_price") * 100, 6))
          .as("price_change_pct"))
  }
}
