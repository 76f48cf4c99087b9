package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.BatchConstant

/** Bronze -> Silver medallion transforms — pure DataFrame -> DataFrame
  * functions so the identical code runs in batch tests and streaming
  * production (the central design property of the reference's
  * transformations.py; see SURVEY.md §7.1).
  *
  * Reference operators covered: P3 (to_bronze, transformations.py:90-107),
  * P4 (clean_trades, transformations.py:140-154), P5
  * (add_processing_metadata, transformations.py:231-237), F1
  * (to_silver quality filter, transformations.py:114-137), F2
  * (streaming dedup, transformations.py:137).
  */
object Medallion {

  /** P3 — bronze enrichment: audit columns over the raw parsed feed.
    * `processed_at`/`current_timestamp` are wall-clock and therefore
    * excluded from oracle-checked output; `withAuditTimestamps` adds
    * them for the streaming/production path.
    */
  def toBronze(trades: DataFrame, source: String = "market"): DataFrame =
    trades.withColumn("source", lit(source))

  /** P5 — wall-clock processing metadata (streaming path only; not
    * deterministic, so kept out of oracle-checked plans). Both are the
    * micro-batch's timestamp, passed by reference
    * ([[graft.functions.BatchConstant]]) so the generated code is the
    * same in every batch.
    */
  def withAuditTimestamps(df: DataFrame): DataFrame =
    df.withColumn("processed_at", BatchConstant(current_timestamp()))
      .withColumn("processing_date", BatchConstant(current_date()))

  /** P4 — quality normalization: round price to 4 decimals, absolute
    * volume (clean_trades, transformations.py:140-154).
    */
  def clean(trades: DataFrame): DataFrame =
    trades
      .withColumn("price", round(col("price"), 4))
      .withColumn("volume", abs(col("volume")))

  /** F1 — silver quality filter: positive volume and price, event time
    * not in the future. The reference uses `now() + 5 minutes`
    * (transformations.py:136); in batch/oracle mode the caller passes a
    * deterministic cutoff instead of wall clock.
    */
  def toSilver(trades: DataFrame, maxEventTime: Column): DataFrame =
    clean(trades).filter(
      col("volume") > 0 && col("price") > 0 && col("event_time") <= maxEventTime)

  /** F2 — dedup on the business key (symbol, event_time), batch form.
    * `dropDuplicates` keeps an arbitrary row per key; to make the
    * result reproducible (SURVEY.md §7.5.1) we pin the survivor to the
    * lowest event_id. Single shuffle on the dedup key; at 100 TB this
    * is a hash partition on (symbol, event_time) with no skew (time
    * spreads keys), so it scales linearly.
    *
    * Streaming form: see graft.streaming.TradeStreams.dedup (uses
    * watermark-bounded dropDuplicatesWithinWatermark state).
    */
  def dedup(trades: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("symbol"), col("event_time"))
      .orderBy(col("event_id"))
    trades.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** F2 via hash aggregation: same survivor semantics as `dedup`
    * (lowest event_id per (symbol, event_time)), but each payload
    * column is picked with the primitive-buffer MinByOrd2 aggregate —
    * a HashAggregate with map-side partials instead of the window
    * form's double sort + WindowGroupLimit. Preferred on the hot gold
    * path; `dedup` stays for arbitrary schemas (the aggregate form
    * needs the payload column list).
    */
  def dedupAgg(trades: DataFrame, payloadCols: Seq[String] = Seq("price", "volume")): DataFrame = {
    import graft.functions.OrderedExtremum.minByOrd2
    val aggs = payloadCols.map(c =>
      minByOrd2(col(c), col("event_id"), lit(0L)).as(c)) :+
      min(col("event_id")).as("event_id")
    trades
      .groupBy(col("symbol"), col("event_time"))
      .agg(aggs.head, aggs.tail: _*)
  }
}
