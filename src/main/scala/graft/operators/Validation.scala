package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Columnar re-expression of the reference's producer-side row
  * validator (F3/F4/F5 — TradeValidator.validate/_normalize,
  * src/producer/validator.py:108-231, and ValidationMetrics,
  * validator.py:22-69).
  *
  * The reference validates row-at-a-time in Python; here the whole
  * rule bundle is a single codegen'd projection — no shuffle, no UDF —
  * so it runs at scan speed on any cluster size.
  */
object Validation {

  val MinPrice = 0.0001
  val MaxPrice = 1000000.0
  /** Reference: timestamps more than 5 minutes in the future are
    * rejected (validator.py:84). Batch callers pass a deterministic
    * cutoff; streaming uses current_timestamp per micro-batch.
    */
  val FutureSkewMs: Long = 5 * 60 * 1000L

  /** F4 — unit normalization: epoch-seconds vs epoch-millis heuristic
    * (validator.py:162,219-221 — t < 1e12 means seconds, scale up).
    * Input column `t` is epoch in unknown unit; output `timestamp_ms`.
    */
  def normalizeEpochMs(df: DataFrame, tCol: String = "t"): DataFrame =
    df.withColumn("timestamp_ms",
      when(col(tCol) < 1000000000000L, col(tCol) * 1000L).otherwise(col(tCol)))

  /** Age beyond which a timestamp is flagged stale (warning only) —
    * validator.py:168-170: ts more than 1 day old.
    */
  val StaleAgeMs: Long = 86400000L

  /** F3 — validation rule bundle. Adds `errors: array<string>`,
    * `warnings: array<string>` and `is_valid` to the trade rows.
    * Rules mirror validator.py:108-173 INCLUDING its error/warning
    * split: long symbols (>10 chars), price below min (but >= 0) and
    * stale timestamps (> 1 day old) are WARNINGS — the row stays
    * valid, matching the reference, which only dead-letters on
    * errors. Errors: missing fields, negative price, price above max,
    * negative volume, (toggle) zero volume, future timestamp.
    *
    * `maxEventTimeMs` is the deterministic "now + 5 min" bound.
    */
  def validate(trades: DataFrame, maxEventTimeMs: Long,
               filterZeroVolume: Boolean = true): DataFrame =
    validate(trades, lit(maxEventTimeMs), filterZeroVolume)

  /** Column-bound variant: streaming callers pass a wall-clock bound
    * expression (re-evaluated per micro-batch) — a Scala Long constant
    * would freeze "now" at plan-construction time and start
    * dead-lettering all live traffic once uptime exceeds the skew
    * window (found in review).
    */
  def validate(trades: DataFrame, maxEventTimeMs: org.apache.spark.sql.Column,
               filterZeroVolume: Boolean): DataFrame = {
    val errs = array_compact(array(
      when(col("symbol").isNull, lit("missing_symbol")),
      when(col("price").isNull, lit("missing_price")),
      when(col("price") < 0 || col("price") > MaxPrice, lit("price_out_of_range")),
      when(col("volume").isNull, lit("missing_volume")),
      when(col("volume") < 0, lit("negative_volume")),
      if (filterZeroVolume) when(col("volume") === 0, lit("zero_volume")) else lit(null),
      when(col("event_time").isNull, lit("missing_timestamp")),
      when(unix_millis(col("event_time")) > maxEventTimeMs, lit("future_timestamp"))
    ))
    // "now" is the future bound minus the skew window; stale = more
    // than StaleAgeMs before it (validator.py:166-170).
    val warns = array_compact(array(
      when(length(col("symbol")) > 10, lit("symbol_too_long")),
      when(col("price") >= 0 && col("price") < MinPrice, lit("price_below_min")),
      when(unix_millis(col("event_time")) <
        maxEventTimeMs - lit(FutureSkewMs) - lit(StaleAgeMs), lit("stale_timestamp"))
    ))
    trades
      .withColumn("errors", errs)
      .withColumn("warnings", warns)
      .withColumn("is_valid", size(col("errors")) === 0)
  }

  /** Streaming form: the future bound is micro-batch evaluation time
    * plus the skew window, like the reference's producer validator,
    * passed by reference ([[graft.functions.BatchConstant]]) so the
    * generated code is the same in every batch.
    */
  def validateStreaming(trades: DataFrame,
                        filterZeroVolume: Boolean = true): DataFrame =
    validate(trades, graft.functions.BatchConstant(
      unix_millis(current_timestamp()) + lit(FutureSkewMs)), filterZeroVolume)

  /** F5 (streaming form) — zero-cost validation counters attached to
    * the stream itself via `Dataset.observe`: total/valid/invalid per
    * micro-batch, surfaced through StreamingQueryProgress
    * .observedMetrics (ValidationMetrics' running counters,
    * validator.py:22-69, without a second aggregation pass).
    */
  def observeValidation(validated: DataFrame,
                        name: String = "validation"): DataFrame =
    validated.observe(name,
      count(lit(1)).as("total"),
      count(when(col("is_valid"), 1)).as("valid"),
      count(when(!col("is_valid"), 1)).as("invalid"))

  /** Valid branch -> silver; invalid branch -> dead-letter (K5,
    * pipeline.py:120-126). Both are lazy views over one validated
    * plan; Spark reuses the scan via whole-stage codegen per branch.
    */
  def split(validated: DataFrame): (DataFrame, DataFrame) =
    (validated.filter(col("is_valid")).drop("errors", "warnings", "is_valid"),
     validated.filter(!col("is_valid")))

  /** F5 — validation metrics: per-reason breakdown plus the valid
    * count (ValidationMetrics, validator.py:22-69). Valid rows emit
    * the reason "valid" so every input row is counted exactly once per
    * applicable reason. One map-side-combined aggregation.
    */
  def metrics(validated: DataFrame): DataFrame = {
    validated
      .select(explode(
        when(size(col("errors")) === 0, array(lit("valid")))
          .otherwise(col("errors"))).as("reason"))
      .groupBy(col("reason"))
      .agg(count(lit(1)).as("n"))
  }

  /** Validation-rate gauge (ValidationMetrics.validation_rate,
    * validator.py:52-57): total/valid/invalid counts and the valid
    * rate in exact integer micro-units (floor(1e6 * valid / total);
    * 1e6 on empty input, mirroring the reference's 100.0%). One
    * map-side-combined aggregation, no second pass.
    */
  def rateMetrics(validated: DataFrame): DataFrame = {
    val total = count(lit(1))
    val valid = count(when(col("is_valid"), 1))
    // SQL `div` is true integral division: exact at any Long count,
    // unlike the `/`-as-Double route whose quotient loses micro-units
    // once valid * 1e6 passes 2^53 (~9e9 valid rows — reachable in
    // one 100 TB aggregate). The Long multiply itself bounds the
    // gauge at ~9.2e12 valid rows per aggregation.
    validated.agg(
        total.as("total"),
        valid.as("valid"),
        (total - valid).as("invalid"))
      .selectExpr("total", "valid", "invalid",
        "CASE WHEN total = 0 THEN CAST(1000000 AS BIGINT) " +
          "ELSE (valid * 1000000) div total END AS valid_rate_e6")
  }
}
