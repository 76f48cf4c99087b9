package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators._
import graft.streaming.LocalFs

/** Driver contract — see SURVEY.md §7.
  *
  * Each board query exercises one operator from the SURVEY.md §2
  * inventory (names carry the operator id) and carries the
  * equivalent DuckDB SQL over the same parquet tables. Column names and
  * types are aligned pair-wise: timestamps are emitted as epoch-millis
  * BIGINTs (the source `events.ts` physical encoding has drifted across
  * testdata generations — Tables.normalizeEventTime absorbs that; the
  * epoch-ms convention sidesteps engine-specific timestamp rendering),
  * long sums are CAST to BIGINT on the DuckDB side (whose SUM widens to
  * HUGEINT), and float aggregates go through exact DECIMAL sums before
  * one deterministic double division, so results are bit-identical at
  * any parallelism.
  */
object SparkEntry {

  /** The session of the batch mains (Verify, Bench, PlanDump,
    * ScaleBench): `SPARK_GRAFT_CPUS` local cores (default
    * `defaultCpus`) and as many shuffle partitions, UTC, AQE, UI off,
    * WARN logging, the spawn-free local file systems (`LocalFs`).
    * `App.main` builds its own (RocksDB state, UI on).
    */
  def batchSession(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // HotSpot refuses to JIT methods >8000 bytecodes (DontCompileHuge
      // Methods): a whole-stage-codegen'd multi-level aggregate cascade
      // can exceed that and run INTERPRETED (~3.5x slower on a8's fused
      // stage, round 9). At 8000 Spark falls back to per-operator
      // execution for oversized stages, which the JIT does compile.
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      // Legacy events.parquet generations carried TIMESTAMP(NANOS);
      // with this flag they surface as epoch-nanos longs, which
      // Tables.normalizeEventTime converts (current timestamp[us]
      // data is unaffected by the flag).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(LocalFs.SessionConfs)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Deterministic stand-in for the reference's `now() + 5 minutes`
    * future-event guard (transformations.py:136): all test events are
    * in January 2024.
    */
  private[graft] val CutoffTs = "2024-02-01 00:00:00"
  private[graft] val CutoffMs = 1706745600000L
  private val Day = "2024-01-15"

  private def trades(s: SparkSession, dir: String): DataFrame = Tables.trades(s, dir)

  private[graft] def silverDf(s: SparkSession, dir: String): DataFrame =
    Medallion.dedupAgg(
      Medallion.toSilver(trades(s, dir), lit(CutoffTs).cast("timestamp")),
      payloadCols = Seq("price", "volume", "trade_date"))

  private def gold5m(s: SparkSession, dir: String): DataFrame = Ohlcv.bars5m(silverDf(s, dir))
  private def gold1h(s: SparkSession, dir: String): DataFrame = Ohlcv.bars1h(silverDf(s, dir))

  /** Silver restricted to event days [from, toExclusive) BEFORE the
    * dedup exchange (r17 optimization round). The day-scoped Q queries
    * filter on trade_date / window_date — columns carried THROUGH the
    * dedup aggregate as payloads — so Catalyst cannot push the
    * predicate below the (symbol, event_time) exchange and the whole
    * corpus was deduplicated to answer one day (guide §2.3/§2.4:
    * shuffle fewer bytes / remove work before the exchange). Because
    * trade_date = cast(event_time AS date) and the dedup key contains
    * event_time, a group is wholly inside or outside any event-day
    * range: pre-filtering trades on the equivalent half-open
    * event_time interval keeps every surviving row bit-identical. The
    * range form (not to_date(event_time) = d) also reaches the parquet
    * scan as a ts min/max predicate — PushedFilters gains
    * GreaterThanOrEqual/LessThan(ts), so row-group skipping works on a
    * time-clustered 100 TB store (plans/r17/q1_count_day_*.txt). The
    * queries keep their original trade_date/window_date filters on
    * top (now cheap residuals), so their own semantics are unchanged.
    * Window grains used by the day-scoped gold queries (5m, 1h) divide
    * a day exactly, so a bar's window_date equals its trades'
    * trade_date and the same pre-filter is exact for them too.
    */
  private def silverForDays(s: SparkSession, dir: String,
                            from: String, toExclusive: String): DataFrame =
    Medallion.dedupAgg(
      Medallion.toSilver(trades(s, dir), lit(CutoffTs).cast("timestamp"))
        .filter(col("event_time") >= lit(from).cast("timestamp") &&
          col("event_time") < lit(toExclusive).cast("timestamp")),
      payloadCols = Seq("price", "volume", "trade_date"))

  private def nextDay(day: String): String =
    java.time.LocalDate.parse(day).plusDays(1).toString

  private def goldMs(gold: DataFrame): DataFrame =
    gold.select(col("symbol"),
      unix_millis(col("window_start")).as("window_start_ms"),
      unix_millis(col("window_end")).as("window_end_ms"),
      col("open"), col("high"), col("low"), col("close"),
      col("volume"), col("trade_count"), col("vwap_e6"))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    goldMs(gold5m(spark, "/root/testdata/sf0.001"))

  /** Shared DuckDB CTE prelude: trades view + medallion layers.
    * Mirrors Tables.trades / Medallion / Ohlcv exactly.
    */
  private[graft] val P: String = """WITH trades AS (
    SELECT event_id, event_type AS symbol, value AS price,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS volume,
           ts AS event_time, CAST(ts AS DATE) AS trade_date
    FROM events
  ), silver AS (
    SELECT * FROM (
      SELECT event_id, symbol, ROUND(price, 4) AS price, ABS(volume) AS volume,
             event_time, trade_date
      FROM trades
    ) WHERE volume > 0 AND price > 0 AND event_time <= TIMESTAMP '2024-02-01 00:00:00'
    QUALIFY ROW_NUMBER() OVER (PARTITION BY symbol, event_time ORDER BY event_id) = 1
  ), gold_5m AS (
    SELECT symbol, ws_ms, ws_ms + 300000 AS we_ms,
           CAST(make_timestamp(ws_ms * 1000) AS DATE) AS window_date,
           arg_min(price, event_time) AS open, MAX(price) AS high,
           MIN(price) AS low, arg_max(price, event_time) AS close,
           CAST(SUM(volume) AS BIGINT) AS volume, COUNT(*) AS trade_count,
           CASE WHEN SUM(volume) = 0 THEN NULL ELSE
             CAST(SUM(CAST(CAST(price AS DECIMAL(18,4)) * volume * 10000 AS BIGINT)) * 100
                  // SUM(volume) AS BIGINT) END AS vwap_e6,
           SUM(CAST(CAST(price AS DECIMAL(18,4)) * volume * 10000 AS BIGINT)) AS pv
    FROM (SELECT *, epoch_ms(event_time) - epoch_ms(event_time) % 300000 AS ws_ms FROM silver)
    GROUP BY symbol, ws_ms
  ), gold_1h AS (
    SELECT symbol, ws_ms, ws_ms + 3600000 AS we_ms,
           CAST(make_timestamp(ws_ms * 1000) AS DATE) AS window_date,
           arg_min(price, event_time) AS open, MAX(price) AS high,
           MIN(price) AS low, arg_max(price, event_time) AS close,
           CAST(SUM(volume) AS BIGINT) AS volume, COUNT(*) AS trade_count,
           CASE WHEN SUM(volume) = 0 THEN NULL ELSE
             CAST(SUM(CAST(CAST(price AS DECIMAL(18,4)) * volume * 10000 AS BIGINT)) * 100
                  // SUM(volume) AS BIGINT) END AS vwap_e6
    FROM (SELECT *, epoch_ms(event_time) - epoch_ms(event_time) % 3600000 AS ws_ms FROM silver)
    GROUP BY symbol, ws_ms
  ) """

  /** A6 oracle — shared verbatim by the batch query (a6_latest_prices)
    * and the transformWithState streaming replay (sr3): the two
    * runtimes must produce the IDENTICAL table.
    */
  private[graft] val latestPricesSql: String = P + """
      SELECT symbol, price AS last_price, volume AS last_volume,
             epoch_ms(event_time) AS last_trade_time_ms,
             ROUND(price - prev_price, 6) AS price_change,
             CASE WHEN prev_price IS NULL OR prev_price = 0 THEN NULL
                  ELSE ROUND((price - prev_price) / prev_price * 100, 6) END AS price_change_pct
      FROM (
        SELECT *, ROW_NUMBER() OVER w AS rn, LEAD(price, 1) OVER w AS prev_price
        FROM silver
        WINDOW w AS (PARTITION BY symbol ORDER BY event_time DESC, event_id DESC)
      ) WHERE rn = 1"""

  /** One record per implemented operator from SURVEY.md §2, with its
    * DuckDB oracle over the same parquet tables.
    */
  val board: Seq[BoardQuery] = Seq(
    // P1+P2 — JSON decode + event-time derivation.
    BoardQuery("p1_parse_trades", P +
      "SELECT event_id, symbol, price, volume, epoch_ms(event_time) AS event_time_ms, trade_date FROM trades",
      (s, dir) =>
        trades(s, dir).select(col("event_id"), col("symbol"), col("price"), col("volume"),
          unix_millis(col("event_time")).as("event_time_ms"), col("trade_date"))),

    // P3 — bronze enrichment (deterministic columns).
    BoardQuery("p3_bronze", P +
      "SELECT event_id, symbol, price, volume, epoch_ms(event_time) AS event_time_ms, trade_date, 'market' AS source FROM trades",
      (s, dir) =>
        Medallion.toBronze(trades(s, dir)).select(col("event_id"), col("symbol"),
          col("price"), col("volume"), unix_millis(col("event_time")).as("event_time_ms"),
          col("trade_date"), col("source"))),

    // P4 — quality normalization.
    BoardQuery("p4_clean", P +
      "SELECT event_id, symbol, ROUND(price, 4) AS price, ABS(volume) AS volume FROM trades",
      (s, dir) =>
        Medallion.clean(trades(s, dir)).select(col("event_id"), col("symbol"),
          col("price"), col("volume"))),

    // F1 (+P4, F2) — the silver layer.
    BoardQuery("f1_silver", P +
      "SELECT event_id, symbol, price, volume, epoch_ms(event_time) AS event_time_ms, trade_date FROM silver",
      (s, dir) =>
        silverDf(s, dir).select(col("event_id"), col("symbol"), col("price"), col("volume"),
          unix_millis(col("event_time")).as("event_time_ms"), col("trade_date"))),

    // F2 — dedup invariants: per-symbol row and distinct-key counts.
    BoardQuery("f2_dedup_stats", P +
      "SELECT symbol, COUNT(*) AS n_rows, COUNT(DISTINCT event_time) AS n_unique_times FROM silver GROUP BY symbol",
      (s, dir) =>
        silverDf(s, dir).groupBy(col("symbol")).agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("event_time")).as("n_unique_times"))),

    // F3+F4+F5 — validation rule bundle + metrics.
    BoardQuery("f3_validation_metrics", P + """
      SELECT reason, COUNT(*) AS n FROM (
        SELECT UNNEST(CASE WHEN len(errs) = 0 THEN ['valid'] ELSE errs END) AS reason FROM (
          SELECT list_filter([
            CASE WHEN symbol IS NULL THEN 'missing_symbol' END,
            CASE WHEN price IS NULL THEN 'missing_price' END,
            CASE WHEN price < 0 OR price > 1000000 THEN 'price_out_of_range' END,
            CASE WHEN volume IS NULL THEN 'missing_volume' END,
            CASE WHEN volume < 0 THEN 'negative_volume' END,
            CASE WHEN volume = 0 THEN 'zero_volume' END,
            CASE WHEN event_time IS NULL THEN 'missing_timestamp' END,
            CASE WHEN epoch_ms(event_time) > 1706745600000 THEN 'future_timestamp' END
          ], x -> x IS NOT NULL) AS errs FROM trades)
      ) GROUP BY reason""",
      (s, dir) =>
        Validation.metrics(Validation.validate(trades(s, dir), CutoffMs))),

    // F5 — validation-rate gauge (validator.py validation_rate parity).
    BoardQuery("f4_validation_rate", P + """
      SELECT CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN nerr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS valid,
             CAST(SUM(CASE WHEN nerr > 0 THEN 1 ELSE 0 END) AS BIGINT) AS invalid,
             CASE WHEN COUNT(*) = 0 THEN 1000000
                  ELSE CAST(SUM(CASE WHEN nerr = 0 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
             END AS valid_rate_e6
      FROM (
        SELECT len(list_filter([
          CASE WHEN symbol IS NULL THEN 'missing_symbol' END,
          CASE WHEN price IS NULL THEN 'missing_price' END,
          CASE WHEN price < 0 OR price > 1000000 THEN 'price_out_of_range' END,
          CASE WHEN volume IS NULL THEN 'missing_volume' END,
          CASE WHEN volume < 0 THEN 'negative_volume' END,
          CASE WHEN volume = 0 THEN 'zero_volume' END,
          CASE WHEN event_time IS NULL THEN 'missing_timestamp' END,
          CASE WHEN epoch_ms(event_time) > 1706745600000 THEN 'future_timestamp' END
        ], x -> x IS NOT NULL)) AS nerr FROM trades)""",
      (s, dir) =>
        Validation.rateMetrics(Validation.validate(trades(s, dir), CutoffMs))),

    // A1+A4 — 5-minute OHLCV bars with VWAP.
    BoardQuery("a1_ohlcv_5m", P +
      "SELECT symbol, ws_ms AS window_start_ms, we_ms AS window_end_ms, open, high, low, close, volume, trade_count, vwap_e6 FROM gold_5m",
      (s, dir) => goldMs(gold5m(s, dir))),

    // A2 — 1-hour grain.
    BoardQuery("a2_ohlcv_1h", P +
      "SELECT symbol, ws_ms AS window_start_ms, we_ms AS window_end_ms, open, high, low, close, volume, trade_count, vwap_e6 FROM gold_1h",
      (s, dir) => goldMs(gold1h(s, dir))),

    // A3 — sliding windows (5 minutes every 1 minute).
    BoardQuery("a3_ohlcv_slide", P + """
      SELECT symbol, ws_ms AS window_start_ms, ws_ms + 300000 AS window_end_ms,
             arg_min(price, event_time) AS open, MAX(price) AS high,
             MIN(price) AS low, arg_max(price, event_time) AS close,
             CAST(SUM(volume) AS BIGINT) AS volume, COUNT(*) AS trade_count,
             CASE WHEN SUM(volume) = 0 THEN NULL ELSE
               CAST(SUM(CAST(CAST(price AS DECIMAL(18,4)) * volume * 10000 AS BIGINT)) * 100
                    // SUM(volume) AS BIGINT) END AS vwap_e6
      FROM (
        SELECT *, epoch_ms(event_time) - epoch_ms(event_time) % 60000
                  - 60000 * UNNEST([0, 1, 2, 3, 4]) AS ws_ms
        FROM silver)
      GROUP BY symbol, ws_ms""",
      (s, dir) => goldMs(Ohlcv.barsSliding(silverDf(s, dir)))),

    // A6 — latest-price snapshot with change vs previous trade.
    BoardQuery("a6_latest_prices", latestPricesSql,
      (s, dir) => LatestPrices.snapshot(silverDf(s, dir))),

    // A7 — hierarchical grain cascade: 1h bars re-aggregated from 5m
    // bars (shuffles bars, not trades; exact via pv_ticks carry).
    // A7 oracle: re-aggregate the gold_5m CTE itself — open/close from
    // the finest window's open/close ordered by window start, VWAP
    // re-derived from the exact integer pv sums (not the floored
    // vwap_e6). Equals gold_1h by construction; computed independently.
    BoardQuery("a7_ohlcv_rollup", P + """
      SELECT symbol, hs_ms AS window_start_ms, hs_ms + 3600000 AS window_end_ms,
             arg_min(open, ws_ms) AS open, MAX(high) AS high, MIN(low) AS low,
             arg_max(close, ws_ms) AS close,
             CAST(SUM(volume) AS BIGINT) AS volume,
             CAST(SUM(trade_count) AS BIGINT) AS trade_count,
             CASE WHEN SUM(volume) = 0 THEN NULL ELSE
               CAST(SUM(pv) * 100 // SUM(volume) AS BIGINT) END AS vwap_e6
      FROM (SELECT *, ws_ms - ws_ms % 3600000 AS hs_ms FROM gold_5m)
      GROUP BY symbol, hs_ms""",
      (s, dir) => goldMs(Ohlcv.rollup(gold5m(s, dir), "1 hour"))),

    // A8 — three-level grain cascade: 1d bars from the 1h rollup of
    // the 5m bars, all in one plan. Proves rollup composes: each
    // level re-aggregates O(bars) with the exact pv_ticks carry, so
    // the daily bar equals direct aggregation over trades.
    // A8 oracle: the daily re-aggregation of gold_5m directly —
    // independent of the intermediate 1h level, so a hash match
    // proves the 5m→1h→1d cascade is lossless end-to-end (exactness
    // rides the integer pv carry; a vwap_e6-based rollup would not
    // round-trip the floor).
    BoardQuery("a8_ohlcv_daily", P + """
      SELECT symbol, ds_ms AS window_start_ms, ds_ms + 86400000 AS window_end_ms,
             arg_min(open, ws_ms) AS open, MAX(high) AS high, MIN(low) AS low,
             arg_max(close, ws_ms) AS close,
             CAST(SUM(volume) AS BIGINT) AS volume,
             CAST(SUM(trade_count) AS BIGINT) AS trade_count,
             CASE WHEN SUM(volume) = 0 THEN NULL ELSE
               CAST(SUM(pv) * 100 // SUM(volume) AS BIGINT) END AS vwap_e6
      FROM (SELECT *, ws_ms - ws_ms % 86400000 AS ds_ms FROM gold_5m)
      GROUP BY symbol, ds_ms""",
      (s, dir) =>
        goldMs(Ohlcv.rollup(Ohlcv.rollup(gold5m(s, dir), "1 hour"), "1 day"))),

    // Q1 — count for one day (day-scoped silver: see silverForDays).
    BoardQuery("q1_count_day", P +
      s"SELECT COUNT(*) AS n_trades FROM silver WHERE trade_date = DATE '$Day'",
      (s, dir) =>
        MarketQueries.countForDay(silverForDays(s, dir, Day, nextDay(Day)), Day)),

    // Q2 — total gold volume for one day.
    BoardQuery("q2_volume_day", P +
      s"SELECT CAST(SUM(volume) AS BIGINT) AS total_volume FROM gold_5m WHERE window_date = DATE '$Day'",
      (s, dir) =>
        MarketQueries.volumeForDay(
          Ohlcv.bars5m(silverForDays(s, dir, Day, nextDay(Day))), Day)),

    // Q3 — freshest bar for one day.
    BoardQuery("q3_max_window_day", P +
      s"SELECT MAX(ws_ms) AS max_window_start_ms FROM gold_5m WHERE window_date = DATE '$Day'",
      (s, dir) =>
        MarketQueries.maxWindowForDay(
          Ohlcv.bars5m(silverForDays(s, dir, Day, nextDay(Day))), Day)),

    // Q4 — candles top-k newest-first.
    BoardQuery("q4_candles", P +
      s"SELECT ws_ms AS window_start_ms, open, high, low, close, volume FROM gold_5m " +
      s"WHERE symbol = 'click' AND window_date = DATE '$Day' ORDER BY window_start_ms DESC LIMIT 50",
      (s, dir) =>
        MarketQueries.candles(
          Ohlcv.bars5m(silverForDays(s, dir, Day, nextDay(Day))), "click", Day, 50)),

    // Q5 — volume by symbol.
    BoardQuery("q5_volume_by_symbol", P +
      "SELECT symbol, CAST(SUM(volume) AS BIGINT) AS total_volume FROM gold_5m GROUP BY symbol",
      (s, dir) => MarketQueries.volumeBySymbol(gold5m(s, dir))),

    // Q6 — trade count by symbol.
    BoardQuery("q6_trades_by_symbol", P +
      "SELECT symbol, CAST(SUM(trade_count) AS BIGINT) AS total_trades FROM gold_5m GROUP BY symbol",
      (s, dir) => MarketQueries.tradeCountBySymbol(gold5m(s, dir))),

    // Q8 — latest N trades for symbol+day.
    BoardQuery("q8_latest_trades", P +
      s"SELECT event_id, symbol, price, volume, epoch_ms(event_time) AS event_time_ms FROM silver " +
      s"WHERE symbol = 'purchase' AND trade_date = DATE '$Day' " +
      "ORDER BY event_time_ms DESC, event_id DESC LIMIT 20",
      (s, dir) =>
        MarketQueries.latestTrades(
          silverForDays(s, dir, Day, nextDay(Day)), "purchase", Day, 20)),

    // Q9 — OHLCV date-range fetch (1h grain).
    BoardQuery("q9_ohlcv_range", P +
      "SELECT ws_ms AS window_start_ms, open, high, low, close, volume, trade_count, vwap_e6 FROM gold_1h " +
      "WHERE symbol = 'view' AND window_date BETWEEN DATE '2024-01-10' AND DATE '2024-01-16'",
      (s, dir) =>
        MarketQueries.ohlcvRange(
          Ohlcv.bars1h(silverForDays(s, dir, "2024-01-10", nextDay("2024-01-16"))),
          "view", "2024-01-10", "2024-01-16")),

    // Q10 — avg-latency analog (timestamp arithmetic + avg).
    BoardQuery("q10_avg_seconds_into_day", P +
      s"SELECT ROUND(SUM(epoch_ms(event_time) - epoch_ms(CAST(trade_date AS TIMESTAMP))) " +
      s"/ COUNT(*) / 1000.0, 6) AS avg_seconds_into_day FROM silver WHERE trade_date = DATE '$Day'",
      (s, dir) =>
        MarketQueries.avgSecondsIntoDay(silverForDays(s, dir, Day, nextDay(Day)), Day)),

    // Q11 — secondary-index analog: price-band filter.
    BoardQuery("q11_price_band", P + """
      SELECT symbol, COUNT(*) AS n_trades, ROUND(MIN(price), 4) AS min_price,
             ROUND(MAX(price), 4) AS max_price
      FROM silver WHERE price BETWEEN 50 AND 100 GROUP BY symbol""",
      (s, dir) => MarketQueries.priceBand(silverDf(s, dir), 50.0, 100.0)),

    // Q12 — catalog/table health check.
    BoardQuery("q12_catalog", graft.sources.Tables.tableNames
      .map(n => s"SELECT '$n' AS table_name, COUNT(*) AS n_rows FROM $n")
      .mkString(" UNION ALL "),
      MarketQueries.catalogSummary),

    // H1 — TPC-H-style pricing summary (scan-heavy agg benchmark).
    BoardQuery("h1_pricing_summary", TpchQueries.pricingSummarySql,
      TpchQueries.pricingSummary),

    // H3 — TPC-H-style shipping priority (3-way join + top-k).
    BoardQuery("h3_shipping_priority", TpchQueries.shippingPrioritySql,
      TpchQueries.shippingPriority))

  /** The driver contract's views of the whole board ([[Board.all]]):
    * name → run function, and name → oracle SQL.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Board.all.map(q => q.name -> q.run).toMap
  def oracleSql: Map[String, String] = Board.all.map(q => q.name -> q.oracleSql).toMap
}
