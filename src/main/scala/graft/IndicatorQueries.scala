package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max_by, to_date}

import graft.operators.Indicators
import graft.streaming.IndicatorStream

/** Oracle-checked query entries for the technical indicators
  * (operators/Indicators.scala) — the b-prefixed family. Inputs are
  * the deterministic silver layer shared with the a- and q-queries.
  */
object IndicatorQueries {

  def board: Seq[BoardQuery] = Seq(
    // B1 — rolling SMA + Bollinger bands (20-trade window).
    BoardQuery("b1_sma_bollinger", smaBollingerSql, (s, dir) =>
      Indicators.smaBollinger(SparkEntry.silverDf(s, dir), n = 20)),

    // B2 — per-trade returns, top-5 daily movers by |return|.
    BoardQuery("b2_top_movers", topMoversSql, (s, dir) =>
      Indicators.topMovers(SparkEntry.silverDf(s, dir), k = 5)),

    // B3 — RSI-14 (simple-average form, integer e4 units).
    BoardQuery("b3_rsi", rsiSql, (s, dir) =>
      Indicators.rsi(SparkEntry.silverDf(s, dir), n = 14)),

    // B4 — z-score price-spike counts per symbol/day.
    BoardQuery("b4_spike_counts", spikeCountsSql, (s, dir) =>
      Indicators.spikeCounts(SparkEntry.silverDf(s, dir), n = 20, z = 3)),

    // B6 — per-symbol/day max drawdown vs running peak + cumulative
    // return, exact e6 integer fractions.
    BoardQuery("b6_drawdown", drawdownSql, (s, dir) =>
      Indicators.drawdown(SparkEntry.silverDf(s, dir))),

    // B7 — MACD(12,26,9) end state per symbol over daily closes.
    BoardQuery("b7_macd", macdSql, (s, dir) =>
      Indicators.macdDaily(SparkEntry.silverDf(s, dir))),

    // B8 — pairwise daily-return covariance/correlation.
    BoardQuery("b8_return_cov", returnCovSql, (s, dir) =>
      Indicators.returnCovariance(SparkEntry.silverDf(s, dir))),

    // B9 — market beta per symbol vs the equal-weight index.
    BoardQuery("b9_market_beta", marketBetaSql, (s, dir) =>
      Indicators.marketBeta(SparkEntry.silverDf(s, dir))),

    // B10 — on-balance volume per symbol (exact longs end to end).
    BoardQuery("b10_obv", obvSql, (s, dir) =>
      Indicators.obv(SparkEntry.silverDf(s, dir))),

    // B11 — 14-day Average True Range over daily bars.
    BoardQuery("b11_atr", atrSql, (s, dir) =>
      Indicators.atr(SparkEntry.silverDf(s, dir), n = 14)),

    // B12 — stochastic oscillator %K/%D (14, 3) over daily bars.
    BoardQuery("b12_stochastic", stochasticSql, (s, dir) =>
      Indicators.stochastic(SparkEntry.silverDf(s, dir), n = 14)),

    // B13 — TWAP per symbol/day (time-weighted average price, exact
    // integer interval weighting; VWAP's execution-benchmark sibling).
    BoardQuery("b13_twap", twapSql, (s, dir) =>
      Indicators.twap(SparkEntry.silverDf(s, dir))),

    // B14 — realized volatility per symbol/day from 5m close log
    // returns (exact e6-quantized returns, long sum of squares).
    BoardQuery("b14_realized_vol", realizedVolSql, (s, dir) =>
      Indicators.realizedVol(SparkEntry.silverDf(s, dir))),

    // B15 — Parkinson + Garman-Klass range volatility from daily OHLC.
    BoardQuery("b15_range_vol", rangeVolSql, (s, dir) =>
      Indicators.rangeVol(SparkEntry.silverDf(s, dir))),

    // B16 — tick-rule trade classification + per-day order-flow
    // imbalance (Lee-Ready tick test with zero-tick inheritance).
    BoardQuery("b16_order_flow", orderFlowSql, (s, dir) =>
      Indicators.orderFlow(SparkEntry.silverDf(s, dir))),

    // B17 — Kyle's lambda: per-(symbol, day) price impact, the OLS
    // slope of 5m price change on tick-test signed flow (exact e9).
    BoardQuery("b17_kyle_lambda", kyleLambdaSql, (s, dir) =>
      Indicators.kyleLambda(SparkEntry.silverDf(s, dir))),

    // B18 — Amihud illiquidity: avg |daily ret| per dollar volume.
    BoardQuery("b18_amihud", amihudSql, (s, dir) =>
      Indicators.amihudIlliquidity(SparkEntry.silverDf(s, dir))),

    // B19 — Roll effective-spread estimator from serial covariance
    // of trade price changes (exact cov, double spread).
    BoardQuery("b19_roll_spread", rollSpreadSql, (s, dir) =>
      Indicators.rollSpread(SparkEntry.silverDf(s, dir))),

    // B20 — VPIN: order-flow toxicity over equal-volume buckets.
    BoardQuery("b20_vpin", vpinSql, (s, dir) =>
      Indicators.vpin(SparkEntry.silverDf(s, dir), nBuckets = 50)),

    // B21 — rolling VPIN on a fixed 2000-share volume bucket, the
    // live-trading form (trailing-10-bucket toxicity per bucket).
    BoardQuery("b21_vpin_rolling", vpinRollingSql, (s, dir) =>
      Indicators.vpinRolling(SparkEntry.silverDf(s, dir),
        bucketVolume = 2000L, window = 10)),

    // B22 — intraday seasonality: per (symbol, UTC hour) activity and
    // mean |return| (day-keyed lag — overnight gaps excluded).
    BoardQuery("b22_intraday_profile", intradayProfileSql, (s, dir) =>
      Indicators.intradayProfile(SparkEntry.silverDf(s, dir))),

    // B23 — quote-driven effective vs quoted spread: trades as-of
    // joined to the prevailing synthetic quote (quotes_raw finally
    // consumed — the reference declares the stream and never reads
    // it), per (symbol, UTC hour), exact e4/e6 integers.
    BoardQuery("b23_effective_spread", effectiveSpreadSql, (s, dir) => {
      val silver = SparkEntry.silverDf(s, dir)
      Indicators.effectiveSpread(silver, Indicators.syntheticQuotes(silver))
    }),

    // B24 — realized variance + bipower variation (jump diagnostic)
    // per (symbol, day): exact integer tick-increment sums, the
    // BNS decomposition with the irrational normalization left out.
    BoardQuery("b24_realized_bipower", realizedBipowerSql, (s, dir) =>
      Indicators.realizedBipower(SparkEntry.silverDf(s, dir))),

    // B25 — Lee-Ready trade classification: quote-midpoint test with
    // tick-test (zero-tick carry) fallback, per (symbol, day).
    BoardQuery("b25_lee_ready", leeReadySql, (s, dir) => {
      val silver = SparkEntry.silverDf(s, dir)
      Indicators.leeReady(silver, Indicators.syntheticQuotes(silver))
    }),

    // B5 — end-of-day EMA-14 per symbol, the recursion running
    // continuously from sequence start (streaming/IndicatorStream's
    // batch adapter — the one indicator a row-frame window cannot
    // express; oracle folds the same IEEE ops via list_reduce).
    BoardQuery("b5_ema_daily", emaDailySql, (s, dir) => {
      import s.implicits._
      val ticks = SparkEntry.silverDf(s, dir)
        .select(col("symbol"), col("price"), col("event_time"))
        .as[IndicatorStream.TradeTick]
      IndicatorStream.updatesBatch(s, ticks, n = 14).toDF()
        .groupBy(col("symbol"), to_date(col("event_time")).as("trade_date"))
        .agg(count(lit(1)).as("n_ticks"),
             max_by(col("ema"), col("event_time")).as("ema"))
    }))

  /** Shared tick CTE over the silver prelude: price as exact e4
    * integer ticks (mirrors Indicators.ticksE4).
    */
  private def ind: String = """ind AS (
    SELECT event_id, symbol, price, event_time, trade_date,
           CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT) AS px
    FROM silver
  )"""

  /** Shared daily-bar CTE for the bar-level indicator oracles
    * (mirrors Indicators.dailyBars): deterministic close via
    * ROW_NUMBER over (event_time DESC, event_id DESC), extrema and
    * volume as exact integers.
    */
  private def dailyb: String = """dailyb AS (
    SELECT symbol, trade_date,
           MAX(px) AS high, MIN(px) AS low,
           MAX(CASE WHEN rn = 1 THEN px END) AS close,
           CAST(SUM(volume) AS BIGINT) AS day_volume
    FROM (SELECT symbol, trade_date, volume,
                 CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT) AS px,
                 ROW_NUMBER() OVER (PARTITION BY symbol, trade_date
                                    ORDER BY event_time DESC, event_id DESC) AS rn
          FROM silver)
    GROUP BY symbol, trade_date
  )"""

  /** Shared CTE chain for the b21 fixed-bucket volume clock: P prelude
    * → e4 ticks (pxv) → per-(symbol, trade_date) tick-test
    * classification (cls) → per-symbol cumulative volume clock (cum)
    * → per-bucket flow aggregates (pb). b21's oracle adds the rolling
    * window on top; sr4's streaming-replay oracle reuses the chain
    * verbatim and filters to completed buckets.
    */
  private[graft] val vpinRollingPb: String = SparkEntry.P + """, pxv AS (
      SELECT symbol, trade_date, event_time, volume,
             CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT) AS px
      FROM silver
    ), cls AS (
      SELECT symbol, event_time, volume,
             LAST_VALUE(CASE WHEN prev_px IS NULL THEN NULL
                             WHEN px > prev_px THEN 1
                             WHEN px < prev_px THEN -1 END IGNORE NULLS)
               OVER (PARTITION BY symbol, trade_date ORDER BY event_time
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sign
      FROM (SELECT symbol, trade_date, event_time, volume, px,
                   LAG(px, 1) OVER (PARTITION BY symbol, trade_date
                                    ORDER BY event_time) AS prev_px
            FROM pxv)
    ), cum AS (
      SELECT symbol, volume, sign,
             COALESCE(SUM(volume) OVER (PARTITION BY symbol ORDER BY event_time
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
      FROM cls
    ), pb AS (
      SELECT symbol, cum_prev // 2000 AS bucket,
             SUM(CASE WHEN sign = 1 THEN volume ELSE 0 END) AS buy,
             SUM(CASE WHEN sign = -1 THEN volume ELSE 0 END) AS sell,
             SUM(volume) AS vol
      FROM cum GROUP BY 1, 2
    )"""

  // B13: TWAP — integer millis weights (event_time unique per symbol
  // after silver dedup), price_e4·duration summed as HUGEINT, one
  // truncating integral division (`//` = Spark `div`).
  val twapSql: String = SparkEntry.P + """
      , wt AS (
        SELECT symbol, trade_date,
               CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT) AS px,
               COALESCE(
                 LEAD(epoch_ms(event_time)) OVER (PARTITION BY symbol, trade_date
                                                  ORDER BY event_time),
                 epoch_ms(CAST(trade_date AS TIMESTAMP)) + 86400000
               ) - epoch_ms(event_time) AS dur_ms
        FROM silver
      )
      SELECT symbol, trade_date, COUNT(*) AS n_trades,
             CAST(SUM(dur_ms) AS BIGINT) AS span_ms,
             CAST(SUM(px * dur_ms) * 100 // SUM(dur_ms) AS BIGINT) AS twap_e6
      FROM wt GROUP BY symbol, trade_date"""

  // B10: integer-only signed cumulative volume; the window ordering
  // (symbol, trade_date) is total after the daily aggregate.
  val obvSql: String = SparkEntry.P + s""", $dailyb, sv AS (
      SELECT symbol, trade_date, close, day_volume,
             LAG(close) OVER (PARTITION BY symbol ORDER BY trade_date) AS prev_close
      FROM dailyb
    ), sgn AS (
      SELECT symbol, trade_date, close, day_volume,
             CASE WHEN prev_close IS NULL OR close = prev_close THEN CAST(0 AS BIGINT)
                  WHEN close > prev_close THEN day_volume
                  ELSE -day_volume END AS signed_vol
      FROM sv
    )
    SELECT symbol, trade_date, close AS close_px, day_volume, signed_vol,
           CAST(SUM(signed_vol) OVER (PARTITION BY symbol ORDER BY trade_date
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS obv
    FROM sgn"""

  // B11: true range as exact integers; atr is one division of two
  // exact integers (correctly rounded, hence bit-equal to Spark).
  val atrSql: String = SparkEntry.P + s""", $dailyb, sv AS (
      SELECT symbol, trade_date, high, low, close,
             LAG(close) OVER (PARTITION BY symbol ORDER BY trade_date) AS prev_close
      FROM dailyb
    ), trr AS (
      SELECT symbol, trade_date,
             CASE WHEN prev_close IS NULL THEN high - low
                  ELSE GREATEST(high - low, ABS(high - prev_close),
                                ABS(low - prev_close)) END AS tr
      FROM sv
    )
    SELECT symbol, trade_date, tr,
           CAST(SUM(tr) OVER w AS BIGINT) AS tr_sum,
           COUNT(*) OVER w AS n_tr,
           CAST(CAST(SUM(tr) OVER w AS BIGINT) AS DOUBLE)
             / CAST(COUNT(*) OVER w AS DOUBLE) AS atr
    FROM trr
    WINDOW w AS (PARTITION BY symbol ORDER BY trade_date
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)"""

  // B12: %K is the literal (cast*100.0)/cast tree, %D the literal
  // ((k + lag1) + lag2)/3.0 tree — both mirror the Spark operator
  // op for op, so the doubles are bit-exact; NULLs (flat windows,
  // first two %D days) propagate identically.
  val stochasticSql: String = SparkEntry.P + s""", $dailyb, ext AS (
      SELECT symbol, trade_date, close,
             MAX(high) OVER w AS hh, MIN(low) OVER w AS ll
      FROM dailyb
      WINDOW w AS (PARTITION BY symbol ORDER BY trade_date
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ), k AS (
      SELECT symbol, trade_date,
             close - ll AS k_num, hh - ll AS k_den,
             CASE WHEN hh - ll > 0 THEN
               CAST(close - ll AS DOUBLE) * 100.0 / CAST(hh - ll AS DOUBLE)
             END AS pct_k
      FROM ext
    )
    SELECT symbol, trade_date, k_num, k_den, pct_k,
           ((pct_k + LAG(pct_k, 1) OVER ws) + LAG(pct_k, 2) OVER ws) / 3.0 AS pct_d
    FROM k
    WINDOW ws AS (PARTITION BY symbol ORDER BY trade_date)"""

  val smaBollingerSql: String = SparkEntry.P + s""", $ind, wnd AS (
      SELECT symbol, event_time, price,
             COUNT(*) OVER w AS cnt,
             CAST(SUM(px) OVER w AS BIGINT) AS s1,
             SUM(CAST(px AS HUGEINT) * px) OVER w AS s2
      FROM ind
      WINDOW w AS (PARTITION BY symbol ORDER BY event_time
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, epoch_ms(event_time) AS ts_ms, price, cnt,
           CAST((s1 * 100) // cnt AS BIGINT) AS sma_e6,
           CAST(cnt * s2 - CAST(s1 AS HUGEINT) * s1 AS BIGINT) AS var_num,
           CAST(s1 AS DOUBLE) / CAST(cnt * 10000 AS DOUBLE) AS sma,
           CAST(s1 AS DOUBLE) / CAST(cnt * 10000 AS DOUBLE)
             + 2.0 * sqrt(CAST(cnt * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                          / CAST(cnt * cnt * 100000000 AS DOUBLE)) AS bb_upper,
           CAST(s1 AS DOUBLE) / CAST(cnt * 10000 AS DOUBLE)
             - 2.0 * sqrt(CAST(cnt * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
                          / CAST(cnt * cnt * 100000000 AS DOUBLE)) AS bb_lower
    FROM wnd"""

  val topMoversSql: String = SparkEntry.P + s""", $ind, rets AS (
      SELECT trade_date, symbol, event_id, price,
             CAST(px - prev_px AS DOUBLE) / CAST(prev_px AS DOUBLE) AS ret
      FROM (SELECT *, lag(px) OVER (PARTITION BY symbol ORDER BY event_time) AS prev_px
            FROM ind)
      WHERE prev_px IS NOT NULL
    )
    SELECT trade_date, CAST(rnk AS INT) AS rnk, symbol, event_id, price, ret
    FROM (SELECT *, row_number() OVER (PARTITION BY trade_date
                      ORDER BY abs(ret) DESC, symbol, event_id) AS rnk
          FROM rets)
    WHERE rnk <= 5"""

  val rsiSql: String = SparkEntry.P + s""", $ind, g AS (
      SELECT symbol, event_time, price,
             greatest(diff, 0) AS gain, greatest(-diff, 0) AS loss
      FROM (SELECT *, px - lag(px) OVER (PARTITION BY symbol ORDER BY event_time) AS diff
            FROM ind)
      WHERE diff IS NOT NULL
    ), wnd AS (
      SELECT symbol, event_time, price,
             CAST(SUM(gain) OVER w AS BIGINT) AS gain_sum,
             CAST(SUM(loss) OVER w AS BIGINT) AS loss_sum,
             COUNT(*) OVER w AS n_diffs
      FROM g
      WINDOW w AS (PARTITION BY symbol ORDER BY event_time
                   ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, epoch_ms(event_time) AS ts_ms, price,
           CASE WHEN gain_sum + loss_sum = 0 THEN NULL
                ELSE CAST((gain_sum * 1000000) // (gain_sum + loss_sum) AS BIGINT)
           END AS rsi_e4
    FROM wnd WHERE n_diffs = 14"""

  val spikeCountsSql: String = SparkEntry.P + s""", $ind, wnd AS (
      SELECT symbol, trade_date, px,
             COUNT(*) OVER w AS cnt,
             CAST(SUM(px) OVER w AS BIGINT) AS s1,
             SUM(CAST(px AS HUGEINT) * px) OVER w AS s2
      FROM ind
      WINDOW w AS (PARTITION BY symbol ORDER BY event_time
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT symbol, trade_date, COUNT(*) AS n_windows,
           CAST(SUM(CASE WHEN CAST(dev AS HUGEINT) * dev > 9 * (cnt * s2 - CAST(s1 AS HUGEINT) * s1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_spikes
    FROM (SELECT symbol, trade_date, cnt, s1, s2, cnt * px - s1 AS dev
          FROM wnd WHERE cnt = 20)
    GROUP BY symbol, trade_date"""

  // B6: the running peak / first price as ordered-window aggregates,
  // drawdown + cumulative return in the same exact e4/e6 integer
  // arithmetic. Integer "//" TRUNCATES toward zero exactly like
  // Spark's div (see b8's note; it is not floor) — and every
  // operand here is non-negative anyway, where the two coincide.
  val drawdownSql: String = SparkEntry.P + s""", $ind, wnd AS (
      SELECT symbol, trade_date, event_time, event_id, px,
             MAX(px) OVER w AS peak,
             first_value(px) OVER w AS first_px,
             ROW_NUMBER() OVER (PARTITION BY symbol, trade_date
                                ORDER BY event_time DESC, event_id DESC) AS rn
      FROM ind
      WINDOW w AS (PARTITION BY symbol ORDER BY event_time, event_id
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT symbol, trade_date,
           CAST(MAX((peak - px) * 1000000 // peak) AS BIGINT) AS max_drawdown_e6,
           MAX(CASE WHEN rn = 1 THEN px END) AS close_px,
           CAST(MAX(peak) AS BIGINT) AS peak_px,
           CAST(MAX(CASE WHEN rn = 1 THEN px END) * 1000000 // MIN(first_px) - 1000000 AS BIGINT) AS cum_ret_e6
    FROM wnd
    GROUP BY symbol, trade_date"""

  // B7: the EMA folds as plain-double list_reduce (the b5-proven
  // path — this DuckDB's list_reduce with a STRUCT accumulator
  // miscomputes fields that read sibling accumulator fields, found
  // live by this oracle's first form). The macd series comes from
  // prefix folds (O(days²) per symbol — an oracle can afford naive),
  // and the signal is one more double fold over it; each prefix
  // fold replays exactly the operator's per-step IEEE ops, so
  // equality stays bit-exact. list_reduce seeds from the first
  // element: macds[1] = 0 = the operator's signal seed.
  val macdSql: String = SparkEntry.P + """, daily AS (
      SELECT symbol, trade_date, price AS close
      FROM (SELECT symbol, trade_date, price,
                   ROW_NUMBER() OVER (PARTITION BY symbol, trade_date
                                      ORDER BY event_time DESC, event_id DESC) AS rn
            FROM silver)
      WHERE rn = 1
    ), seq AS (
      SELECT symbol, list(close ORDER BY trade_date) AS cs FROM daily GROUP BY symbol
    ), pre AS (
      SELECT symbol, CAST(len(cs) AS BIGINT) AS n_days,
             list_reduce(cs, (acc, x) -> (2::DOUBLE / 13::DOUBLE) * x
                         + (1::DOUBLE - 2::DOUBLE / 13::DOUBLE) * acc) AS e12,
             list_reduce(cs, (acc, x) -> (2::DOUBLE / 27::DOUBLE) * x
                         + (1::DOUBLE - 2::DOUBLE / 27::DOUBLE) * acc) AS e26,
             list_transform(generate_series(1, len(cs)), i ->
               list_reduce(cs[1:i], (acc, x) -> (2::DOUBLE / 13::DOUBLE) * x
                           + (1::DOUBLE - 2::DOUBLE / 13::DOUBLE) * acc)
               - list_reduce(cs[1:i], (acc, x) -> (2::DOUBLE / 27::DOUBLE) * x
                             + (1::DOUBLE - 2::DOUBLE / 27::DOUBLE) * acc)) AS macds
      FROM seq
    ), sg AS (
      SELECT symbol, n_days, e12, e26,
             list_reduce(macds, (acc, x) -> (2::DOUBLE / 10::DOUBLE) * x
                         + (1::DOUBLE - 2::DOUBLE / 10::DOUBLE) * acc) AS sig
      FROM pre
    )
    SELECT symbol, n_days, e12 AS ema12, e26 AS ema26,
           e12 - e26 AS macd, sig AS signal,
           e12 - e26 - sig AS histogram
    FROM sg"""

  // B8: integer // truncates toward zero here exactly like Spark's
  // div (so negative returns agree). The moment numerators exceed
  // 2^53, so they ship as VARCHAR — exact text survives every
  // reader identically, whereas a DECIMAL(38,0) output column is
  // read exactly (pyarrow decimal.Decimal) on the Spark side but
  // collapsed to float64 by DuckDB's .df() on the oracle side and
  // can never hash-match above 2^53 (round-5 driver finding; the
  // round-4 direct HUGEINT→DOUBLE cast before that double-rounded
  // negatives by 1 ulp). `corr` needs the numerators as doubles;
  // the VARCHAR-mediated cast IS correctly rounded here (fast_float
  // strtod — verified against Python's correctly-rounded float()
  // over 4000 random >2^53 integers: direct cast missed 56,
  // via-string missed 0), matching Spark's correctly-rounded
  // decimal→double, so corr is bit-identical with no ROUND needed.
  val returnCovSql: String = SparkEntry.P + """, daily AS (
      SELECT symbol, trade_date,
             CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT) AS close_px
      FROM (SELECT symbol, trade_date, price,
                   ROW_NUMBER() OVER (PARTITION BY symbol, trade_date
                                      ORDER BY event_time DESC, event_id DESC) AS rn
            FROM silver)
      WHERE rn = 1
    ), rets AS (
      SELECT symbol, trade_date,
             (close_px - prev_px) * 1000000 // prev_px AS ret_e6
      FROM (SELECT *, lag(close_px) OVER (PARTITION BY symbol ORDER BY trade_date) AS prev_px
            FROM daily)
      WHERE prev_px IS NOT NULL
    ), pairs AS (
      SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.ret_e6 AS ra, b.ret_e6 AS rb
      FROM rets a JOIN rets b ON a.trade_date = b.trade_date AND a.symbol < b.symbol
    ), m AS (
      SELECT sym_a, sym_b, COUNT(*) AS n_days,
             COUNT(*) * SUM(CAST(ra AS HUGEINT) * rb)
                  - SUM(CAST(ra AS HUGEINT)) * SUM(CAST(rb AS HUGEINT)) AS cov_h,
             COUNT(*) * SUM(CAST(ra AS HUGEINT) * ra)
                  - SUM(CAST(ra AS HUGEINT)) * SUM(CAST(ra AS HUGEINT)) AS var_a_h,
             COUNT(*) * SUM(CAST(rb AS HUGEINT) * rb)
                  - SUM(CAST(rb AS HUGEINT)) * SUM(CAST(rb AS HUGEINT)) AS var_b_h
      FROM pairs GROUP BY sym_a, sym_b
    )
    SELECT sym_a, sym_b, n_days,
           CAST(cov_h AS VARCHAR) AS cov_num,
           CAST(var_a_h AS VARCHAR) AS var_a_num,
           CAST(var_b_h AS VARCHAR) AS var_b_num,
           CASE WHEN var_a_h > 0 AND var_b_h > 0
                THEN CAST(CAST(cov_h AS VARCHAR) AS DOUBLE)
                     / sqrt(CAST(CAST(var_a_h AS VARCHAR) AS DOUBLE)
                            * CAST(CAST(var_b_h AS VARCHAR) AS DOUBLE))
           END AS corr
    FROM m"""

  // B9: b8's daily-return frame joined to the equal-weight market
  // mean (floored integer division of a possibly-negative sum —
  // DuckDB SUM(BIGINT) widens to HUGEINT, whose // also truncates
  // toward zero like Spark's div). Moment numerators ship as
  // VARCHAR and beta divides VARCHAR-mediated correctly-rounded
  // doubles — the b8 >2^53 posture.
  val marketBetaSql: String = SparkEntry.P + """, daily AS (
      SELECT symbol, trade_date,
             CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT) AS close_px
      FROM (SELECT symbol, trade_date, price,
                   ROW_NUMBER() OVER (PARTITION BY symbol, trade_date
                                      ORDER BY event_time DESC, event_id DESC) AS rn
            FROM silver)
      WHERE rn = 1
    ), rets AS (
      SELECT symbol, trade_date,
             (close_px - prev_px) * 1000000 // prev_px AS ret_e6
      FROM (SELECT *, lag(close_px) OVER (PARTITION BY symbol ORDER BY trade_date) AS prev_px
            FROM daily)
      WHERE prev_px IS NOT NULL
    ), mkt AS (
      SELECT trade_date, CAST(SUM(ret_e6) // COUNT(*) AS BIGINT) AS mret_e6
      FROM rets GROUP BY trade_date
    ), j AS (
      SELECT r.symbol, r.ret_e6, m.mret_e6
      FROM rets r JOIN mkt m ON r.trade_date = m.trade_date
    ), m2 AS (
      SELECT symbol, COUNT(*) AS n_days,
             COUNT(*) * SUM(CAST(ret_e6 AS HUGEINT) * mret_e6)
                  - SUM(CAST(ret_e6 AS HUGEINT)) * SUM(CAST(mret_e6 AS HUGEINT)) AS cov_h,
             COUNT(*) * SUM(CAST(mret_e6 AS HUGEINT) * mret_e6)
                  - SUM(CAST(mret_e6 AS HUGEINT)) * SUM(CAST(mret_e6 AS HUGEINT)) AS var_h
      FROM j GROUP BY symbol
    )
    SELECT symbol, n_days,
           CAST(cov_h AS VARCHAR) AS cov_num,
           CAST(var_h AS VARCHAR) AS var_m_num,
           CASE WHEN var_h > 0
                THEN CAST(CAST(cov_h AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(var_h AS VARCHAR) AS DOUBLE)
           END AS beta
    FROM m2"""

  // B14: 5m closes as deterministic last-by-(time,id) tick longs;
  // each return = ONE ln() of a correctly-rounded quotient of exact
  // doubles, floored to e6 BEFORE the (exact BIGINT) sum of squares.
  // sqrt input goes HUGEINT→BIGINT→DOUBLE (the b8 posture: the
  // direct HUGEINT→DOUBLE cast double-rounds).
  val realizedVolSql: String = SparkEntry.P + """, cl AS (
      SELECT symbol, trade_date, ws_ms,
             MAX(CASE WHEN rn = 1 THEN px END) AS close
      FROM (SELECT symbol, trade_date,
                   epoch_ms(event_time) - epoch_ms(event_time) % 300000 AS ws_ms,
                   CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT) AS px,
                   ROW_NUMBER() OVER (
                     PARTITION BY symbol, trade_date,
                       epoch_ms(event_time) - epoch_ms(event_time) % 300000
                     ORDER BY event_time DESC, event_id DESC) AS rn
            FROM silver)
      GROUP BY symbol, trade_date, ws_ms
    ), r AS (
      SELECT symbol, trade_date,
             CASE WHEN prev_close IS NOT NULL THEN
               CAST(floor(ln(CAST(close AS DOUBLE) / CAST(prev_close AS DOUBLE))
                          * 1000000.0) AS BIGINT)
             END AS r_e6
      FROM (SELECT *, LAG(close) OVER (PARTITION BY symbol, trade_date
                                       ORDER BY ws_ms) AS prev_close
            FROM cl)
    )
    SELECT symbol, trade_date,
           COUNT(*) AS n_bars,
           COUNT(r_e6) AS n_returns,
           CAST(SUM(r_e6 * r_e6) AS BIGINT) AS rv_e12,
           CASE WHEN SUM(r_e6 * r_e6) IS NOT NULL THEN
             CAST(floor(sqrt(CAST(CAST(SUM(r_e6 * r_e6) AS BIGINT) AS DOUBLE))) AS BIGINT)
           END AS day_vol_e6
    FROM r GROUP BY symbol, trade_date"""

  // B15: daily OHLC as tick longs (open/close deterministic by the
  // two row_number orderings); the Parkinson / Garman-Klass constants
  // are decimal literals byte-identical to the Spark side, so both
  // engines parse the same double and the IEEE trees match op-for-op.
  val rangeVolSql: String = SparkEntry.P + s""", $ind, dly AS (
      SELECT symbol, trade_date,
             MAX(CASE WHEN rn_a = 1 THEN px END) AS open,
             MAX(px) AS high, MIN(px) AS low,
             MAX(CASE WHEN rn_d = 1 THEN px END) AS close
      FROM (SELECT symbol, trade_date, px,
                   ROW_NUMBER() OVER (PARTITION BY symbol, trade_date
                                      ORDER BY event_time ASC, event_id ASC) AS rn_a,
                   ROW_NUMBER() OVER (PARTITION BY symbol, trade_date
                                      ORDER BY event_time DESC, event_id DESC) AS rn_d
            FROM ind)
      GROUP BY symbol, trade_date
    )
    SELECT symbol, trade_date, open, high, low, close,
           CAST(floor(ln(CAST(high AS DOUBLE) / CAST(low AS DOUBLE))
                      * 1000000000.0) AS BIGINT) AS lhl_e9,
           CAST(floor(ln(CAST(close AS DOUBLE) / CAST(open AS DOUBLE))
                      * 1000000000.0) AS BIGINT) AS lco_e9,
           CAST(floor(ln(CAST(high AS DOUBLE) / CAST(low AS DOUBLE))
                      * ln(CAST(high AS DOUBLE) / CAST(low AS DOUBLE))
                      * 0.36067376022224085 * 1000000000.0) AS BIGINT) AS park_e9,
           CAST(floor((0.5 * (ln(CAST(high AS DOUBLE) / CAST(low AS DOUBLE))
                              * ln(CAST(high AS DOUBLE) / CAST(low AS DOUBLE)))
                       - 0.3862943611198906
                         * (ln(CAST(close AS DOUBLE) / CAST(open AS DOUBLE))
                            * ln(CAST(close AS DOUBLE) / CAST(open AS DOUBLE))))
                      * 1000000000.0) AS BIGINT) AS gk_e9
    FROM dly"""

  // B16: the zero-tick inheritance is last_value(... IGNORE NULLS)
  // over the ordered per-day frame, not a recursion. silver is
  // deduped on (symbol, event_time), so the ORDER BY is total.
  // "//" truncates toward zero = Spark div (the numerator CAN be
  // negative here).
  val orderFlowSql: String = SparkEntry.P + """, pxv AS (
      SELECT symbol, trade_date, event_time, volume,
             CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT) AS px
      FROM silver
    ), cls AS (
      SELECT symbol, trade_date, volume,
             LAST_VALUE(CASE WHEN prev_px IS NULL THEN NULL
                             WHEN px > prev_px THEN 1
                             WHEN px < prev_px THEN -1 END IGNORE NULLS)
               OVER (PARTITION BY symbol, trade_date ORDER BY event_time
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sign
      FROM (SELECT symbol, trade_date, event_time, volume, px,
                   LAG(px, 1) OVER (PARTITION BY symbol, trade_date
                                    ORDER BY event_time) AS prev_px
            FROM pxv)
    )
    SELECT symbol, trade_date,
           CAST(SUM(CASE WHEN sign = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_buy,
           CAST(SUM(CASE WHEN sign = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sell,
           CAST(SUM(CASE WHEN sign IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unclassified,
           CAST(SUM(CASE WHEN sign = 1 THEN volume ELSE 0 END) AS BIGINT) AS buy_vol,
           CAST(SUM(CASE WHEN sign = -1 THEN volume ELSE 0 END) AS BIGINT) AS sell_vol,
           CASE WHEN SUM(CASE WHEN sign = 1 THEN volume ELSE 0 END)
                   + SUM(CASE WHEN sign = -1 THEN volume ELSE 0 END) = 0
                THEN CAST(0 AS BIGINT)
                ELSE CAST((SUM(CASE WHEN sign = 1 THEN volume ELSE 0 END)
                           - SUM(CASE WHEN sign = -1 THEN volume ELSE 0 END)) * 1000000
                          // (SUM(CASE WHEN sign = 1 THEN volume ELSE 0 END)
                             + SUM(CASE WHEN sign = -1 THEN volume ELSE 0 END)) AS BIGINT)
           END AS flow_imbalance_e6
    FROM cls GROUP BY symbol, trade_date"""

  // B17: same cls pass as B16, then 5m bins (Δp = close−open px,
  // q = signed flow) and the closed-form OLS slope in HUGEINT —
  // mirrors the decimal(38,0) sufficient statistics exactly; "//"
  // truncates toward zero = Spark div (numerator can be negative).
  // Within a (symbol, bin) event_time is unique (silver dedup), so
  // single-key arg_min/arg_max match minByOrd2/maxByOrd2.
  val kyleLambdaSql: String = SparkEntry.P + """, pxv AS (
      SELECT symbol, trade_date, event_time, volume,
             CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT) AS px
      FROM silver
    ), cls AS (
      SELECT symbol, trade_date, event_time, volume, px,
             LAST_VALUE(CASE WHEN prev_px IS NULL THEN NULL
                             WHEN px > prev_px THEN 1
                             WHEN px < prev_px THEN -1 END IGNORE NULLS)
               OVER (PARTITION BY symbol, trade_date ORDER BY event_time
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sign
      FROM (SELECT symbol, trade_date, event_time, volume, px,
                   LAG(px, 1) OVER (PARTITION BY symbol, trade_date
                                    ORDER BY event_time) AS prev_px
            FROM pxv)
    ), bins AS (
      SELECT symbol, trade_date,
             epoch_ms(event_time) - epoch_ms(event_time) % 300000 AS ws_ms,
             CAST(SUM(COALESCE(sign, 0) * volume) AS BIGINT) AS q,
             arg_max(px, event_time) - arg_min(px, event_time) AS dp
      FROM cls GROUP BY symbol, trade_date, ws_ms
    )
    SELECT symbol, trade_date,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(q) AS BIGINT) AS net_flow,
           CASE WHEN COUNT(*) * SUM(CAST(q AS HUGEINT) * q)
                     - SUM(CAST(q AS HUGEINT)) * SUM(CAST(q AS HUGEINT)) = 0
                THEN NULL
                ELSE CAST((COUNT(*) * SUM(CAST(q AS HUGEINT) * dp)
                           - SUM(CAST(q AS HUGEINT)) * SUM(CAST(dp AS HUGEINT)))
                          * 1000000000
                          // (COUNT(*) * SUM(CAST(q AS HUGEINT) * q)
                             - SUM(CAST(q AS HUGEINT)) * SUM(CAST(q AS HUGEINT)))
                          AS BIGINT) END AS lambda_e9
    FROM bins GROUP BY symbol, trade_date"""

  // B18: mirror of amihudIlliquidity — dailyb-style close (rn=1
  // over DESC) + exact pv sum, the LAG return, and two truncating
  // HUGEINT divisions (// = Spark div on decimal(38,0)).
  val amihudSql: String = SparkEntry.P + """, dcv AS (
      SELECT symbol, trade_date,
             MAX(CASE WHEN rn = 1 THEN px END) AS close,
             SUM(pv) AS pv_ticks
      FROM (SELECT symbol, trade_date,
                   CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT) AS px,
                   CAST(CAST(price AS DECIMAL(18,4)) * volume * 10000 AS BIGINT) AS pv,
                   ROW_NUMBER() OVER (PARTITION BY symbol, trade_date
                                      ORDER BY event_time DESC, event_id DESC) AS rn
            FROM silver)
      GROUP BY symbol, trade_date
    ), rets AS (
      SELECT symbol, trade_date, pv_ticks,
             CAST((close - LAG(close) OVER w) * 1000000
                  // LAG(close) OVER w AS BIGINT) AS ret_e6
      FROM dcv
      WINDOW w AS (PARTITION BY symbol ORDER BY trade_date)
    ), di AS (
      SELECT symbol,
             CAST(CAST(ABS(ret_e6) AS HUGEINT) * 1000000000000 // pv_ticks AS BIGINT) AS illiq_e12
      FROM rets WHERE ret_e6 IS NOT NULL
    )
    SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CAST(illiq_e12 AS HUGEINT)) // COUNT(*) AS BIGINT) AS avg_illiq_e12
    FROM di GROUP BY symbol"""

  // B19: exact HUGEINT serial-covariance statistics; cov_num ships
  // as VARCHAR (the b8 >2^53 posture) and the double spread routes
  // the HUGEINT->DOUBLE cast through VARCHAR for correct rounding
  // (a direct cast double-rounds — round-4 b8 finding), then runs
  // the same negate/divide/sqrt/x2 IEEE chain as the Spark side.
  val rollSpreadSql: String = SparkEntry.P + """, d1 AS (
      SELECT symbol, trade_date, event_time,
             CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT)
               - LAG(CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT))
                 OVER (PARTITION BY symbol, trade_date ORDER BY event_time) AS d
      FROM silver
    ), d2 AS (
      SELECT symbol, trade_date, d,
             LEAD(d) OVER (PARTITION BY symbol, trade_date ORDER BY event_time) AS d_next
      FROM d1
    ), st AS (
      SELECT symbol, trade_date,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             SUM(CAST(d AS HUGEINT) * d_next) AS s_dd,
             SUM(CAST(d AS HUGEINT)) AS s_d,
             SUM(CAST(d_next AS HUGEINT)) AS s_dn
      FROM d2 WHERE d IS NOT NULL AND d_next IS NOT NULL
      GROUP BY symbol, trade_date
    )
    SELECT symbol, trade_date, n_pairs,
           CAST(n_pairs * s_dd - s_d * s_dn AS VARCHAR) AS cov_num,
           CASE WHEN n_pairs * s_dd - s_d * s_dn < 0
                THEN 2.0 * sqrt(
                  -(CAST(CAST(n_pairs * s_dd - s_d * s_dn AS VARCHAR) AS DOUBLE))
                  / (CAST(n_pairs AS DOUBLE) * CAST(n_pairs AS DOUBLE)))
           END AS roll_spread_ticks
    FROM st"""

  // B20: B16's tick-test cls pass, the per-symbol volume clock
  // (cum_prev over event_time — unique per symbol after dedup),
  // floor bucket width clamped >=1, bucket id clamped to 49, and
  // one truncating HUGEINT division for vpin_e6.
  val vpinSql: String = SparkEntry.P + """, pxv AS (
      SELECT symbol, trade_date, event_time, volume,
             CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT) AS px
      FROM silver
    ), cls AS (
      SELECT symbol, event_time, volume,
             LAST_VALUE(CASE WHEN prev_px IS NULL THEN NULL
                             WHEN px > prev_px THEN 1
                             WHEN px < prev_px THEN -1 END IGNORE NULLS)
               OVER (PARTITION BY symbol, trade_date ORDER BY event_time
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sign
      FROM (SELECT symbol, trade_date, event_time, volume, px,
                   LAG(px, 1) OVER (PARTITION BY symbol, trade_date
                                    ORDER BY event_time) AS prev_px
            FROM pxv)
    ), tot AS (
      SELECT symbol, CAST(SUM(volume) AS BIGINT) AS tot_vol FROM cls GROUP BY symbol
    ), cum AS (
      SELECT c.symbol, c.volume, c.sign,
             COALESCE(SUM(c.volume) OVER (PARTITION BY c.symbol ORDER BY c.event_time
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev,
             GREATEST(t.tot_vol // 50, 1) AS vbucket
      FROM cls c JOIN tot t USING (symbol)
    ), pb AS (
      SELECT symbol, LEAST(cum_prev // vbucket, 49) AS bucket,
             SUM(CASE WHEN sign = 1 THEN volume ELSE 0 END) AS buy,
             SUM(CASE WHEN sign = -1 THEN volume ELSE 0 END) AS sell,
             SUM(volume) AS vol
      FROM cum GROUP BY 1, 2
    )
    SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(ABS(CAST(buy AS HUGEINT) - sell)) * 1000000 // SUM(vol) AS BIGINT) AS vpin_e6
    FROM pb GROUP BY symbol"""

  // B21 oracle: b20's classification CTEs, then an ABSOLUTE volume
  // clock (cum_prev // 2000 — no total), per-bucket flow aggregates
  // and a trailing-10-bucket rolling VPIN window per symbol. The
  // CTE chain (P → pxv → cls → cum → pb) is shared with sr4's
  // streaming-replay oracle, which filters it to completed buckets.
  val vpinRollingSql: String = vpinRollingPb + """
    SELECT symbol, CAST(bucket AS BIGINT) AS bucket, CAST(buy AS BIGINT) AS buy,
           CAST(sell AS BIGINT) AS sell, CAST(vol AS BIGINT) AS vol,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_in_window,
           CAST(SUM(ABS(CAST(buy AS HUGEINT) - sell)) OVER w * 1000000
                // SUM(vol) OVER w AS BIGINT) AS vpin_roll_e6
    FROM pb
    WINDOW w AS (PARTITION BY symbol ORDER BY bucket
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)"""

  // B22: the day-keyed LAG, integer hour from epoch micros (no
  // cross-engine EXTRACT), |Δpx|·1e6 in HUGEINT, truncating `//`.
  val intradayProfileSql: String = SparkEntry.P + """, pxv AS (
      SELECT symbol, volume,
             CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT) AS px,
             LAG(CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT), 1)
               OVER (PARTITION BY symbol, trade_date ORDER BY event_time) AS prev_px,
             CAST((epoch_us(event_time) // 3600000000) % 24 AS INT) AS hour
      FROM silver
    ), r AS (
      SELECT symbol, hour, volume,
             CAST(ABS(CAST(px AS HUGEINT) - prev_px) * 1000000 // prev_px AS BIGINT)
               AS abs_ret_e6
      FROM pxv
    )
    SELECT symbol, hour, CAST(COUNT(*) AS BIGINT) AS n_trades,
           CAST(SUM(volume) AS BIGINT) AS volume,
           CAST(COUNT(abs_ret_e6) AS BIGINT) AS n_rets,
           CAST(CASE WHEN COUNT(abs_ret_e6) = 0 THEN NULL
                     ELSE SUM(CAST(abs_ret_e6 AS HUGEINT)) // COUNT(abs_ret_e6)
                END AS BIGINT) AS mean_abs_ret_e6
    FROM r GROUP BY 1, 2"""

  // B23: DuckDB's native ASOF JOIN is the independent twin of the
  // tag-union-window as-of operator — different algorithm, same
  // at-or-before tie semantics (DuckDB's >= matches the right-row-
  // first sort at equal stamps). The staleness tolerance applies
  // POST-match on both engines: a matched-but-stale quote voids the
  // match rather than falling back to an older quote.
  val effectiveSpreadSql: String = SparkEntry.P + """, tq AS (
      SELECT symbol, trade_date, event_id, epoch_ms(event_time) AS t_ms,
             CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT) AS px_e4
      FROM silver
    ), quotes AS (
      SELECT symbol, trade_date, t_ms - 500 AS q_ms,
             px_e4 - GREATEST(1, px_e4 // 2000) AS bid_e4,
             px_e4 + GREATEST(1, px_e4 // 1000) AS ask_e4
      FROM tq WHERE event_id % 3 = 0
    ), j AS (
      SELECT t.symbol, t.t_ms, t.px_e4,
             CASE WHEN q.q_ms IS NOT NULL AND t.t_ms - q.q_ms <= 600000
                  THEN q.bid_e4 END AS bid_e4,
             CASE WHEN q.q_ms IS NOT NULL AND t.t_ms - q.q_ms <= 600000
                  THEN q.ask_e4 END AS ask_e4
      FROM tq t ASOF LEFT JOIN quotes q
        ON t.symbol = q.symbol AND t.trade_date = q.trade_date
           AND t.t_ms >= q.q_ms
    )
    SELECT symbol, t_ms - t_ms % 3600000 AS hour_ms,
           CAST(COUNT(*) AS BIGINT) AS n_trades,
           CAST(COUNT(bid_e4) AS BIGINT) AS n_quoted,
           CAST(SUM(ABS(2 * CAST(px_e4 AS HUGEINT) - (bid_e4 + ask_e4))) AS BIGINT)
             AS eff_sum_e4,
           CAST(SUM(CAST(ask_e4 AS HUGEINT) - bid_e4) AS BIGINT) AS quoted_sum_e4,
           CAST(SUM(2 * CAST(px_e4 AS HUGEINT) - (bid_e4 + ask_e4)) AS BIGINT)
             AS mid_dev_sum_e4,
           CAST(CASE WHEN SUM(CAST(ask_e4 AS HUGEINT) - bid_e4) > 0
                THEN SUM(ABS(2 * CAST(px_e4 AS HUGEINT) - (bid_e4 + ask_e4))) * 1000000
                     // SUM(CAST(ask_e4 AS HUGEINT) - bid_e4)
                END AS BIGINT) AS eff_vs_quoted_e6
    FROM j GROUP BY 1, 2"""

  // RV/BV: two stacked day-keyed lags, exact HUGEINT sums, one
  // truncating division — mirrors the Spark decimal(38,0) staging.
  val realizedBipowerSql: String = SparkEntry.P + """, px AS (
      SELECT symbol, trade_date, event_time,
             CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT) AS px_e4
      FROM silver
    ), dd AS (
      SELECT symbol, trade_date, event_time, px_e4 - lag(px_e4) OVER w AS d
      FROM px WINDOW w AS (PARTITION BY symbol, trade_date ORDER BY event_time)
    ), dd2 AS (
      SELECT symbol, trade_date, d, lag(d) OVER w AS prev_d
      FROM dd WINDOW w AS (PARTITION BY symbol, trade_date ORDER BY event_time)
    )
    SELECT symbol, trade_date, CAST(COUNT(d) AS BIGINT) AS n_rets,
           CAST(SUM(CAST(d AS HUGEINT) * d) AS BIGINT) AS rv_ticks2,
           CAST(SUM(ABS(CAST(d AS HUGEINT)) * ABS(prev_d)) AS BIGINT) AS bv_ticks2,
           CAST(CASE WHEN SUM(CAST(d AS HUGEINT) * d) > 0
                THEN SUM(ABS(CAST(d AS HUGEINT)) * ABS(prev_d)) * 1000000
                     // SUM(CAST(d AS HUGEINT) * d) END AS BIGINT) AS bv_vs_rv_e6
    FROM dd2 GROUP BY 1, 2"""

  // Lee-Ready: midpoint test on the b23 quote fixture (same ASOF +
  // staleness contract), tick test with zero-tick carry via
  // last_value IGNORE NULLS over the day-keyed frame.
  val leeReadySql: String = SparkEntry.P + """, tq AS (
      SELECT symbol, trade_date, event_id, epoch_ms(event_time) AS t_ms,
             epoch_us(event_time) AS t_us, volume,
             CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT) AS px_e4
      FROM silver
    ), quotes AS (
      SELECT symbol, trade_date, t_ms - 500 AS q_ms,
             px_e4 - GREATEST(1, px_e4 // 2000) AS bid_e4,
             px_e4 + GREATEST(1, px_e4 // 1000) AS ask_e4
      FROM tq WHERE event_id % 3 = 0
    ), j AS (
      SELECT t.symbol, t.trade_date, t.t_us, t.px_e4, t.volume,
             CASE WHEN q.q_ms IS NOT NULL AND t.t_ms - q.q_ms <= 600000
                  THEN q.bid_e4 + q.ask_e4 END AS mid2
      FROM tq t ASOF LEFT JOIN quotes q
        ON t.symbol = q.symbol AND t.trade_date = q.trade_date
           AND t.t_ms >= q.q_ms
    ), cls AS (
      SELECT *, last_value(dir IGNORE NULLS) OVER (
               PARTITION BY symbol, trade_date ORDER BY t_us
               ROWS UNBOUNDED PRECEDING) AS tick_dir
      FROM (
        SELECT *, NULLIF(SIGN(px_e4 - lag(px_e4) OVER (
                 PARTITION BY symbol, trade_date ORDER BY t_us)), 0) AS dir
        FROM j)
    ), sided AS (
      SELECT symbol, trade_date, volume,
             CASE WHEN mid2 IS NOT NULL AND 2 * px_e4 > mid2 THEN 1
                  WHEN mid2 IS NOT NULL AND 2 * px_e4 < mid2 THEN -1
                  ELSE COALESCE(tick_dir, 0) END AS side
      FROM cls
    )
    SELECT symbol, trade_date, CAST(COUNT(*) AS BIGINT) AS n_trades,
           CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_buy,
           CAST(SUM(CASE WHEN side = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sell,
           CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unclassified,
           CAST(SUM(CASE WHEN side = 1 THEN volume ELSE 0 END) AS BIGINT) AS buy_vol,
           CAST(SUM(CASE WHEN side = -1 THEN volume ELSE 0 END) AS BIGINT) AS sell_vol,
           CAST(SUM(CASE WHEN side = 1 THEN volume ELSE 0 END)
                - SUM(CASE WHEN side = -1 THEN volume ELSE 0 END) AS BIGINT) AS net_flow
    FROM sided GROUP BY 1, 2"""

  // The EMA recursion as a literal left fold over the per-symbol
  // price sequence: acc' = α·x + (1−α)·acc with α = 2/15 — the same
  // IEEE double ops in the same order as IndicatorStream.step, so
  // the result is bit-identical, not approximately equal. silver is
  // deduped on (symbol, event_time), so event_time order is total.
  val emaDailySql: String = SparkEntry.P + s""", seq AS (
      SELECT symbol, trade_date, event_time,
             COUNT(*) OVER (PARTITION BY symbol, trade_date) AS cnt,
             list(price) OVER (PARTITION BY symbol ORDER BY event_time
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pxs,
             row_number() OVER (PARTITION BY symbol, trade_date
                                ORDER BY event_time DESC) AS rn
      FROM silver
    )
    SELECT symbol, trade_date, CAST(cnt AS BIGINT) AS n_ticks,
           list_reduce(pxs, (acc, x) -> (2::DOUBLE / 15::DOUBLE) * x
                              + (1::DOUBLE - 2::DOUBLE / 15::DOUBLE) * acc) AS ema
    FROM seq WHERE rn = 1"""
}
