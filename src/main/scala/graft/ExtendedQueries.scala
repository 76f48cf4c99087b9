package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.{AsOfJoin, Sessions}

/** Extended analytics the reference lacks entirely (SURVEY.md §2.8
  * lists joins, set ops, rollup, ranking windows, sessions as absent):
  * the engine gets them Spark-first, each with a DuckDB oracle.
  */
object ExtendedQueries {

  /** Events with the normalized micros ordering key `ts_us` (full
    * source precision — no truncation ties against the oracle; all
    * `ts` encoding handling lives in Tables.normalizeEventTime).
    */
  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.eventsNorm(s, dir).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"), col("ts_us"))

  /** X1 — as-of join: each purchase enriched with the user's latest
    * prior view (trade-vs-quote shape).
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    val t = e.filter(col("event_type") === "purchase").drop("event_type")
    val q = e.filter(col("event_type") === "view").drop("event_type")
      .select(col("user_id"), col("ts_us"), col("value"))
    AsOfJoin.asOf(t, q, keys = Seq("user_id"), leftTime = "ts_us", rightTime = "ts_us",
        rightPayload = Seq("value"))
      .select(col("event_id"), col("user_id"),
        expr("ts_us div 1000").as("ts_ms"), col("value"),
        col("asof_value"), expr("asof_time div 1000").as("asof_ts_ms"))
  }

  val asofJoinSql: String = """
    WITH t AS (SELECT * FROM events WHERE event_type = 'purchase'),
         q AS (SELECT * FROM events WHERE event_type = 'view')
    SELECT t.event_id, t.user_id, epoch_ms(t.ts) AS ts_ms, t.value,
           q.value AS asof_value, epoch_ms(q.ts) AS asof_ts_ms
    FROM t ASOF LEFT JOIN q ON t.user_id = q.user_id AND q.ts <= t.ts"""

  /** X2 — session windows: 30-minute-gap user activity sessions. */
  def sessions(s: SparkSession, dir: String): DataFrame =
    Sessions.sessionStats(
      Tables.eventsNorm(s, dir).select(col("user_id"), col("value"),
        col("event_time")),
      keyCol = "user_id", timeCol = "event_time", valueCol = "value",
      gap = "30 minutes")

  /** The session TABLE as a named CTE chain ending in `sessions` —
    * both x2's oracle and sr12's watermark-filtered streaming oracle
    * compose their final SELECT from this fragment (r12 advice: sr12
    * used to string-append a HAVING to [[sessionsSql]], which silently
    * depended on that query ending in a bare GROUP BY). `last_us` (the
    * session's last event in microseconds) exists so sr12's emission
    * cutoff can be a plain WHERE; x2's final SELECT omits it.
    */
  val sessionsCte: String = """
    WITH brk AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
      FROM brk
    ), sessions AS (
      SELECT user_id, epoch_ms(MIN(ts)) AS session_start_ms,
             epoch_ms(MAX(ts)) + 1800000 AS session_end_ms,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             MAX(epoch_us(ts)) AS last_us
      FROM sess GROUP BY user_id, sid
    )"""

  val sessionsSql: String = sessionsCte + """
    SELECT user_id, session_start_ms, session_end_ms, n_events, sum_value
    FROM sessions"""

  /** X3 — rollup: volume by (symbol, day) with subtotals + grand
    * total, grouping id included.
    */
  def rollupVolume(s: SparkSession, dir: String): DataFrame =
    Tables.trades(s, dir)
      .rollup(col("symbol"), col("trade_date"))
      .agg(sum(col("volume")).as("total_volume"), count(lit(1)).as("n"),
        grouping_id().as("gid"))

  val rollupVolumeSql: String = """
    WITH trades AS (
      SELECT event_type AS symbol,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS volume,
             CAST(ts AS DATE) AS trade_date
      FROM events)
    SELECT symbol, trade_date, CAST(SUM(volume) AS BIGINT) AS total_volume,
           COUNT(*) AS n, CAST(GROUPING(symbol, trade_date) AS BIGINT) AS gid
    FROM trades GROUP BY ROLLUP(symbol, trade_date)"""

  /** X4 — ranking windows: top-3 prices per (symbol, day) by
    * rank/dense_rank (tie-inclusive, deterministic under ties).
    */
  def topPricesRanked(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("symbol"), col("trade_date"))
      .orderBy(col("price").desc)
    Tables.trades(s, dir)
      .withColumn("rnk", rank().over(w))
      .withColumn("drnk", dense_rank().over(w))
      .filter(col("rnk") <= 3)
      .select(col("symbol"), col("trade_date"), col("event_id"),
        col("price"), col("rnk"), col("drnk"))
  }

  val topPricesRankedSql: String = """
    WITH trades AS (
      SELECT event_id, event_type AS symbol, value AS price,
             CAST(ts AS DATE) AS trade_date
      FROM events)
    SELECT symbol, trade_date, event_id, price,
           CAST(rnk AS INT) AS rnk, CAST(drnk AS INT) AS drnk
    FROM (
      SELECT *, rank() OVER w AS rnk, dense_rank() OVER w AS drnk
      FROM trades WINDOW w AS (PARTITION BY symbol, trade_date ORDER BY price DESC)
    ) WHERE rnk <= 3"""

  /** X5 — set operations: users who errored AND purchased on a day,
    * minus those who signed up that day (INTERSECT + EXCEPT).
    */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsNorm(s, dir)
      .withColumn("d", to_date(col("event_time")))
      .filter(col("d") === lit("2024-01-15").cast("date"))
    def users(t: String) = e.filter(col("event_type") === t).select(col("user_id")).distinct()
    users("error").intersect(users("purchase")).except(users("signup"))
  }

  val setOpsSql: String = """
    WITH e AS (SELECT * FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15')
    (SELECT DISTINCT user_id FROM e WHERE event_type = 'error'
     INTERSECT SELECT DISTINCT user_id FROM e WHERE event_type = 'purchase')
    EXCEPT SELECT DISTINCT user_id FROM e WHERE event_type = 'signup'"""

  /** X32 — sequential conversion funnel (view → click → purchase, each
    * stage strictly after the user's first event of the previous one):
    * the MATCH_RECOGNIZE-lite pattern every product-analytics engine
    * ships, expressed as nested first-event aggregates — each stage is
    * a filtered min(ts) keyed on user_id, so the three joins reuse one
    * hash partitioning and nothing ever sorts event history.
    * Conversion ratios are exact integer e6 (`div`).
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsNorm(s, dir).select(col("user_id"), col("event_type"), col("ts_us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_view"))
    val c = e.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts_us") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts_us") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("t_purchase"))
    def stage(df: DataFrame, name: String) =
      df.agg(count(lit(1)).as("users")).select(lit(name).as("stage"), col("users"))
    val frame = stage(v, "1_view").unionByName(stage(c, "2_click"))
      .unionByName(stage(p, "3_purchase"))
    frame.withColumn("prev_users",
        lag(col("users"), 1).over(Window.orderBy(col("stage"))))
      .withColumn("conv_from_prev_e6",
        when(col("prev_users").isNull || col("prev_users") === 0, lit(1000000L))
          .otherwise(expr("users * 1000000 div prev_users")))
      .select(col("stage"), col("users"), col("conv_from_prev_e6"))
  }

  val funnelSql: String = """
    WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id),
    frame AS (
      SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS users FROM v
      UNION ALL SELECT '2_click', CAST(COUNT(*) AS BIGINT) FROM c
      UNION ALL SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM p)
    SELECT stage, users,
           CASE WHEN prev_users IS NULL OR prev_users = 0 THEN 1000000
                ELSE users * 1000000 // prev_users END AS conv_from_prev_e6
    FROM (SELECT stage, users, LAG(users, 1) OVER (ORDER BY stage) AS prev_users
          FROM frame)"""

  /** X33 — retention cohorts: users grouped by first-seen date, active
    * user counts per (cohort, day offset) — the first-event aggregate
    * joins back on user_id (one partitioning), then a two-phase
    * count-distinct per cohort cell.
    */
  /** X39 — first-order Markov transition matrix over each user's
    * event stream: P(next event type | current), the behavioral-model
    * complement of x32's fixed view→click→purchase funnel (every
    * observed transition, not one prescribed path). Deterministic
    * successor order = (ts_us, event_id); probabilities in exact e6
    * integers.
    *
    * Scale: one shuffle on user_id, per-user sort bounded by per-user
    * event count (the x2/x32 posture); the transition matrix itself is
    * |event_types|² rows — constant-sized output from any corpus.
    */
  def markovTransitions(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsNorm(s, dir)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val tr = e.withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val fromTotals = tr.groupBy(col("from_type")).agg(sum(col("n")).as("n_from"))
    tr.join(fromTotals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"), col("n_from"),
        expr("n * 1000000 div n_from").as("p_e6"))
  }

  val markovTransitionsSql: String = """
    WITH o AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events),
    t AS (SELECT event_type AS from_type, next_type AS to_type,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2),
    f AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM t GROUP BY 1)
    SELECT t.from_type, t.to_type, t.n, f.n_from,
           CAST(t.n * 1000000 // f.n_from AS BIGINT) AS p_e6
    FROM t JOIN f ON f.from_type = t.from_type"""

  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsNorm(s, dir)
      .select(col("user_id"), to_date(col("event_time")).as("d"))
    val first = e.groupBy(col("user_id")).agg(min(col("d")).as("cohort_date"))
    e.join(first, "user_id")
      .groupBy(col("cohort_date"),
        datediff(col("d"), col("cohort_date")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("active_users"))
  }

  val retentionCohortsSql: String = """
    WITH ue AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
    f AS (SELECT user_id, MIN(d) AS cohort_date FROM ue GROUP BY user_id)
    SELECT cohort_date, CAST(date_diff('day', cohort_date, d) AS INT) AS day_offset,
           CAST(COUNT(DISTINCT ue.user_id) AS BIGINT) AS active_users
    FROM ue JOIN f USING (user_id)
    GROUP BY cohort_date, date_diff('day', cohort_date, d)"""

  /** X12 — correlated scalar subquery through the SQL surface: trades
    * that are their (symbol, day) high. Exercises Spark's subquery
    * decorrelation (rewritten to an aggregate + join under the hood).
    */
  def dailyHighTrades(s: SparkSession, dir: String): DataFrame = {
    Tables.trades(s, dir).createOrReplaceTempView("trades_v")
    s.sql("""
      SELECT t.symbol, t.trade_date, t.event_id, t.price
      FROM trades_v t
      WHERE t.price = (SELECT MAX(t2.price) FROM trades_v t2
                       WHERE t2.symbol = t.symbol AND t2.trade_date = t.trade_date)
    """)
  }

  val dailyHighTradesSql: String = """
    WITH trades AS (
      SELECT event_id, event_type AS symbol, value AS price, CAST(ts AS DATE) AS trade_date
      FROM events)
    SELECT t.symbol, t.trade_date, t.event_id, t.price
    FROM trades t
    WHERE t.price = (SELECT MAX(t2.price) FROM trades t2
                     WHERE t2.symbol = t.symbol AND t2.trade_date = t.trade_date)"""

  /** X13 — CUBE: volume totals over all 2^2 grouping combinations. */
  def cubeVolume(s: SparkSession, dir: String): DataFrame =
    Tables.trades(s, dir)
      .cube(col("symbol"), col("trade_date"))
      .agg(sum(col("volume")).as("total_volume"), grouping_id().as("gid"))

  val cubeVolumeSql: String = """
    WITH trades AS (
      SELECT event_type AS symbol,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS volume,
             CAST(ts AS DATE) AS trade_date
      FROM events)
    SELECT symbol, trade_date, CAST(SUM(volume) AS BIGINT) AS total_volume,
           CAST(GROUPING(symbol, trade_date) AS BIGINT) AS gid
    FROM trades GROUP BY CUBE(symbol, trade_date)"""

  /** X14 — pivot: daily volume matrix, symbols x three fixed days. */
  def pivotVolume(s: SparkSession, dir: String): DataFrame =
    Tables.trades(s, dir)
      .withColumn("d", date_format(col("trade_date"), "yyyy_MM_dd"))
      .groupBy(col("symbol"))
      .pivot("d", Seq("2024_01_14", "2024_01_15", "2024_01_16"))
      .agg(sum(col("volume")))

  val pivotVolumeSql: String = """
    WITH trades AS (
      SELECT event_type AS symbol,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS volume,
             CAST(ts AS DATE) AS trade_date
      FROM events)
    SELECT symbol,
           CAST(SUM(CASE WHEN trade_date = DATE '2024-01-14' THEN volume END) AS BIGINT) AS "2024_01_14",
           CAST(SUM(CASE WHEN trade_date = DATE '2024-01-15' THEN volume END) AS BIGINT) AS "2024_01_15",
           CAST(SUM(CASE WHEN trade_date = DATE '2024-01-16' THEN volume END) AS BIGINT) AS "2024_01_16"
    FROM trades GROUP BY symbol"""

  /** X15 — non-equi range join: classify trades into price bands via
    * a BETWEEN join against a band dimension (broadcast nested loop).
    */
  def rangeBandJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = Seq(("penny", 0.0, 20.0), ("low", 20.0, 80.0),
      ("mid", 80.0, 140.0), ("high", 140.0, 1e9))
      .toDF("band", "lo", "hi")
    Tables.trades(s, dir)
      .join(broadcast(bands), col("price") >= col("lo") && col("price") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_trades"),
        sum(col("volume")).as("total_volume"))
  }

  val rangeBandJoinSql: String = """
    WITH trades AS (
      SELECT value AS price, CAST(json_extract_string(props, '$.k') AS BIGINT) AS volume
      FROM events),
    bands AS (
      SELECT * FROM (VALUES ('penny', 0.0, 20.0), ('low', 20.0, 80.0),
                            ('mid', 80.0, 140.0), ('high', 140.0, 1e9)) v(band, lo, hi))
    SELECT band, COUNT(*) AS n_trades, CAST(SUM(volume) AS BIGINT) AS total_volume
    FROM trades JOIN bands ON price >= lo AND price < hi
    GROUP BY band"""

  /** X16 — semi/anti joins: users who purchased on a day and never
    * errored that day.
    */
  def semiAntiUsers(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.eventsNorm(s, dir)
      .withColumn("d", to_date(col("event_time")))
      .filter(col("d") === lit("2024-01-15").cast("date"))
    val purchases = e.filter(col("event_type") === "purchase")
    val errors = e.filter(col("event_type") === "error").select(col("user_id").as("eu"))
    purchases
      .join(errors, col("user_id") === col("eu"), "left_anti")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"))
  }

  /** NOT EXISTS, not NOT IN: a NULL user_id on the error side would
    * make NOT IN return zero rows while Spark's left_anti keeps
    * non-matching purchasers — NOT EXISTS matches anti-join semantics.
    */
  val semiAntiUsersSql: String = """
    WITH e AS (SELECT * FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15')
    SELECT p.user_id, COUNT(*) AS n_purchases
    FROM e p
    WHERE p.event_type = 'purchase'
      AND NOT EXISTS (SELECT 1 FROM e x WHERE x.event_type = 'error'
                      AND x.user_id = p.user_id)
    GROUP BY p.user_id"""

  /** X11 — HLL sketch: approximate distinct trade count per symbol
    * (approx_count_distinct, rsd 2%). Sketches are mergeable partial
    * aggregates — at 100 TB the shuffle carries one ~kB sketch per
    * group instead of the key set; the price is approximation.
    *
    * Oracle design (round 8 — this was the one `no_oracle` row for
    * two rounds): the HLL estimate itself can never hash-match a
    * different engine's sketch, so the SHIPPED columns are the exact
    * per-group distinct count plus `approx_ok`, a deterministic
    * boolean asserting the estimate landed within 10 % of exact
    * (5× the 2 % rsd — far outside any plausible HLL excursion, so
    * it is TRUE on healthy code and flips the hash the moment the
    * sketch path breaks). DuckDB's side is COUNT(DISTINCT) + literal
    * TRUE: the whole row is now hash-checked while the Spark plan
    * still exercises the sketch aggregate. The exact count is a
    * per-group distinct — at scale it shuffles (symbol, event_id)
    * pairs once, which is the standard two-phase distinct-agg plan,
    * and the HLL column rides the same shuffle as a partial sketch.
    */
  def approxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.trades(s, dir)
      .groupBy(col("symbol"))
      .agg(
        countDistinct(col("event_id")).as("n_distinct"),
        approx_count_distinct(col("event_id"), rsd = 0.02).as("approx"))
      .select(col("symbol"), col("n_distinct"),
        (abs(col("approx") - col("n_distinct")) <=
          col("n_distinct").cast("double") * 0.1).as("approx_ok"))

  val approxDistinctSql: String = """
    SELECT event_type AS symbol,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
           TRUE AS approx_ok
    FROM events GROUP BY 1"""

  /** X20 — exact heavy hitters: every token holding ≥ 3% of all token
    * occurrences, found by a mergeable Misra-Gries sketch pass and
    * counted exactly in a bounded second pass. The output is exact, so
    * it gets a full hash oracle (plain GROUP BY + HAVING in DuckDB)
    * even though the scale path goes through a sketch.
    */
  def heavyHitterTokens(s: SparkSession, dir: String): DataFrame =
    operators.HeavyHitters.exactHeavyHitters(
      Tables.documents(s, dir)
        .select(explode(operators.TextAnalysis.tokens(lower(col("text")))).as("token")),
      "token", phiE6 = 30000L)

  val heavyHitterTokensSql: String = """
    WITH tok AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x != '')) AS token
      FROM documents
    ), tot AS (SELECT COUNT(*) AS n FROM tok)
    SELECT token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok, tot
    GROUP BY token, n
    HAVING COUNT(*) * 1000000 >= n * 30000"""

  /** X21 — quote spread metrics through the QuoteStreams projection
    * (mid/spread/bps/imbalance — the quote surface the reference
    * declares but never consumes). Quotes derive deterministically
    * from the trade feed (single IEEE ops both sides), so the batch
    * oracle covers the same arithmetic the streaming path runs.
    */
  def spreadMetrics(s: SparkSession, dir: String): DataFrame = {
    val quotes = Tables.trades(s, dir).filter(col("event_id") < 2000)
      .select(col("event_id"), col("symbol"),
        (col("price") * 0.9995).as("bid_price"),
        (col("price") * 1.0005).as("ask_price"),
        (pmod(col("event_id"), lit(100)) + 1).as("bid_size"),
        (pmod(col("event_id"), lit(97)) + 1).as("ask_size"))
    graft.streaming.QuoteStreams.withSpreadMetrics(quotes)
      .select(col("event_id"), col("symbol"), col("bid_price"), col("ask_price"),
        col("mid"), col("spread"), col("spread_bps"), col("imbalance"))
  }

  val spreadMetricsSql: String = SparkEntry.P + """
    SELECT event_id, symbol, bid_price, ask_price,
           (bid_price + ask_price) / 2 AS mid,
           ask_price - bid_price AS spread,
           CASE WHEN (bid_price + ask_price) / 2 > 0
                THEN (ask_price - bid_price) / ((bid_price + ask_price) / 2) * 10000
           END AS spread_bps,
           CASE WHEN bid_size + ask_size > 0
                THEN CAST(bid_size - ask_size AS DOUBLE) / (bid_size + ask_size)
           END AS imbalance
    FROM (
      SELECT event_id, symbol,
             price * 0.9995 AS bid_price, price * 1.0005 AS ask_price,
             event_id % 100 + 1 AS bid_size, event_id % 97 + 1 AS ask_size
      FROM trades WHERE event_id < 2000)"""

  /** X22 — purged walk-forward CV folds over the trade feed (5 folds,
    * 1-day embargo), aggregated to per-(fold, role) counts + an
    * event-id checksum so the oracle pins every row's assignment.
    */
  def purgedFolds(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.purgedFolds(SparkEntry.silverDf(s, dir), "event_time",
        nFolds = 5, embargoMs = 86400000L)
      .groupBy(col("test_fold"), col("role"))
      .agg(count(lit(1)).as("n_rows"), sum(col("event_id")).as("sum_event_id"))

  val purgedFoldsSql: String = SparkEntry.P + """, b AS (
      SELECT epoch_ms(MIN(event_time)) AS tmin,
             epoch_ms(MAX(event_time)) - epoch_ms(MIN(event_time)) + 1 AS span
      FROM silver
    ), e AS (
      SELECT s.event_id, epoch_ms(s.event_time) AS t, b.tmin, b.span,
             LEAST((epoch_ms(s.event_time) - b.tmin) * 5 // b.span, 4) AS fold,
             unnest([0, 1, 2, 3, 4]) AS test_fold
      FROM silver s, b
    ), r AS (
      SELECT event_id, test_fold,
             CASE WHEN fold = test_fold THEN 'test'
                  WHEN t >= tmin + (test_fold * span + 4) // 5 - 86400000
                   AND t <= tmin + ((test_fold + 1) * span + 4) // 5 - 1 + 86400000
                  THEN 'embargo'
                  ELSE 'train' END AS role
      FROM e
    )
    SELECT CAST(test_fold AS INT) AS test_fold, role, COUNT(*) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM r GROUP BY test_fold, role"""

  /** X6 — deterministic Bernoulli sample (10%) of documents. */
  def docSample(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.deterministicSample(
      Tables.documents(s, dir), "doc_id", perMyriad = 1000)
      .select(col("doc_id"), col("lang"), col("source"))

  val docSampleSql: String = """
    SELECT doc_id, lang, source FROM documents
    WHERE (((doc_id % 1000000007) * 2654435761) % 1000000007 * 40503) % 1000000007 % 10000 < 1000"""

  /** X18 — mixture resampling: the largest corpus at exactly
    * 40/30/20/10% of four sources, selected deterministically (the
    * two-phase boundary-bucket exact-k path — no per-source global
    * sort; the oracle states the same set as a row_number).
    */
  /** X41 — α=0.5 temperature mixture weights over documents.source
    * (the mT5/XLM flattening recipe; see
    * [[graft.operators.Sampling.temperatureWeights]]).
    */
  def temperatureMix(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.temperatureWeights(Tables.documents(s, dir), "source")

  val temperatureMixSql: String = """
    WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                      CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000.0) AS BIGINT) AS sqrt_e6
               FROM documents GROUP BY source),
    t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
                 CAST(SUM(sqrt_e6) AS BIGINT) AS sqrt_tot FROM c)
    SELECT source, n_docs,
           CAST(n_docs * 1000000 // t.n_total AS BIGINT) AS nat_share_e6,
           CAST(sqrt_e6 * 1000000 // t.sqrt_tot AS BIGINT) AS temp_share_e6,
           CAST((sqrt_e6 * 1000000 // t.sqrt_tot) * t.n_total // 1000000 AS BIGINT) AS target_docs
    FROM c, t"""

  def mixtureSample(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.mixtureSample(
      Tables.documents(s, dir), "source", "doc_id",
      Map("src0" -> 4000L, "src1" -> 3000L, "src2" -> 2000L, "src3" -> 1000L))
      .select(col("doc_id"), col("source"))

  val mixtureSampleSql: String = """
    WITH w(source, w) AS (VALUES ('src0', 4000), ('src1', 3000), ('src2', 2000), ('src3', 1000)),
    n AS (SELECT source, COUNT(*) AS n FROM documents JOIN w USING (source) GROUP BY source),
    -- t floored to a multiple of 10000/gcd(weights) = 10, so each
    -- quota w*t//10000 is exact (mirrors Sampling.mixtureSample).
    t AS (SELECT (MIN(n * 10000 // w) // 10) * 10 AS t FROM n JOIN w USING (source)),
    k AS (SELECT source, w * (SELECT t FROM t) // 10000 AS k FROM w),
    r AS (SELECT doc_id, source,
            ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY (((doc_id % 1000000007) * 2654435761) % 1000000007 * 40503) % 1000000007 % 10000,
                       doc_id) AS rn
          FROM documents JOIN w USING (source))
    SELECT doc_id, source FROM r JOIN k USING (source) WHERE rn <= k"""

  /** X19 — deterministic 90/5/5 train/val/test split with per-split
    * counts (the projection itself is labeledSplit; the aggregate
    * makes the oracle row set small and order-free).
    */
  def labeledSplit(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.labeledSplit(Tables.documents(s, dir), "doc_id",
        Seq("train" -> 9000L, "val" -> 500L, "test" -> 500L))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"))

  val labeledSplitSql: String = """
    WITH s AS (
      SELECT doc_id, source,
             CASE WHEN (((doc_id % 1000000007) * 2654435761) % 1000000007 * 40503) % 1000000007 % 10000 < 9000 THEN 'train'
                  WHEN (((doc_id % 1000000007) * 2654435761) % 1000000007 * 40503) % 1000000007 % 10000 < 9500 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT split, source, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
    FROM s GROUP BY split, source"""

  /** X7 — deterministic stratified sample: 5 docs per language. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.stratifiedSample(
      Tables.documents(s, dir), "lang", "doc_id", nPerStratum = 5)
      .select(col("doc_id"), col("lang"))

  val stratifiedSampleSql: String = """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang, ROW_NUMBER() OVER (
        PARTITION BY lang
        ORDER BY (((doc_id % 1000000007) * 2654435761) % 1000000007 * 40503) % 1000000007 % 10000, doc_id
      ) AS rn FROM documents
    ) WHERE rn <= 5"""

  /** X8 — exact discrete percentiles of price per symbol. */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    Tables.trades(s, dir)
      .groupBy(col("symbol"))
      .agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY price)").as("p50"),
        expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY price)").as("p95"),
        count(lit(1)).as("n"))

  val percentilesSql: String = """
    WITH trades AS (SELECT event_type AS symbol, value AS price FROM events)
    SELECT symbol, quantile_disc(price, 0.5) AS p50,
           quantile_disc(price, 0.95) AS p95, COUNT(*) AS n
    FROM trades GROUP BY symbol"""

  /** X23 — exact quantiles via distribution compression (the scale
    * path for order statistics: per-key sort over DISTINCT values,
    * not rows; answers stay exact, unlike a sketch).
    */
  def distQuantiles(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.distQuantiles(
      Tables.trades(s, dir), keyCol = "symbol", valueCol = "price",
      qsPerMyriad = Seq(2500, 5000, 9500, 9900))

  /** X23 oracle: the same compressed-distribution walk with the same
    * integer rank rule ⌈n·q/10000⌉ — quantile values are data values,
    * never computed, so they hash bit-identically.
    */
  val distQuantilesSql: String = """
    WITH trades AS (SELECT event_type AS symbol, value AS price FROM events),
    hist AS (SELECT symbol, price AS v, COUNT(*) AS c FROM trades GROUP BY 1, 2),
    cum AS (
      SELECT symbol, v, c,
             SUM(c) OVER (PARTITION BY symbol ORDER BY v
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(c) OVER (PARTITION BY symbol) AS n
      FROM hist)
    SELECT symbol,
           MIN(CASE WHEN cum >= (n * 2500 + 9999) // 10000 THEN v END) AS p2500,
           MIN(CASE WHEN cum >= (n * 5000 + 9999) // 10000 THEN v END) AS p5000,
           MIN(CASE WHEN cum >= (n * 9500 + 9999) // 10000 THEN v END) AS p9500,
           MIN(CASE WHEN cum >= (n * 9900 + 9999) // 10000 THEN v END) AS p9900,
           CAST(MAX(n) AS BIGINT) AS n
    FROM cum GROUP BY symbol"""

  /** X9 — fixed-width price histogram (40 bins over [0, 200)). */
  def priceHistogram(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.histogram(Tables.trades(s, dir), "price", 0.0, 200.0, 40)

  val priceHistogramSql: String = """
    WITH trades AS (SELECT value AS price FROM events)
    SELECT bin, COUNT(*) AS n, ROUND(MIN(price), 4) AS min_value,
           ROUND(MAX(price), 4) AS max_value
    FROM (
      SELECT price, CASE WHEN price < 0 THEN 0 WHEN price >= 200 THEN 41
                         ELSE CAST(FLOOR((price - 0) / (200 - 0) * 40) AS INT) + 1 END AS bin
      FROM trades)
    GROUP BY bin"""

  /** X10 — token-budget shard packing: documents laid out
    * deterministically and cut into ~5000-token training shards.
    */
  def tokenPacking(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"),
      size(operators.TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    operators.Sampling.packByTokenBudget(docs, "doc_id", "n_tokens", budget = 5000L)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
  }

  val tokenPackingSql: String = """
    WITH d AS (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')) AS BIGINT) AS n_tokens,
             (((doc_id % 1000000007) * 2654435761) % 1000000007 * 40503) % 1000000007 % 10000 AS hb
      FROM documents
    ), c AS (
      SELECT *, SUM(n_tokens) OVER (ORDER BY hb, doc_id ROWS UNBOUNDED PRECEDING) AS cum
      FROM d
    )
    SELECT CAST((cum - n_tokens) // 5000 AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM c GROUP BY 1"""

  /** X17 — market-hours session gating (MarketHours Column forms over
    * UTC event times; reference time_utils.py semantics incl. the
    * 2024 MLK holiday that falls inside the test data's range).
    */
  def marketHoursSessions(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.trades(s, dir)
    t.select(col("symbol"),
        when(operators.MarketHours.isRegularHoursCol(col("event_time")), "regular")
          .when(operators.MarketHours.isExtendedHoursCol(col("event_time")), "extended")
          .otherwise("closed").as("session"))
      .groupBy(col("symbol"), col("session"))
      .agg(count(lit(1)).as("n"))
  }

  val marketHoursSessionsSql: String = """
    WITH trades AS (SELECT event_type AS symbol, ts AS event_time FROM events),
    et AS (
      SELECT symbol,
             timezone('America/New_York', event_time AT TIME ZONE 'UTC') AS t
      FROM trades
    ), cls AS (
      SELECT symbol,
             CASE WHEN trading_day AND s BETWEEN 34200 AND 57600 THEN 'regular'
                  WHEN trading_day AND ((s >= 14400 AND s < 34200) OR (s > 57600 AND s <= 72000)) THEN 'extended'
                  ELSE 'closed' END AS session
      FROM (
        SELECT symbol,
               date_part('hour', t) * 3600 + date_part('minute', t) * 60 + date_part('second', t) AS s,
               dayofweek(t) NOT IN (0, 6) AND strftime(t, '%Y-%m-%d') NOT IN (
                 '2024-01-01','2024-01-15','2024-02-19','2024-03-29','2024-05-27',
                 '2024-06-19','2024-07-04','2024-09-02','2024-11-28','2024-12-25',
                 '2025-01-01','2025-01-20','2025-02-17','2025-04-18','2025-05-26',
                 '2025-06-19','2025-07-04','2025-09-01','2025-11-27','2025-12-25') AS trading_day
        FROM et)
    )
    SELECT symbol, session, COUNT(*) AS n FROM cls GROUP BY symbol, session"""

  /** X35 — per-column data census of the documents + normalized
    * events tables ([[graft.operators.Profile]]): one single-pass
    * aggregation per table (multi-column exact distincts via one
    * Expand), unioned into one frame — q12's catalog health refined
    * to column granularity.
    */
  def columnProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profile.profile(Tables.documents(s, dir), "documents")
      .unionByName(graft.operators.Profile.profile(Tables.eventsNorm(s, dir), "events"))

  /** One oracle branch per profiled column (nNum = numeric extremum
    * expression template, nStr = string branch).
    */
  private def profBranch(tbl: String, src: String, colName: String,
                         kind: String): String = {
    val (nd, minN, maxN, minS, maxS) = kind match {
      case "str" => (s"COUNT(DISTINCT md5($colName))",
        "CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)",
        s"SUBSTR(MIN($colName), 1, 64)", s"SUBSTR(MAX($colName), 1, 64)")
      case "int" => (s"COUNT(DISTINCT $colName)",
        s"CAST(MIN($colName) AS BIGINT)", s"CAST(MAX($colName) AS BIGINT)",
        "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
      case "dbl" => (s"COUNT(DISTINCT $colName)",
        s"CAST(floor(MIN($colName) * 1000000.0) AS BIGINT)",
        s"CAST(floor(MAX($colName) * 1000000.0) AS BIGINT)",
        "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
      case "ts" => (s"COUNT(DISTINCT $colName)",
        s"epoch_ms(MIN($colName))", s"epoch_ms(MAX($colName))",
        "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
    }
    s"""SELECT '$tbl' AS tbl, '$colName' AS col_name, COUNT(*) AS n_rows,
       COUNT($colName) AS n_nonnull, $nd AS n_distinct,
       $minN AS min_num, $maxN AS max_num, $minS AS min_str, $maxS AS max_str
    FROM $src"""
  }

  private val columnProfileSql: String = {
    val docCols = Seq("doc_id" -> "int", "text" -> "str", "lang" -> "str",
      "source" -> "str", "n_chars" -> "int")
    val evCols = Seq("event_id" -> "int", "user_id" -> "int",
      "event_type" -> "str", "value" -> "dbl", "props" -> "str",
      "event_time" -> "ts", "ts_us" -> "int")
    val branches =
      docCols.map { case (c, k) => profBranch("documents", "documents", c, k) } ++
        evCols.map { case (c, k) => profBranch("events", "en", c, k) }
    """WITH en AS (
      SELECT event_id, user_id, event_type, value, props,
             CAST(ts AS TIMESTAMP) AS event_time, epoch_us(ts) AS ts_us
      FROM events
    ) """ + branches.mkString("\n    UNION ALL\n    ")
  }

  /** X44 — the salted skew join UNDER THE ORACLE: silver trades (the
    * skewed fact — one hot symbol can dominate a shuffle) salted with
    * factor 8 against the per-(symbol, day) close dimension, then a
    * per-symbol notional aggregate. SkewJoinSpec pins that the salt
    * only moves placement; this row pins it at the hash gate against
    * the UNSALTED join's algebra — the oracle knows nothing about
    * salt. Exact integers: close in e4 ticks, Σ(volume·close_e4)
    * staged decimal.
    */
  def saltedJoinQ(s: SparkSession, dir: String): DataFrame = {
    val silver = SparkEntry.silverDf(s, dir)
    val dim = silver
      .groupBy(col("symbol"), col("trade_date"))
      .agg(graft.functions.OrderedExtremum.maxByOrd2(
        graft.operators.Indicators.ticksE4(col("price")),
        unix_micros(col("event_time")), col("event_id")).as("close_e4"))
    graft.operators.SkewJoin
      .saltedJoin(silver, dim, Seq("symbol", "trade_date"), factor = 8)
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_trades"),
        sum(col("volume").cast("decimal(38,0)") * col("close_e4")).as("__notional"))
      .select(col("symbol"), col("n_trades"),
        expr("cast(__notional as bigint)").as("notional_e4"))
  }

  val saltedJoinSql: String = SparkEntry.P + """, dim AS (
      SELECT symbol, trade_date, px AS close_e4 FROM (
        SELECT symbol, trade_date,
               CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT) AS px,
               ROW_NUMBER() OVER (PARTITION BY symbol, trade_date
                                  ORDER BY event_time DESC, event_id DESC) AS rn
        FROM silver) WHERE rn = 1
    )
    SELECT s.symbol, CAST(COUNT(*) AS BIGINT) AS n_trades,
           CAST(SUM(CAST(s.volume AS HUGEINT) * d.close_e4) AS BIGINT) AS notional_e4
    FROM silver s JOIN dim d
      ON s.symbol = d.symbol AND s.trade_date = d.trade_date
    GROUP BY s.symbol"""

  /** X45 — A/B experiment readout: deterministic variant assignment
    * (user_id parity — the hash-bucket assignment every experiment
    * platform uses, reduced to its deterministic core), per-variant
    * exposure and conversion counts (a user converts on a HIGH-VALUE
    * purchase, value > 120 — plain purchase saturates at 100% in this
    * corpus, which degenerates the pooled variance to zero and, under
    * ANSI, turns the z division into a DIVIDE_BY_ZERO: ANSI rejects
    * double division by zero too, found live), rates in exact e6, and
    * the pooled
    * two-proportion z statistic
    * z = (p₁ − p₂) / √(p̂(1−p̂)(1/n₁ + 1/n₂)) as ONE double expression
    * over the exact integer counts — each IEEE op correctly rounded,
    * so the oracle's identical expression tree is bit-identical.
    * Shape: two hash aggregates over the event scan (per-user, then
    * per-variant) and a 2-row cross — nothing scales with traffic but
    * the first scan.
    */
  def abTest(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.eventsNorm(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 120, 1L)
        .otherwise(0L)).as("converted"))
      .withColumn("variant", pmod(col("user_id"), lit(2L)).cast("int"))
    // ONE single-row aggregate carries both variants' counts; every
    // output row projects from IT, so the three branches' exchanges
    // are identical and exchange reuse collapses the plan to ONE
    // events scan (the first form filtered per branch — three full
    // scans at 100 TB for a 3-row readout; found in the plan audit).
    val stats = perUser.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n1"),
      sum(when(col("variant") === 0, col("converted")).otherwise(0L)).as("c1"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n2"),
      sum(when(col("variant") === 1, col("converted")).otherwise(0L)).as("c2"))
    val v0 = stats.select(lit("variant_0").as("metric"),
      expr("c1 * 1000000 div n1").cast("double").as("value"))
    val v1 = stats.select(lit("variant_1").as("metric"),
      expr("c2 * 1000000 div n2").cast("double").as("value"))
    val z = stats.select(
      lit("z_stat").as("metric"),
      (((col("c1").cast("double") / col("n1").cast("double")) -
        (col("c2").cast("double") / col("n2").cast("double"))) /
        sqrt(((col("c1") + col("c2")).cast("double") / (col("n1") + col("n2")).cast("double")) *
          (lit(1.0) - (col("c1") + col("c2")).cast("double") / (col("n1") + col("n2")).cast("double")) *
          (lit(1.0) / col("n1").cast("double") + lit(1.0) / col("n2").cast("double"))))
        .as("value"))
    v0.unionByName(v1).unionByName(z)
  }

  val abTestSql: String = """
    WITH pu AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' AND value > 120 THEN 1 ELSE 0 END) AS converted,
             CAST(user_id % 2 AS INT) AS variant
      FROM events GROUP BY user_id
    ), stats AS (
      SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS c2
      FROM pu
    )
    SELECT 'variant_0' AS metric, CAST(c1 * 1000000 // n1 AS DOUBLE) AS value FROM stats
    UNION ALL
    SELECT 'variant_1', CAST(c2 * 1000000 // n2 AS DOUBLE) FROM stats
    UNION ALL
    SELECT 'z_stat',
           ((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)) - (CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
           / sqrt((CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                  * (1.0 - CAST(c1 + c2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
                  * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE)))
    FROM stats"""

  val board: Seq[BoardQuery] = Seq(
    BoardQuery("x44_salted_join", saltedJoinSql, saltedJoinQ),
    BoardQuery("x45_ab_test", abTestSql, abTest),
    BoardQuery("x35_profile", columnProfileSql, columnProfile),
    BoardQuery("x17_market_hours", marketHoursSessionsSql, marketHoursSessions),
    BoardQuery("h5_region_revenue", TpchQueries.regionRevenueSql, TpchQueries.regionRevenue),
    BoardQuery("h14_promo_revenue", TpchQueries.promoRevenueSql, TpchQueries.promoRevenue),
    BoardQuery("h10_returned_items", TpchQueries.returnedItemsSql, TpchQueries.returnedItems),
    BoardQuery("h12_late_shipments", TpchQueries.lateShipmentsSql, TpchQueries.lateShipments),
    BoardQuery("h13_cust_order_dist", TpchQueries.custOrderDistributionSql, TpchQueries.custOrderDistribution),
    BoardQuery("h2_min_cost_supplier", TpchQueries.minCostSupplierSql, TpchQueries.minCostSupplier),
    BoardQuery("h18_big_orders", TpchQueries.bigOrdersSql, TpchQueries.bigOrders),
    BoardQuery("h4_priority_late", TpchQueries.priorityLateOrdersSql, TpchQueries.priorityLateOrders),
    BoardQuery("h22_idle_rich", TpchQueries.idleRichCustomersSql, TpchQueries.idleRichCustomers),
    BoardQuery("h6_forecast_revenue", TpchQueries.forecastRevenueSql, TpchQueries.forecastRevenue),
    BoardQuery("h7_volume_shipping", TpchQueries.volumeShippingSql, TpchQueries.volumeShipping),
    BoardQuery("h8_market_share", TpchQueries.marketShareSql, TpchQueries.marketShare),
    BoardQuery("h15_top_supplier", TpchQueries.topSupplierSql, TpchQueries.topSupplier),
    BoardQuery("h16_part_supplier_cnt", TpchQueries.partSupplierCountsSql, TpchQueries.partSupplierCounts),
    BoardQuery("h17_small_qty_revenue", TpchQueries.smallQtyRevenueSql, TpchQueries.smallQtyRevenue),
    BoardQuery("h19_branded_revenue", TpchQueries.brandedRevenueSql, TpchQueries.brandedRevenue),
    BoardQuery("h20_excess_suppliers", TpchQueries.excessSuppliersSql, TpchQueries.excessSuppliers),
    BoardQuery("h21_waiting_suppliers", TpchQueries.waitingSuppliersSql, TpchQueries.waitingSuppliers),
    BoardQuery("h9_product_profit", TpchQueries.productProfitSql, TpchQueries.productProfit),
    BoardQuery("h11_important_parts", TpchQueries.importantPartsSql, TpchQueries.importantParts),
    BoardQuery("x10_token_packing", tokenPackingSql, tokenPacking),
    BoardQuery("x11_approx_distinct", approxDistinctSql, approxDistinct),
    BoardQuery("x12_subquery_daily_high", dailyHighTradesSql, dailyHighTrades),
    BoardQuery("x13_cube", cubeVolumeSql, cubeVolume),
    BoardQuery("x14_pivot", pivotVolumeSql, pivotVolume),
    BoardQuery("x15_range_join", rangeBandJoinSql, rangeBandJoin),
    BoardQuery("x16_semi_anti", semiAntiUsersSql, semiAntiUsers),
    BoardQuery("x20_heavy_hitters", heavyHitterTokensSql, heavyHitterTokens),
    BoardQuery("x21_spread_metrics", spreadMetricsSql, spreadMetrics),
    BoardQuery("x22_purged_folds", purgedFoldsSql, purgedFolds),
    BoardQuery("x6_deterministic_sample", docSampleSql, docSample),
    BoardQuery("x18_mixture", mixtureSampleSql, mixtureSample),
    BoardQuery("x41_temperature_mix", temperatureMixSql, temperatureMix),
    BoardQuery("x19_split", labeledSplitSql, labeledSplit),
    BoardQuery("x7_stratified_sample", stratifiedSampleSql, stratifiedSample),
    BoardQuery("x8_percentiles", percentilesSql, percentiles),
    BoardQuery("x23_dist_quantiles", distQuantilesSql, distQuantiles),
    BoardQuery("x9_histogram", priceHistogramSql, priceHistogram),
    BoardQuery("x1_asof_join", asofJoinSql, asofJoin),
    BoardQuery("x2_sessions", sessionsSql, sessions),
    BoardQuery("x3_rollup", rollupVolumeSql, rollupVolume),
    BoardQuery("x4_rank_windows", topPricesRankedSql, topPricesRanked),
    BoardQuery("x5_set_ops", setOpsSql, setOps),
    BoardQuery("x32_funnel", funnelSql, funnel),
    BoardQuery("x39_markov_transitions", markovTransitionsSql, markovTransitions),
    BoardQuery("x33_retention_cohorts", retentionCohortsSql, retentionCohorts))
}
