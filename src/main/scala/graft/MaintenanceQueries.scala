package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ZOrderFunctions.morton
import graft.operators.{Incremental, Ohlcv, Resample}

/** Warehouse-maintenance family: incremental materialized-view merge,
  * MERGE upsert, SCD2 history, Z-order layout clustering. The
  * reference recomputes every touched window from scratch and serves
  * latest-only state (spark_processor.py, keyspace.cql) — at 100 TB
  * the re-load path has to be incremental and the layout has to prune,
  * so these are first-class operators here, each with a DuckDB oracle.
  */
object MaintenanceQueries {

  private val Day = "2024-01-15"

  /** Mid-window split instant: 12:02:30 falls INSIDE the 12:00–12:05
    * bar, so base and delta produce partial bars for the same
    * (symbol, window) key and the merge's open/close ordering carries
    * are actually exercised — a midnight split would never collide.
    */
  private val SplitTs = "2024-01-15 12:02:30"

  /** V1 — incremental OHLCV maintenance: partial bars of the base
    * slice merged with partial bars of the delta slice. Oracle is the
    * from-scratch gold_5m — a hash match proves the merge is lossless
    * even across a mid-window boundary.
    */
  def incrementalOhlcv(s: SparkSession, dir: String): DataFrame = {
    val silver = SparkEntry.silverDf(s, dir)
    val split = lit(SplitTs).cast("timestamp")
    val base = Incremental.partialBars(silver.filter(col("event_time") < split), "5 minutes")
    val delta = Incremental.partialBars(silver.filter(col("event_time") >= split), "5 minutes")
    Incremental.mergeBars(base.unionByName(delta))
      .select(col("symbol"),
        unix_millis(col("window_start")).as("window_start_ms"),
        unix_millis(col("window_end")).as("window_end_ms"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("trade_count"), col("vwap_e6"))
  }

  val incrementalOhlcvSql: String = SparkEntry.P +
    """SELECT symbol, ws_ms AS window_start_ms, we_ms AS window_end_ms,
              open, high, low, close, volume, trade_count, vwap_e6
       FROM gold_5m"""

  /** V2 — MERGE INTO upsert: the standing pre-Day latest-price
    * snapshot updated with Day-onward trades; delta wins on collision,
    * untouched base rows survive.
    */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val silver = SparkEntry.silverDf(s, dir)
    def snap(df: DataFrame): DataFrame =
      graft.operators.LatestPrices.snapshot(df)
        .select(col("symbol"), col("last_price"), col("last_volume"),
          col("last_trade_time_ms"))
    val day = lit(Day).cast("date")
    Incremental.mergeUpsert(
      snap(silver.filter(col("trade_date") < day)),
      snap(silver.filter(col("trade_date") >= day)),
      key = "symbol")
  }

  val mergeUpsertSql: String = SparkEntry.P + s"""
    , b AS (
      SELECT symbol, price, volume, epoch_ms(event_time) AS ms FROM silver
      WHERE trade_date < DATE '$Day'
      QUALIFY ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY event_time DESC, event_id DESC) = 1
    ), d AS (
      SELECT symbol, price, volume, epoch_ms(event_time) AS ms FROM silver
      WHERE trade_date >= DATE '$Day'
      QUALIFY ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY event_time DESC, event_id DESC) = 1
    )
    SELECT COALESCE(d.symbol, b.symbol) AS symbol,
           CASE WHEN d.symbol IS NOT NULL THEN d.price  ELSE b.price  END AS last_price,
           CASE WHEN d.symbol IS NOT NULL THEN d.volume ELSE b.volume END AS last_volume,
           CASE WHEN d.symbol IS NOT NULL THEN d.ms     ELSE b.ms     END AS last_trade_time_ms,
           CASE WHEN d.symbol IS NOT NULL THEN 'delta' ELSE 'base' END AS src
    FROM b FULL OUTER JOIN d ON b.symbol = d.symbol"""

  /** V3 — SCD2 dimension history over the per-(symbol, day) close:
    * consecutive equal closes collapse into one validity interval with
    * from/to bounds, version, is_current.
    */
  /** Per-(symbol, day) close snapshots — the SCD2 dimension feed
    * shared by the v3 batch history and sr7's streaming replay.
    */
  private[graft] def dailyCloseSnapshots(s: SparkSession, dir: String): DataFrame = {
    val silver = SparkEntry.silverDf(s, dir)
    val byDay = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol"), col("trade_date"))
      .orderBy(col("event_time").desc, col("event_id").desc)
    silver
      .withColumn("__rn", row_number().over(byDay))
      .filter(col("__rn") === 1)
      .select(col("symbol"), col("trade_date"), col("price").as("close"))
  }

  def scd2History(s: SparkSession, dir: String): DataFrame = {
    val snapshots = dailyCloseSnapshots(s, dir)
    Incremental.scd2(snapshots, key = "symbol", dateCol = "trade_date",
        valueCol = "close")
      .select(col("symbol"), col("close"), col("version"),
        col("effective_from"), col("effective_to"), col("is_current"))
  }

  /** The SCD2 derivation as a reusable CTE chain (shared by the v3
    * history dump and the v4 point-in-time join oracle).
    */
  private val Scd2Cte: String = """
    , snap AS (
      SELECT symbol, trade_date, price AS close FROM silver
      QUALIFY ROW_NUMBER() OVER (PARTITION BY symbol, trade_date
                                 ORDER BY event_time DESC, event_id DESC) = 1
    ), runs AS (
      SELECT symbol, close, trade_date,
             ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY trade_date)
           - ROW_NUMBER() OVER (PARTITION BY symbol, close ORDER BY trade_date) AS run
      FROM snap
    ), grouped AS (
      SELECT symbol, close, run, MIN(trade_date) AS run_start
      FROM runs GROUP BY symbol, close, run
    ), scd2 AS (
      SELECT symbol, close,
             CAST(ROW_NUMBER() OVER w AS INT) AS version,
             run_start AS effective_from,
             LEAD(run_start, 1) OVER w - 1 AS effective_to,
             LEAD(run_start, 1) OVER w IS NULL AS is_current
      FROM grouped
      WINDOW w AS (PARTITION BY symbol ORDER BY run_start)
    )"""

  val scd2HistorySql: String = SparkEntry.P + Scd2Cte + """
    SELECT symbol, close, version, effective_from, effective_to, is_current
    FROM scd2"""

  /** V4 — point-in-time enrichment: each trade joined to the close
    * version that was current ENTERING its day (as-of trade_date − 1)
    * — the backtest-safe temporal join; first-day trades get nulls.
    */
  def pitJoin(s: SparkSession, dir: String): DataFrame = {
    val facts = SparkEntry.silverDf(s, dir)
      .select(col("event_id"), col("symbol"), col("trade_date"), col("price"))
      .withColumn("as_of", date_sub(col("trade_date"), 1))
    Incremental.pitJoin(facts, scd2History(s, dir), key = "symbol",
        asOfCol = "as_of", dimPayload = Seq("close", "version"))
      .select(col("event_id"), col("symbol"), col("trade_date"), col("price"),
        col("close").as("prior_close"), col("version").as("prior_version"))
  }

  val pitJoinSql: String = SparkEntry.P + Scd2Cte + """
    SELECT f.event_id, f.symbol, f.trade_date, f.price,
           d.close AS prior_close, d.version AS prior_version
    FROM silver f LEFT JOIN scd2 d
      ON f.symbol = d.symbol
     AND f.trade_date - 1 >= d.effective_from
     AND (d.effective_to IS NULL OR f.trade_date - 1 <= d.effective_to)"""

  /** G1 — regular-grid gap fill: one row per (symbol, hour) between
    * each symbol's first and last 1h bar, close forward-filled across
    * hours with no trades — the charting/feature op bars-only storage
    * cannot answer.
    */
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    val bars = Ohlcv.bars1h(SparkEntry.silverDf(s, dir))
      .select(col("symbol"), unix_millis(col("window_start")).as("ts_ms"),
        col("close"))
    Resample.gapFillForward(bars, keyCol = "symbol", timeMsCol = "ts_ms",
      valueCol = "close", stepMs = 3600000L)
  }

  val gapFillSql: String = SparkEntry.P + """
    , grid AS (
      SELECT symbol, UNNEST(generate_series(lo, hi, 3600000)) AS ts_ms
      FROM (SELECT symbol, MIN(ws_ms) AS lo, MAX(ws_ms) AS hi
            FROM gold_1h GROUP BY symbol)
    ), joined AS (
      SELECT g.symbol, g.ts_ms, b.close,
             COUNT(b.close) OVER (PARTITION BY g.symbol ORDER BY g.ts_ms) AS grp
      FROM grid g LEFT JOIN gold_1h b
        ON g.symbol = b.symbol AND g.ts_ms = b.ws_ms
    )
    SELECT symbol, ts_ms, close,
           MAX(close) OVER (PARTITION BY symbol, grp) AS close_filled,
           close IS NULL AS is_gap
    FROM joined"""

  /** V5 — snapshot-diff CDC extraction: week-over-week per-user
    * activity snapshots diffed into a changelog (insert = user became
    * active, delete = went quiet, update = activity changed). Output
    * is O(churned users), never O(users) — the property that lets a
    * downstream replicate the snapshot by shipping diffs.
    */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    def weekSnap(lo: String, hi: String): DataFrame =
      graft.sources.Tables.eventsNorm(s, dir)
        .filter(col("event_time") >= lit(lo).cast("timestamp") &&
          col("event_time") < lit(hi).cast("timestamp"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          // Exact decimal sum -> one cast: order-independent double.
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    Incremental.snapshotDiff(
      weekSnap("2024-01-08", "2024-01-15"),
      weekSnap("2024-01-15", "2024-01-22"),
      key = "user_id")
  }

  val snapshotDiffSql: String = """
    WITH b AS (
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
      GROUP BY user_id
    ), d AS (
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-22'
      GROUP BY user_id
    )
    SELECT COALESCE(d.user_id, b.user_id) AS user_id,
           CASE WHEN b.user_id IS NULL THEN 'insert'
                WHEN d.user_id IS NULL THEN 'delete'
                ELSE 'update' END AS op,
           CASE WHEN d.user_id IS NULL THEN b.n_events ELSE d.n_events END AS n_events,
           CASE WHEN d.user_id IS NULL THEN b.sum_value ELSE d.sum_value END AS sum_value
    FROM b FULL OUTER JOIN d ON b.user_id = d.user_id
    WHERE b.user_id IS NULL OR d.user_id IS NULL
       OR b.n_events IS DISTINCT FROM d.n_events
       OR b.sum_value IS DISTINCT FROM d.sum_value"""

  /** Z1 — Z-order layout clustering: 16-bit quantized (price, minute)
    * interleaved through the native `morton` expression, rows bucketed
    * by Z-range into 256 layout cells, per-cell min/max rectangles
    * reported in both dimensions. Small per-cell extents in BOTH
    * columns are exactly what per-file min/max stats need to prune a
    * scan on either predicate — the measurable effect of Z-ordering a
    * 100 TB rewrite.
    */
  def zorderCluster(s: SparkSession, dir: String): DataFrame = {
    val silver = SparkEntry.silverDf(s, dir)
    // DECIMAL before the scale-up: price*10000 in doubles lands on
    // x.9999 for 4-dp prices and truncates one tick low.
    val px = pmod((col("price").cast("decimal(18,4)") * 10000).cast("long"), lit(65536L))
    // `div`, not `/`: Column./ on longs is DOUBLE division.
    val ty = pmod(expr("unix_millis(event_time) div 60000"), lit(65536L))
    silver
      .withColumn("z", morton(px, ty))
      .withColumn("cell", expr("z div 16777216"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_rows"),
        min(px).as("min_px"), max(px).as("max_px"),
        min(ty).as("min_ty"), max(ty).as("max_ty"))
  }

  val zorderClusterSql: String = SparkEntry.P + """
    , q AS (
      SELECT CAST(CAST(price AS DECIMAL(18,4)) * 10000 AS BIGINT) % 65536 AS px,
             (epoch_ms(event_time) // 60000) % 65536 AS ty
      FROM silver
    ), sx AS (
      SELECT px, ty,
             (px | (px << 8)) & 16711935 AS x1, (ty | (ty << 8)) & 16711935 AS y1
      FROM q
    ), s2 AS (
      SELECT px, ty,
             (x1 | (x1 << 4)) & 252645135 AS x2, (y1 | (y1 << 4)) & 252645135 AS y2
      FROM sx
    ), s3 AS (
      SELECT px, ty,
             (x2 | (x2 << 2)) & 858993459 AS x3, (y2 | (y2 << 2)) & 858993459 AS y3
      FROM s2
    ), s4 AS (
      SELECT px, ty,
             (x3 | (x3 << 1)) & 1431655765 AS x4, (y3 | (y3 << 1)) & 1431655765 AS y4
      FROM s3
    )
    SELECT (x4 | (y4 << 1)) // 16777216 AS cell, COUNT(*) AS n_rows,
           MIN(px) AS min_px, MAX(px) AS max_px,
           MIN(ty) AS min_ty, MAX(ty) AS max_ty
    FROM s4 GROUP BY 1"""

  /** V6 — TTL retention audit: the reference's per-layer TTLs
    * (bronze 7d / silver 30d / gold5m 90d / gold1h 365d,
    * keyspace.cql:37-119) applied as read-side predicates
    * (Retention.retained — on a parquet lake TTL is a policy, not a
    * storage feature) with a FIXED as-of clock, one row per layer with
    * total vs retained counts. The storage-reclaim half
    * (dropExpiredPartitions) is partition-directory surgery, covered
    * by QuoteRetentionSpec.
    */
  private val RetentionAsOf = "2024-01-30"

  def retentionAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Medallion
    import graft.sources.Tables
    // One conditional-aggregation pass per layer (r17 optimization
    // round, guide §2.3 "single-scan conditional aggregates"): the old
    // form ran total and retained as two separate aggregations —
    // every layer's feed (bronze scan, silver dedup, each bars
    // cascade) was computed TWICE per audit row, 8 scans for 4 rows
    // (plans/r17/v6_retention_audit_before.txt). count(when(pred, 1))
    // counts exactly the rows Retention.retained keeps: the predicate
    // is null-rejecting either way.
    def one(layer: String, df: DataFrame, dateCol: String, days: Int): DataFrame =
      df.agg(
          count(lit(1)).as("n_total"),
          count(when(col(dateCol) >=
            date_sub(lit(RetentionAsOf).cast("date"), days - 1), 1))
            .as("n_retained"))
        .select(lit(layer).as("layer"), lit(days.toLong).as("ttl_days"),
          col("n_total"), col("n_retained"))
    val silver = SparkEntry.silverDf(s, dir)
    val withDate = (g: DataFrame) =>
      g.withColumn("window_date", to_date(col("window_start")))
    one("bronze", Medallion.toBronze(Tables.trades(s, dir)), "trade_date", 7)
      .unionByName(one("silver", silver, "trade_date", 30))
      .unionByName(one("gold_5m", withDate(Ohlcv.bars5m(silver)), "window_date", 90))
      .unionByName(one("gold_1h", withDate(Ohlcv.bars1h(silver)), "window_date", 365))
  }

  val retentionAuditSql: String = graft.SparkEntry.P + s"""
    SELECT 'bronze' AS layer, CAST(7 AS BIGINT) AS ttl_days,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM trades) AS n_total,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM trades
            WHERE trade_date >= DATE '$RetentionAsOf' - 6) AS n_retained
    UNION ALL
    SELECT 'silver', 30, (SELECT CAST(COUNT(*) AS BIGINT) FROM silver),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM silver
            WHERE trade_date >= DATE '$RetentionAsOf' - 29)
    UNION ALL
    SELECT 'gold_5m', 90, (SELECT CAST(COUNT(*) AS BIGINT) FROM gold_5m),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM gold_5m
            WHERE window_date >= DATE '$RetentionAsOf' - 89)
    UNION ALL
    SELECT 'gold_1h', 365, (SELECT CAST(COUNT(*) AS BIGINT) FROM gold_1h),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM gold_1h
            WHERE window_date >= DATE '$RetentionAsOf' - 364)"""

  /** V7 — incremental JOIN maintenance: orders ⋈ lineitem with BOTH
    * sides split into base/delta by deterministic key mod (orders:
    * o_orderkey % 5 = 0 is the delta; lineitem: l_linenumber % 3 = 0),
    * maintained via the delta-join decomposition
    * ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB added onto the materialized A₀⋈B₀
    * (Incremental.deltaJoin) — never re-joining base against base.
    * Folded through one aggregate per o_orderpriority (match count +
    * exact quantity sum); the oracle is the FROM-SCRATCH join, so a
    * hash match proves the decomposition is lossless and
    * non-duplicating.
    */
  def deltaJoinQ(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority"))
    val l = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"), col("l_quantity"))
    val (oBase, oDelta) = (o.filter(col("o_orderkey") % 5 =!= 0),
      o.filter(col("o_orderkey") % 5 === 0))
    val (lBase, lDelta) = (l.filter(col("l_linenumber") % 3 =!= 0),
      l.filter(col("l_linenumber") % 3 === 0))
    val keys = Seq("o_orderkey")
    val materialized = oBase.join(lBase, keys)
    val increment = Incremental.deltaJoin(oBase, oDelta, lBase, lDelta, keys)
    materialized.unionByName(increment)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_matches"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
  }

  val deltaJoinSql: String = """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority"""

  /** V8 — small-file compaction (r13 verdict item #3): the parquet
    * analog of the reference gold tables' TimeWindowCompactionStrategy
    * (keyspace.cql:37-43 — 1-day windows bin-pack each day's
    * SSTables). A date-partitioned store is built the way a 10-second
    * micro-batch sink actually degrades it — 12 fragment files per
    * `trade_date` partition — then Compaction.compact bin-packs every
    * flagged partition, clustering by the SAME morton key z1 Z-orders
    * with. Correctness claim under the oracle: compaction moves bytes,
    * never rows — the read-back of the compacted store must hash-match
    * the silver frame that was appended in. File-count collapse and
    * idempotence are require()d in-query; cluster-extent preservation
    * and the scan-time delta live in CompactionSpec + BENCHNOTES.
    *
    * The PRISTINE fragmented store is staged once per process through
    * ReplayStaging like every sr input (r14 verdict item #4 — building
    * it in-query made the bench number measure a partitioned silver
    * write, not `compact()`); each invocation hardlink-clones it in
    * O(files) metadata and compacts the clone, so round-over-round
    * bench diffs track the compaction job itself.
    */
  def compactionQ(s: SparkSession, dir: String): DataFrame = {
    val pristine = graft.streaming.ReplayStaging.stagedDir(s"v8store|$dir",
      SparkEntry.silverDf(s, dir)
        .select(col("symbol"), col("price"), col("volume"),
          col("event_time"), col("trade_date"))) { (tmp, f) =>
      // repartition(12) caps fragments at 12 per date; a task with no
      // rows for a date writes no file, so sparse dates land below 12
      // (observed 9-12 at sf0.001) — the flag threshold is the bound
      // that matters.
      val store = tmp.resolve("gold").toString
      f.repartition(12).write.partitionBy("trade_date").parquet(store)
      store
    }
    val work = graft.streaming.ReplayStaging.scratchDir("graft_v8_")
    try {
      val store = work.resolve("gold").toString
      graft.streaming.ReplayStaging.linkClone(
        java.nio.file.Paths.get(pristine), java.nio.file.Paths.get(store))
      val targetBytes = 64L << 20
      val smallBytes = targetBytes / 2
      // The z1 cluster key, on the store's own columns.
      val px = pmod((col("price").cast("decimal(18,4)") * 10000).cast("long"), lit(65536L))
      val ty = pmod(expr("unix_millis(event_time) div 60000"), lit(65536L))
      val stats = graft.operators.Compaction.compact(
        s, store, "trade_date", morton(px, ty), targetBytes = targetBytes, minFiles = 4)
      // Fixture fragmentation is proven from compact()'s own returned
      // per-partition stats (filesBefore counts every file in each
      // flagged partition) — the former separate pre-triage listing
      // re-walked all ~date-count × 12 fragment files only to assert
      // what the operator already reports (r18; guide §6 listing cost).
      require(stats.nonEmpty && stats.forall(_.filesBefore >= 4),
        s"v8 fixture did not fragment: $stats")
      require(stats.forall(st => st.filesAfter < st.filesBefore),
        s"no file-count collapse: $stats")
      // Idempotence: a second pass finds nothing left to do (triage
      // with the operator's own size-aware threshold, targetBytes/2).
      require(graft.operators.Compaction
        .smallFilePartitions(store, "trade_date", minFiles = 4,
          smallBytes = smallBytes).isEmpty,
        "second triage still flags partitions after compaction")
      // The read-back IS the oracle contract (content untouched by the
      // rewrite) — returned LAZY over the compacted store, which lives
      // until the next v8 call replaces it (r18: the eager checkpoint
      // re-materialized the whole silver-sized store per invocation
      // only so the scratch could be deleted synchronously).
      graft.streaming.ReplayStaging.keepUntilExit("v8", work)
      s.read.parquet(store)
        .select(col("symbol"), unix_millis(col("event_time")).as("ts_ms"),
          col("price"), col("volume"))
    } catch {
      case e: Throwable =>
        graft.streaming.ReplayStaging.deleteRecursively(work); throw e
    }
  }

  /** Silver verbatim, like sr15: the proof is that the store's content
    * is untouched by the rewrite.
    */
  val compactionSql: String = SparkEntry.P + """
    SELECT symbol, epoch_ms(event_time) AS ts_ms, price, volume FROM silver"""

  val board: Seq[BoardQuery] = Seq(
    BoardQuery("v1_incremental_ohlcv", incrementalOhlcvSql, incrementalOhlcv),
    BoardQuery("v2_merge_upsert", mergeUpsertSql, mergeUpsert),
    BoardQuery("v3_scd2_history", scd2HistorySql, scd2History),
    BoardQuery("v4_pit_join", pitJoinSql, pitJoin),
    BoardQuery("v5_snapshot_diff", snapshotDiffSql, snapshotDiff),
    BoardQuery("v6_retention_audit", retentionAuditSql, retentionAudit),
    BoardQuery("v7_delta_join", deltaJoinSql, deltaJoinQ),
    BoardQuery("v8_compaction", compactionSql, compactionQ),
    BoardQuery("g1_gap_fill", gapFillSql, gapFill),
    BoardQuery("z1_zorder_cluster", zorderClusterSql, zorderCluster))
}
