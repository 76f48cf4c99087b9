package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, sum}

class AppSpec extends SparkSpecBase {
  import spark.implicits._

  test("parseArgs maps every consumer flag") {
    val cfg = App.parseArgs(Array(
      "--source", "kafka", "--brokers", "b:9092", "--topic", "t",
      "--offsets", "earliest", "--layers", "bronze,gold1h",
      "--trigger", "5 seconds", "--watermark", "2 minutes",
      "--max-files-per-trigger", "250"))
    assert(cfg.source === "kafka" && cfg.brokers === "b:9092")
    assert(cfg.layers === Set("bronze", "gold1h"))
    assert(cfg.trigger === "5 seconds" && cfg.watermark === "2 minutes")
    assert(cfg.offsets === "earliest")
    assert(cfg.maxFilesPerTrigger === 250)
    intercept[RuntimeException](App.parseArgs(Array("--bogus", "x")))
  }

  test("start() wires selected layers end-to-end over a memory source") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_app").toString
    val mem = MemoryStream[String]
    val t0 = 1705312800000L
    val cfg = App.Config(out = s"$dir/out", checkpoint = s"$dir/ckp",
      layers = Set("bronze", "silver", "gold5m", "deadletter", "indicators"),
      trigger = "0 seconds")
    // start() itself configures the RocksDB provider the indicators
    // layer needs — this test also pins that behavior. The finally
    // stops any still-running queries and restores the shared
    // session's previous setting for later suites even if an
    // assertion throws.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    var mgr: graft.streaming.Sinks.SinkManager = null
    try {
    mgr = App.start(spark, mem.toDF(), cfg)
    // Each query runs under the name --layers selected it by.
    assert(mgr.handles.forall { case (n, q) => q.name == n }, mgr.handles.values.map(_.name))
    mem.addData(
      s"""{"symbol":"AAPL","price":10.5,"volume":3,"timestamp":$t0,"conditions":[],"ingestion_time":$t0}""",
      s"""{"symbol":"AAPL","price":11.5,"volume":2,"timestamp":${t0 + 60000},"conditions":[],"ingestion_time":$t0}""",
      // invalid: negative price -> dead letter, never silver/gold
      s"""{"symbol":"BAD","price":-1.0,"volume":9,"timestamp":${t0 + 1000},"conditions":[],"ingestion_time":$t0}""")
    mgr.processAllAvailable()
    assert(spark.read.parquet(s"$dir/out/bronze").count() === 3)
    assert(spark.read.parquet(s"$dir/out/silver").count() === 2)
    val gold = spark.read.parquet(s"$dir/out/gold5m")
    assert(gold.count() === 1)
    val bar = gold.collect().head
    assert(bar.getAs[Double]("open") === 10.5)
    assert(bar.getAs[Double]("close") === 11.5)
    assert(bar.getAs[Long]("volume") === 5L)
    val dead = spark.read.parquet(s"$dir/out/dead_letters").collect()
    assert(dead.length === 1)
    assert(dead.head.getAs[String]("symbol") === "BAD")
    assert(dead.head.getAs[String]("errors").contains("price_out_of_range"))
    val ind = spark.read.parquet(s"$dir/out/indicators")
      .orderBy("event_time").collect()
    assert(ind.length === 2) // clean AAPL ticks only; BAD never reaches it
    assert(ind.head.getAs[Double]("ema") === 10.5)
    assert(math.abs(ind.last.getAs[Double]("ema") - (10.5 + 1.0 * 2.0 / 15.0)) < 1e-12)
    } finally {
      if (mgr != null) mgr.stopAll()
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("gold5m_mor layer: merge-on-read store equals the watermarked gold aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_app_mor").toString
    val mem = MemoryStream[String]
    val t0 = 1705312800000L
    val cfg = App.Config(out = s"$dir/out", checkpoint = s"$dir/ckp",
      layers = Set("silver", "gold5m", "gold5m_mor"), trigger = "0 seconds")
    var mgr: graft.streaming.Sinks.SinkManager = null
    try {
      mgr = App.start(spark, mem.toDF(), cfg)
      mem.addData(
        s"""{"symbol":"AAPL","price":10.5,"volume":3,"timestamp":$t0,"conditions":[],"ingestion_time":$t0}""",
        s"""{"symbol":"AAPL","price":11.5,"volume":2,"timestamp":${t0 + 60000},"conditions":[],"ingestion_time":$t0}""")
      mgr.processAllAvailable()
      // A second delivery touching the SAME window: the stateless
      // store merges a new partial where the stateful aggregate
      // updates its window state — the two layers must still agree.
      mem.addData(
        s"""{"symbol":"AAPL","price":12.0,"volume":1,"timestamp":${t0 + 120000},"conditions":[],"ingestion_time":$t0}""")
      mgr.processAllAvailable()
      val stateful = spark.read.parquet(s"$dir/out/gold5m")
        .select("symbol", "window_start", "open", "high", "low", "close",
          "volume", "trade_count", "vwap_e6")
        .collect().map(_.toSeq).toSet
      val mor = graft.streaming.IncrementalGoldStream.read(spark, s"$dir/out/gold5m_mor")
        .select("symbol", "window_start", "open", "high", "low", "close",
          "volume", "trade_count", "vwap_e6")
        .collect().map(_.toSeq).toSet
      assert(mor == stateful)
      assert(mor.head.contains(10.5) && mor.head.contains(12.0)) // open/close span deliveries
    } finally if (mgr != null) mgr.stopAll()
  }

  test("heartbeat decorator: idle feed still closes append-mode windows (r15 verdict #6)") {
    // gold5m_final is APPEND mode: a bar is emitted only when the
    // watermark passes its window end. With a single feed that goes
    // idle, the watermark freezes at the last trade and the session's
    // final bars are withheld until the next tick — possibly the next
    // trading day. --heartbeat-secs decorates the parsed feed
    // (Heartbeats.decorate) so the watermark keeps advancing on wall
    // clock and the bars flush with NO further input — this test feeds
    // two trades ten minutes in the past, then only waits.
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_app_hb").toString
    val mem = MemoryStream[String]
    val now = System.currentTimeMillis()
    val t0 = now - 10 * 60 * 1000L
    val cfg = App.Config(out = s"$dir/out", checkpoint = s"$dir/ckp",
      layers = Set("gold5m_final"), trigger = "1 second",
      watermark = "1 second", heartbeatSecs = 1)
    var mgr: graft.streaming.Sinks.SinkManager = null
    try {
      mgr = App.start(spark, mem.toDF(), cfg)
      mem.addData(
        s"""{"symbol":"AAPL","price":10.5,"volume":3,"timestamp":$t0,"conditions":[],"ingestion_time":$t0}""",
        s"""{"symbol":"AAPL","price":11.5,"volume":2,"timestamp":${t0 + 30000},"conditions":[],"ingestion_time":$t0}""")
      // No further data. Poll until the heartbeat-advanced watermark
      // flushes the bar(s); without the decorator this loop times out
      // (the watermark would be stuck at t0+30s − 1s, before the
      // window end).
      val deadline = System.currentTimeMillis() + 90000
      def barRows() =
        try spark.read.parquet(s"$dir/out/gold5m_final").collect()
        catch { case _: Throwable => Array.empty[org.apache.spark.sql.Row] }
      var rows = barRows()
      while (rows.map(_.getAs[Long]("trade_count")).sum < 2 &&
             System.currentTimeMillis() < deadline) {
        Thread.sleep(1000)
        rows = barRows()
      }
      // Both trades flushed; heartbeat rows polluted nothing (total
      // trade_count is exactly the real trades, volumes are theirs).
      assert(rows.map(_.getAs[Long]("trade_count")).sum === 2L,
        s"bars never flushed on an idle feed: ${rows.toSeq}")
      assert(rows.map(_.getAs[Long]("volume")).sum === 5L)
      assert(rows.forall(_.getAs[String]("symbol") == "AAPL"))
    } finally if (mgr != null) mgr.stopAll()
    // And the backfill guard: wall-clock heartbeats under a bounded
    // drain would late-drop the whole backlog — refused up front.
    val err = intercept[IllegalArgumentException] {
      App.start(spark, mem.toDF(), cfg.copy(trigger = "available-now"))
    }
    assert(err.getMessage.contains("heartbeat"))
  }

  test("monitoring: metric rows flow to the _metrics layer and the SLO alert fires") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_app_metrics").toString
    val mem = MemoryStream[String]
    val t0 = 1705312800000L
    // sloMs = 1: a real micro-batch (plan + file-sink commit) always
    // exceeds 1 ms, so the threshold turns every batch into the
    // "stalled" case and proves the alert path end-to-end without a
    // 10 s sleep. The production default (10 000) is the reference's
    // ingest→silver alert threshold.
    val cfg = App.Config(out = s"$dir/out", checkpoint = s"$dir/ckp",
      layers = Set("silver", "gold5m"), trigger = "0 seconds", sloMs = 1L)
    val mgr = App.start(spark, mem.toDF(), cfg)
    def trade(ts: Long): String =
      s"""{"symbol":"AAPL","price":10.5,"volume":3,"timestamp":$ts,"conditions":[],"ingestion_time":$ts}"""
    try {
      mem.addData(trade(t0))
      mgr.processAllAvailable()
      // An hour later moves the 10-minute watermark past t0, so a
      // second trade at t0 + 1 s arrives late and is dropped.
      mem.addData(trade(t0 + 3600000L))
      mgr.processAllAvailable()
      mem.addData(trade(t0 + 1000L))
      mgr.processAllAvailable()
      val listener = mgr.monitor.getOrElse(fail("App.start attached no monitor"))
      assert(listener.snapshot.nonEmpty, "no batch metrics recorded")
      assert(listener.slowBatches(thresholdMs = 1L).nonEmpty,
        "no batch exceeded the 1 ms SLO")
    } finally mgr.stopAll() // flushes the final metrics export
    val batches = spark.read.parquet(s"$dir/out/_metrics/batches")
    assert(batches.filter(col("query") === "silver")
      .filter(col("input_rows") > 0).count() > 0,
      "silver's data-carrying batch missing from the exported metrics")
    // Per-layer phase split, state size and late drops reach the export.
    val gold = batches.filter(col("query") === "gold5m")
    val data = gold.filter(col("input_rows") > 0)
    assert(data.count() > 0, "gold5m's data-carrying batches missing from the export")
    assert(data.filter(col("add_batch_ms") > 0 && col("wal_commit_ms") >= 0 &&
      col("commit_offsets_ms") >= 0 && col("query_planning_ms") >= 0 &&
      col("source_ms") >= 0).count() > 0, "gold5m batches carry no phase split")
    assert(gold.filter(col("state_rows") > 0 && col("state_bytes") > 0 &&
      col("state_commit_ms") >= 0).count() > 0, "gold5m batches carry no state size")
    assert(gold.agg(sum(col("late_dropped_rows"))).head().getLong(0) > 0,
      "the late trade is not counted as dropped by gold5m's watermark")
    val alerts = spark.read.parquet(s"$dir/out/_metrics/alerts")
    assert(alerts.count() > 0, "SLO alert did not fire in the export")
    // Each export writes one file per table, not one per default slot.
    for (table <- Seq("batches", "alerts")) {
      val parts = Files.list(java.nio.file.Paths.get(s"$dir/out/_metrics/$table"))
        .toArray.map(_.toString).filter(_.endsWith(".parquet"))
      assert(parts.length === 1, s"_metrics/$table: ${parts.mkString(", ")}")
    }
  }

  test("chained layers refuse bounded-drain triggers (backlog would be silently lost)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val cfg = App.Config(out = "/tmp/never", checkpoint = "/tmp/never_ckp",
      chained = true, layers = Set("silver", "gold5m"), trigger = "available-now")
    val ex = intercept[IllegalArgumentException] {
      App.start(spark, mem.toDF(), cfg)
    }
    assert(ex.getMessage.contains("snapshots the silver directory"))
    // A misspelt or removed layer name is refused, never skipped.
    for (bad <- Seq(Set("bronze", "silvr"), Set("admission"))) {
      val unknown = intercept[IllegalArgumentException] {
        App.start(spark, mem.toDF(), cfg.copy(chained = false, layers = bad))
      }
      assert(unknown.getMessage.contains((bad - "bronze").head) &&
        unknown.getMessage.contains("bronze, silver, gold5m"), unknown.getMessage)
    }
    assert(!spark.streams.active.exists(_.name == "bronze"))
  }

  test("two-invocation chained backfill: bounded downstream drain over committed silver") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_app_backfill").toString
    val t0 = 1705312800000L
    // Invocation-1 analog: a fully committed silver store.
    val rows = Seq(
      org.apache.spark.sql.Row("AAPL", 10.5, 3L, t0, Seq("1"), t0,
        new java.sql.Timestamp(t0), java.sql.Date.valueOf("2024-01-15")),
      org.apache.spark.sql.Row("AAPL", 11.5, 2L, t0 + 60000L, Seq("1"), t0,
        new java.sql.Timestamp(t0 + 60000L), java.sql.Date.valueOf("2024-01-15")))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), App.silverSchema)
      .write.mode("overwrite").parquet(s"$dir/out/silver")
    // Invocation 2: the chained gold layer ALONE under available-now
    // (valid precisely because silver is not draining concurrently).
    val mem = MemoryStream[String]
    val cfg = App.Config(out = s"$dir/out", checkpoint = s"$dir/ckp",
      chained = true, layers = Set("gold5m"), trigger = "available-now")
    val mgr = App.start(spark, mem.toDF(), cfg)
    try {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (mgr.status.values.exists(identity) && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(mgr.status.values.forall(!_), s"queries still active: ${mgr.status}")
      val gold = spark.read.parquet(s"$dir/out/gold5m")
      assert(gold.count() === 1)
      assert(gold.collect().head.getAs[Long]("volume") === 5L)
    } finally mgr.stopAll()
  }

  test("chained grain cascade: gold1h streams from finalized 5m bars, equals batch rollup") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_app_cascade").toString
    val mem = MemoryStream[String]
    val t0 = 1705312800000L // aligned to the hour
    val cfg = App.Config(out = s"$dir/out", checkpoint = s"$dir/ckp",
      chained = true, layers = Set("silver", "gold5m_final", "gold1h"),
      trigger = "0 seconds", watermark = "1 minute")
    val mgr = App.start(spark, mem.toDF(), cfg)
    try {
      // 150 minutes of trades + a pusher far ahead so the upstream
      // watermark closes every dense 5m window; the cascade's own
      // watermark then closes the first two 1h windows.
      val rows = (0 until 30).map { i =>
        val ts = t0 + i * 300000L
        s"""{"symbol":"AAPL","price":${10.0 + i},"volume":1,"timestamp":$ts,"conditions":[],"ingestion_time":$ts}"""
      }
      mem.addData(rows: _*)
      val push = t0 + 10L * 3600000L
      mem.addData(s"""{"symbol":"AAPL","price":99.0,"volume":1,"timestamp":$push,"conditions":[],"ingestion_time":$push}""")
      // Insertion order is silver -> gold5m_final -> gold1h, so one
      // manager pass drains each chain level over the files the
      // previous level just committed; a second pass picks up
      // anything emitted by a trailing no-data watermark batch.
      mgr.processAllAvailable()
      mgr.processAllAvailable()
      val bars5 = spark.read.parquet(s"$dir/out/gold5m_final")
      assert(bars5.count() > 0, "no finalized 5m bars were committed")
      val key = Seq("open", "high", "low", "close", "volume", "trade_count",
        "vwap_e6", "pv_ticks")
      def byWindow(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
        r.getAs[java.sql.Timestamp]("window_start").getTime ->
          key.map(c => r.getAs[Any](c)).toList
      }.toMap
      val streamed = byWindow(spark.read.parquet(s"$dir/out/gold1h"))
      assert(streamed.nonEmpty, "no 1h windows closed in the cascade")
      // Every streamed 1h bar equals the batch rollup of the same
      // finalized 5m bars, field for field.
      val batch = byWindow(graft.operators.Ohlcv.rollup(bars5, "1 hour"))
      streamed.foreach { case (ws, v) => assert(batch(ws) === v, s"window $ws") }
      // The dense range's two full hours must have closed.
      assert(streamed.keySet.count(ws => ws >= t0 && ws < t0 + 7200000L) >= 2,
        s"closed windows: ${streamed.keySet.toSeq.sorted}")
    } finally mgr.stopAll()
  }

  test("idle chained cascade with heartbeats: BOTH grains' append windows close (r16 verdict #5)") {
    // The library-level pieces are proven separately (AppSpec's
    // single-layer heartbeat test; MultiWatermarkSpec's decorated
    // rollup + delay-sizing pins) — this drives the WHOLE wired
    // topology through App.start: --chained --heartbeat-secs over a
    // feed that has gone idle. Invocation shape: silver, then each
    // chain level added over its upstream's COMMITTED backlog, every
    // invocation resuming the earlier layers from their checkpoints.
    // Historical data and wall-clock heartbeats only coexist when the
    // backlog lands in a level's FIRST micro-batch, before any
    // heartbeat has moved its fresh watermark — a single fresh-start
    // invocation would late-drop the 3 h-old rows at every downstream
    // level (the fourth-trap scaladoc in Heartbeats). Writing this test
    // is what surfaced that trap — and the r16 cascade delay bug it
    // implies — in the first place.
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_app_idle_cascade").toString
    // Hour-aligned, 3 h in the past: every 5m and 1h window the trades
    // touch ended long before "now", so wall-clock heartbeats close
    // them with NO further input.
    val hourMs = 3600000L
    val t0 = (System.currentTimeMillis() - 3 * hourMs) / hourMs * hourMs
    def rows(layer: String) =
      try spark.read.parquet(s"$dir/out/$layer").collect()
      catch { case _: Throwable => Array.empty[org.apache.spark.sql.Row] }
    // One feed and one checkpoint root for every invocation: a file-
    // sink layer resumes its own checkpoint (App refuses a new one over
    // an output its sink log already covers).
    val mem = MemoryStream[String]
    def drainUntil(layers: Set[String])(done: => Boolean): Unit = {
      val mgr = App.start(spark, mem.toDF(), App.Config(out = s"$dir/out",
        checkpoint = s"$dir/ckp", watermark = "1 second", chained = true,
        heartbeatSecs = 1, trigger = "1 second", layers = layers))
      try {
        val deadline = System.currentTimeMillis() + 120000
        while (!done && System.currentTimeMillis() < deadline)
          Thread.sleep(1000)
        // A few more triggers, so a query that dies after the flush
        // (a state-store or sink fault) shows in its handle below.
        Thread.sleep(3000)
        mgr.handles.foreach { case (name, q) =>
          assert(q.exception.isEmpty, s"$name died: ${q.exception}") }
      } finally mgr.stopAll()
    }
    // Invocation 1 — silver alone: the backlog is in the feed before
    // start, so it lands in silver's first micro-batch.
    mem.addData(
      s"""{"symbol":"AAPL","price":10.5,"volume":3,"timestamp":$t0,"conditions":[],"ingestion_time":$t0}""",
      s"""{"symbol":"AAPL","price":11.5,"volume":2,"timestamp":${t0 + 360000},"conditions":[],"ingestion_time":$t0}""")
    drainUntil(Set("silver"))(rows("silver").length >= 2)
    assert(spark.read.parquet(s"$dir/out/silver").count() === 2)
    // Invocation 2 — idle continuous chained topology WITH heartbeats:
    // gold5m_final's first batch ingests the committed silver backlog
    // (fresh watermark = 0), then heartbeats alone close both 5m
    // windows and flush the bars.
    drainUntil(Set("silver", "gold5m_final")) {
      rows("gold5m_final").map(_.getAs[Long]("trade_count")).sum >= 2
    }
    val bars5 = rows("gold5m_final")
    assert(bars5.map(_.getAs[Long]("trade_count")).sum === 2L,
      s"5m bars never flushed on the idle feed: ${bars5.toSeq}")
    assert(bars5.length === 2 && bars5.forall(_.getAs[String]("symbol") == "AAPL"))
    // Invocation 3 — the full three-level cascade, still idle: gold1h
    // ingests the committed bars in ITS first batch, then its own
    // heartbeats close the 1h window — the level r16 only proved at
    // library level.
    drainUntil(Set("silver", "gold5m_final", "gold1h")) {
      rows("gold1h").map(_.getAs[Long]("trade_count")).sum >= 2
    }
    val bars1h = rows("gold1h")
    assert(bars1h.map(_.getAs[Long]("trade_count")).sum === 2L,
      s"1h bar never flushed on the idle cascade: ${bars1h.toSeq}")
    assert(bars1h.forall(_.getAs[String]("symbol") == "AAPL"),
      s"heartbeat rows leaked into gold1h: ${bars1h.toSeq}")
    val bar = bars1h.filter(_.getAs[java.sql.Timestamp]("window_start").getTime == t0)
    assert(bar.length === 1)
    assert(bar.head.getAs[Double]("open") === 10.5)
    assert(bar.head.getAs[Double]("close") === 11.5)
    assert(bar.head.getAs[Long]("volume") === 5L)
    // gold5m_final resumed in invocation 3 without re-emitting its
    // bars — no duplicates.
    assert(rows("gold5m_final").map(_.getAs[Long]("trade_count")).sum === 2L)
    // Zero heartbeat rows anywhere: silver still carries exactly the
    // two trades.
    assert(spark.read.parquet(s"$dir/out/silver").count() === 2)
    // A NEW checkpoint over silver's sink log would skip its first
    // batches unrun (silver's dedup state never committed): refused
    // before any query starts.
    val err = intercept[IllegalArgumentException] {
      App.start(spark, mem.toDF(), App.Config(out = s"$dir/out",
        checkpoint = s"$dir/ckp_new", watermark = "1 second", chained = true,
        heartbeatSecs = 1, trigger = "1 second", layers = Set("silver", "gold5m_final")))
    }
    assert(err.getMessage.contains("sink log"))
    assert(!spark.streams.active.exists(_.name == "silver"))
  }

  test("chained cascade refuses bounded-drain triggers (bar backlog would be lost)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val cfg = App.Config(out = "/tmp/never2", checkpoint = "/tmp/never2_ckp",
      chained = true, layers = Set("gold5m_final", "gold1h"), trigger = "once")
    val ex = intercept[IllegalArgumentException] {
      App.start(spark, mem.toDF(), cfg)
    }
    assert(ex.getMessage.contains("snapshots the bar directory"))
  }

  test("available-now trigger drains the backlog and the queries stop on their own") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_app_an").toString
    val mem = MemoryStream[String]
    val t0 = 1705312800000L
    // Backlog exists BEFORE start — available-now's contract is to
    // consume exactly what is present at query start, then terminate.
    mem.addData(
      s"""{"symbol":"AAPL","price":10.5,"volume":3,"timestamp":$t0,"conditions":[],"ingestion_time":$t0}""",
      s"""{"symbol":"MSFT","price":20.0,"volume":1,"timestamp":${t0 + 1000},"conditions":[],"ingestion_time":$t0}""")
    val cfg = App.Config(out = s"$dir/out", checkpoint = s"$dir/ckp",
      layers = Set("bronze", "silver"), trigger = "available-now")
    val mgr = App.start(spark, mem.toDF(), cfg)
    try {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (mgr.status.values.exists(identity) && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(mgr.status.values.forall(!_), s"queries still active: ${mgr.status}")
      assert(spark.read.parquet(s"$dir/out/bronze").count() === 2)
      assert(spark.read.parquet(s"$dir/out/silver").count() === 2)
    } finally mgr.stopAll()
  }

  test("chained topology: gold streams from the silver output, same bars") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_app_chain").toString
    val mem = MemoryStream[String]
    val t0 = 1705312800000L
    val cfg = App.parseArgs(Array(
      "--chained", "true", "--layers", "silver,gold5m,indicators",
      "--out", s"$dir/out", "--checkpoint", s"$dir/ckp", "--trigger", "0 seconds"))
    assert(cfg.chained)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    val mgr = App.start(spark, mem.toDF(), cfg)
    mem.addData(
      s"""{"symbol":"AAPL","price":10.5,"volume":3,"timestamp":$t0,"conditions":[],"ingestion_time":$t0}""",
      s"""{"symbol":"AAPL","price":11.5,"volume":2,"timestamp":${t0 + 60000},"conditions":[],"ingestion_time":$t0}""")
    // Two drains: the first commits silver files, the second lets the
    // chained gold/indicator file-sources discover and process them.
    try {
      mgr.processAllAvailable()
      mgr.processAllAvailable()
    } finally {
      mgr.stopAll()
      prevProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
    assert(spark.read.parquet(s"$dir/out/silver").count() === 2)
    // The chained indicators layer consumed the same silver output.
    val ind = spark.read.parquet(s"$dir/out/indicators").orderBy("event_time").collect()
    assert(ind.length === 2)
    assert(ind.head.getAs[Double]("ema") === 10.5)
    // Silver is written by the native file sink: its _spark_metadata
    // commit log is what makes the chained read exactly-once (a
    // replayed micro-batch commits the same batch id once, and the
    // gold file source reads only committed files).
    assert(new java.io.File(s"$dir/out/silver/_spark_metadata").exists())
    val gold = spark.read.parquet(s"$dir/out/gold5m")
    assert(gold.count() === 1)
    val bar = gold.collect().head
    assert(bar.getAs[Double]("open") === 10.5)
    assert(bar.getAs[Double]("close") === 11.5)
    assert(bar.getAs[Long]("volume") === 5L)
    // Chained gold without the silver layer is refused loudly.
    intercept[IllegalArgumentException] {
      App.start(spark, mem.toDF(), cfg.copy(layers = Set("gold5m"),
        out = s"$dir/out2", checkpoint = s"$dir/ckp2"))
    }
  }

  test("available-now FULL fan-out over a static directory equals the batch medallion") {
    import org.apache.spark.sql.functions._
    // The trigger-parity gap the ProcessingTime specs can't cover: the
    // whole fan-out app (bronze + silver + both gold grains + dead
    // letters) drains a pre-existing file backlog under
    // Trigger.AvailableNow with maxFilesPerTrigger=1 — a REAL
    // multi-micro-batch bounded drain with per-batch watermark
    // advancement and checkpoint handoff — and the resulting silver
    // and gold stores must equal the batch medallion field-for-field.
    val dir = Files.createTempDirectory("graft_app_an_full").toString
    val t0 = 1705312800000L // 2024-01-15 10:00:00 UTC, hour-aligned
    def line(sym: String, px: Double, vol: Long, ts: Long) =
      s"""{"symbol":"$sym","price":$px,"volume":$vol,"timestamp":$ts,"conditions":[],"ingestion_time":$ts}"""
    // Three files → three micro-batches; the span stays well inside
    // the 10m watermark so cross-batch arrival order cannot drop rows.
    val f1 = Seq(line("AAPL", 10.5, 3, t0), line("AAPL", 11.5, 2, t0 + 60000),
      line("MSFT", 20.0, 1, t0 + 30000))
    val f2 = Seq(line("AAPL", 10.5, 3, t0), // exact replay → streaming dedup
      line("AAPL", 12.0, 4, t0 + 310000), // second 5m window
      line("BAD", -1.0, 9, t0 + 1000)) // dead letter, never silver
    val f3 = Seq(line("MSFT", 21.0, 2, t0 + 320000))
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    for ((f, i) <- Seq(f1, f2, f3).zipWithIndex)
      Files.write(java.nio.file.Paths.get(s"$dir/in/part$i.json"),
        f.mkString("\n").getBytes("UTF-8"))
    val raw = spark.readStream.option("maxFilesPerTrigger", "1").text(s"$dir/in")
    val cfg = App.Config(out = s"$dir/out", checkpoint = s"$dir/ckp",
      layers = Set("bronze", "silver", "gold5m", "gold1h", "deadletter"),
      trigger = "available-now")
    val mgr = App.start(spark, raw, cfg)
    try {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (mgr.status.values.exists(identity) && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(mgr.status.values.forall(!_), s"queries still active: ${mgr.status}")
    } finally mgr.stopAll()

    // Batch medallion over the SAME files through the SAME transforms.
    val parsedB = graft.streaming.TradeStreams.parseTrades(spark.read.text(s"$dir/in"))
    val silverB = graft.streaming.TradeStreams.toSilverStreaming(parsedB)
      .dropDuplicates("symbol", "timestamp") // replay rows are byte-equal, survivor moot
      .withColumn("trade_date", to_date(col("event_time")))
    def goldB(duration: String) =
      graft.operators.Ohlcv.bars(silverB.withColumn("event_id", col("timestamp")), duration)
        .withColumn("window_date", to_date(col("window_start")))

    // Silver: field-for-field equality (all columns are deterministic).
    def silverKey(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("symbol"), r.getAs[Long]("timestamp"), r.getAs[Double]("price"),
        r.getAs[Long]("volume"), r.getAs[java.sql.Timestamp]("event_time"),
        r.getAs[java.sql.Date]("trade_date"))
    val silverGot = spark.read.parquet(s"$dir/out/silver").collect().map(silverKey).toSet
    assert(silverGot === silverB.collect().map(silverKey).toSet)
    assert(silverGot.size === 5) // 6 valid lines − 1 replay; BAD filtered

    // Gold, both grains: every bar field including the exact-integer
    // vwap carry must match the batch aggregation.
    def barKey(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("symbol"), r.getAs[java.sql.Timestamp]("window_start").getTime,
        r.getAs[java.sql.Timestamp]("window_end").getTime, r.getAs[Double]("open"),
        r.getAs[Double]("high"), r.getAs[Double]("low"), r.getAs[Double]("close"),
        r.getAs[Long]("volume"), r.getAs[Long]("trade_count"),
        r.getAs[java.lang.Long]("vwap_e6"), r.getAs[Long]("pv_ticks"))
    for ((layer, dur) <- Seq("gold5m" -> "5 minutes", "gold1h" -> "1 hour")) {
      val got = spark.read.parquet(s"$dir/out/$layer").collect().map(barKey).toSet
      val want = goldB(dur).collect().map(barKey).toSet
      assert(got === want, s"$layer: stream-only ${(got -- want).take(2)}; " +
        s"batch-only ${(want -- got).take(2)}")
    }
    // AAPL windows [10:00,10:05) and [10:05,10:10); MSFT [10:00,10:05)
    // and [10:05,10:10) → 4 bars total.
    assert(spark.read.parquet(s"$dir/out/gold5m").count() === 4)

    // Bronze keeps every parsed row (audit layer, replay included);
    // the dead letter captured exactly the invalid row.
    assert(spark.read.parquet(s"$dir/out/bronze").count() === 7)
    val dead = spark.read.parquet(s"$dir/out/dead_letters").collect()
    assert(dead.length === 1 && dead.head.getAs[String]("symbol") === "BAD")
  }

  test("fan-out drain conserves trades and volume across silver, gold5m and gold1h") {
    // The layers re-derive silver independently (fan-out: each gold
    // grain parses and dedups the raw feed itself), so nothing but
    // these sums ties them together. Six files cross the hour, each
    // re-sending two rows of the previous file (inside the 10m
    // watermark, so dedup drops them and nothing is late) and carrying
    // three invalid rows. The span crosses the watermark, so the files
    // must arrive in order.
    val dir = Files.createTempDirectory("graft_app_conserve").toString
    val t0 = 1705314600000L // 2024-01-15 10:30:00 UTC
    def line(sym: String, px: Double, vol: Long, ts: Long) =
      s"""{"symbol":"$sym","price":$px,"volume":$vol,"timestamp":$ts,"conditions":[],"ingestion_time":$ts}"""
    val syms = Seq("AAPL", "MSFT", "NVDA")
    val files = (0 until 6).map { f =>
      (0 until 8).map { i =>
        val n = f * 8 + i
        line(syms(n % 3), 100.0 + n, 1L + n % 7, t0 + n * 61000L)
      }
    }
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    for ((f, i) <- files.zipWithIndex) {
      val resent = if (i == 0) Nil else files(i - 1).takeRight(2)
      val invalid = Seq(line("BAD", -1.0, 5, t0 + i * 488000L),
        line("ZERO", 10.0, 0, t0 + i * 488000L), "{not json")
      val file = Files.write(java.nio.file.Paths.get(s"$dir/in/part$i.json"),
        (f ++ resent ++ invalid).mkString("\n").getBytes("UTF-8"))
      // The file source takes files in modification-time order.
      Files.setLastModifiedTime(file, java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L))
    }
    val raw = spark.readStream.option("maxFilesPerTrigger", "1").text(s"$dir/in")
    val cfg = App.Config(out = s"$dir/out", checkpoint = s"$dir/ckp",
      layers = Set("bronze", "silver", "gold5m", "gold1h"), trigger = "available-now")
    val mgr = App.start(spark, raw, cfg)
    val progress = try {
      mgr.handles.values.foreach(_.awaitTermination(120000))
      assert(mgr.status.values.forall(!_), s"queries still active: ${mgr.status}")
      mgr.handles.map { case (n, q) => n -> q.recentProgress.toSeq }
    } finally mgr.stopAll()

    for ((layer, ps) <- progress) {
      assert(ps.map(_.batchId).distinct.size >= 6, s"$layer ran ${ps.size} batches")
      val dropped = ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped === 0, s"$layer dropped $dropped rows by watermark")
    }
    def read(layer: String) = spark.read.parquet(s"$dir/out/$layer")
    val silver = read("silver")
    val silverRows = silver.count()
    assert(silverRows === 48) // 48 valid trades; re-sends and invalid rows gone
    val silverVolume = silver.agg(sum("volume")).as[Long].head()
    val gold5m = read("gold5m").agg(sum("trade_count"), sum("volume")).as[(Long, Long)].head()
    val gold1hVolume = read("gold1h").agg(sum("volume")).as[Long].head()
    assert(gold5m === ((silverRows, silverVolume)))
    assert(gold1hVolume === silverVolume)
    assert(read("gold1h").select("window_start").distinct().count() === 2) // 10:00 and 11:00
  }

  test("a start that fails after earlier layers started stops them, the listener and the exporter") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_app_partial").toString
    val mem = MemoryStream[String]
    def exporters() = Thread.getAllStackTraces.keySet.toArray
      .map(_.asInstanceOf[Thread]).count(t => t.isAlive && t.getName == "graft-metrics-exporter")
    val before = spark.streams.active.map(_.id).toSet
    val first = App.start(spark, mem.toDF(), App.Config(out = s"$dir/a/out",
      checkpoint = s"$dir/a/ckp", layers = Set("silver"), trigger = "1 second"))
    try {
      val running = exporters()
      // Bronze starts, then silver's start throws at once: a query of
      // that name is already active in the session.
      val err = intercept[IllegalArgumentException] {
        App.start(spark, mem.toDF(), App.Config(out = s"$dir/b/out",
          checkpoint = s"$dir/b/ckp", layers = Set("bronze", "silver"), trigger = "1 second"))
      }
      assert(err.getMessage.contains("silver"), err.getMessage)
      assert(spark.streams.active.map(_.id).toSet -- before === Set(first.handles("silver").id))
      val deadline = System.currentTimeMillis() + 10000
      while (exporters() > running && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(exporters() <= running, "the failed start left its exporter thread running")
    } finally first.stopAll()
  }

  test("every file-sink layer refuses a new checkpoint over its sink log before any query starts") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_app_sinklog").toString
    val mem = MemoryStream[String]
    val fanOut = App.Config(out = s"$dir/out", checkpoint = s"$dir/ckp", trigger = "1 second")
    // gold1h writes through a file sink only in the chained cascade,
    // which also needs its upstream levels selected.
    val cascade = fanOut.copy(chained = true, layers = Set("silver", "gold5m_final", "gold1h"))
    val rows = App.layers(spark, fanOut).map(_ -> fanOut) ++
      App.layers(spark, cascade).filter(_.upstream == App.Bars).map(_ -> cascade)
    val fileSinks = rows.filter(_._1.sink.isInstanceOf[App.FileSink])
    assert(fileSinks.map(_._1.name) === Seq("bronze", "silver", "gold5m_final", "indicators",
      "deadletter", "gold1h"))
    val before = spark.streams.active.map(_.id).toSet
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    try for ((row, cfg) <- fileSinks) {
      val log = java.nio.file.Paths.get(row.out, "_spark_metadata")
      Files.createDirectories(log)
      Files.write(log.resolve("0"), "v1\n".getBytes("UTF-8"))
      val err = intercept[IllegalArgumentException] {
        App.start(spark, mem.toDF(), cfg.copy(checkpoint = s"$dir/fresh_${row.name}",
          layers = if (cfg.chained) cfg.layers else Set(row.name)))
      }
      assert(err.getMessage.contains("sink log") && err.getMessage.contains(row.out),
        s"${row.name}: ${err.getMessage}")
      assert(spark.streams.active.forall(q => before(q.id)),
        s"${row.name} left ${spark.streams.active.map(_.name).mkString(", ")} running")
      Files.delete(log.resolve("0"))
    } finally prevProvider match {
      case Some(p) => spark.conf.set(providerKey, p)
      case None => spark.conf.unset(providerKey)
    }
  }
}
