package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Ohlcv
import graft.streaming.{LatestPriceStream, Sinks, TradeStreams}

/** End-to-end streaming behavior over MemoryStream — the spine the
  * reference wires in spark_processor.py:135-183: parse -> watermark
  * -> dedup -> OHLCV -> sinks, plus the stateful latest-prices op.
  */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def tradeJson(sym: String, p: Double, v: Long, tMs: Long): String =
    s"""{"symbol":"$sym","price":$p,"volume":$v,"timestamp":$tMs,"conditions":["1"],"ingestion_time":$tMs}"""

  private val t0 = 1705312800000L // 2024-01-15T10:00:00Z

  test("P1 parse: kafka-shaped JSON bytes -> typed trade rows with event_time") {
    val raw = Seq(tradeJson("AAPL", 150.25, 100, t0)).toDF("value")
    val parsed = TradeStreams.parseTrades(raw).collect().head
    assert(parsed.getAs[String]("symbol") === "AAPL")
    assert(parsed.getAs[Double]("price") === 150.25)
    assert(parsed.getAs[Seq[String]]("conditions") === Seq("1"))
    assert(parsed.getAs[Timestamp]("event_time").getTime === t0)
    val typed = TradeStreams.parseTradesTyped(spark, raw).collect().head
    assert(typed.symbol === "AAPL" && typed.price === 150.25 &&
      typed.conditions === Seq("1") && typed.event_time.getTime === t0)
  }

  test("monitoring listener records per-batch metrics; SLO filter flags slow batches") {
    implicit val sqlCtx = spark.sqlContext
    val listener = graft.streaming.Monitoring.attach(spark, capacity = 8)
    try {
      val mem = MemoryStream[String]
      val q = TradeStreams.parseTrades(mem.toDF())
        .writeStream.format("memory").queryName("mon_out")
        .outputMode("append").start()
      mem.addData(tradeJson("AAPL", 10.0, 1, t0))
      q.processAllAvailable()
      mem.addData(tradeJson("AAPL", 11.0, 2, t0 + 1000))
      q.processAllAvailable()
      q.stop()
      // The bus is asynchronous; wait briefly for the progress events.
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (listener.snapshot.count(_.input_rows > 0) < 2 && System.nanoTime() < deadline)
        Thread.sleep(50)
      val got = listener.snapshot.filter(_.input_rows > 0)
      assert(got.size >= 2, s"recorded: ${listener.snapshot}")
      assert(got.map(_.input_rows).sum === 2L)
      assert(got.forall(_.query == "mon_out"))
      // DataFrame surface + SLO filter: threshold 0 flags everything,
      // the 10 s reference envelope flags nothing in this tiny run.
      val df = listener.metrics(spark)
      assert(df.filter(col("input_rows") > 0).count() >= 2)
      assert(listener.slowBatches(thresholdMs = 0L).nonEmpty)
      // Capacity bound holds.
      assert(listener.snapshot.size <= 8)
    } finally spark.streams.removeListener(listener)
  }

  test("session windows run streaming: closed sessions equal the batch sessionization") {
    // The same session_window aggregate x2 runs in batch, under a
    // watermark — sessions close (and their state evicts) once the
    // watermark passes the gap, so state is bounded by ACTIVE
    // sessions, not uptime.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Timestamp)]
    val events = mem.toDF().toDF("user_id", "value", "event_time")
      .withWatermark("event_time", "1 minute")
    val q = graft.operators.Sessions.sessionStats(
        events, keyCol = "user_id", timeCol = "event_time",
        valueCol = "value", gap = "30 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    val rows = Seq(
      ("u1", 5L, new Timestamp(t0)),            // session 1...
      ("u1", 7L, new Timestamp(t0 + 600000L)),  // ...extends (10 min gap)
      ("u1", 11L, new Timestamp(t0 + 7200000L)),// new session (2 h gap)
      ("u2", 1L, new Timestamp(t0 + 60000L)),
      ("u1", 0L, new Timestamp(t0 + 36000000L))) // watermark pusher (10 h)
    mem.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_out").collect()
      .map(r => (r.getAs[String]("user_id"), r.getAs[Long]("session_start_ms")) ->
        ((r.getAs[Long]("session_end_ms"), r.getAs[Long]("n_events"),
          r.getAs[Double]("sum_value")))).toMap
    assert(streamed.nonEmpty, "no sessions closed")
    val batch = graft.operators.Sessions.sessionStats(
        rows.toDF("user_id", "value", "event_time"),
        keyCol = "user_id", timeCol = "event_time",
        valueCol = "value", gap = "30 minutes")
      .collect()
      .map(r => (r.getAs[String]("user_id"), r.getAs[Long]("session_start_ms")) ->
        ((r.getAs[Long]("session_end_ms"), r.getAs[Long]("n_events"),
          r.getAs[Double]("sum_value")))).toMap
    // Every CLOSED streaming session equals the batch result; the
    // pusher's own session stays open and is absent from append output.
    streamed.foreach { case (k, v) => assert(batch(k) === v, s"session $k") }
    assert(streamed.contains(("u1", t0)) && streamed.contains(("u1", t0 + 7200000L)))
    assert(streamed(("u1", t0)) === ((t0 + 600000L + 1800000L, 2L, 12.0)))
    assert(streamed.contains(("u2", t0 + 60000L)))
  }

  test("streaming grain cascade: 1h bars roll up from the FINALIZED 5m bar stream") {
    // Stage 1 writes append-mode 5m bars (emitted once, when the
    // watermark closes the window — immutable files, so a chained
    // file source is safe; the upsert gold store is NOT, its buckets
    // rewrite). Stage 2 streams those bars and re-aggregates with
    // Ohlcv.rollup under a watermark on window_start — the streaming
    // form of the a7 grain cascade: state and input are O(bars).
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_cascade").toString
    val mem = MemoryStream[String]
    val trades = TradeStreams.parseTrades(mem.toDF())
      .withColumn("event_id", col("timestamp"))
    val bars5 = Ohlcv.bars5m(TradeStreams.withWatermark(trades, "1 minute"))
    val q1 = bars5.writeStream.format("parquet")
      .option("path", s"$dir/bars5m").option("checkpointLocation", s"$dir/ckp5")
      .outputMode("append").start()
    // 150 minutes of trades + a pusher event far ahead so the
    // watermark closes every 5m window below it. Stage 2's own
    // watermark advances only to max(window_start) − 1 min = t0+149,
    // so exactly the first two 1h windows can close there.
    val rows = (0 until 30).map(i => tradeJson("AAPL", 10.0 + i, 1, t0 + i * 300000L))
    mem.addData(rows: _*)
    mem.addData(tradeJson("AAPL", 99.0, 1, t0 + 10 * 3600000L)) // watermark pusher
    q1.processAllAvailable()
    q1.stop()

    val barStream = spark.readStream.schema(spark.read.parquet(s"$dir/bars5m").schema)
      .parquet(s"$dir/bars5m")
      .withWatermark("window_start", "1 minute")
    val q2 = Ohlcv.rollup(barStream, "1 hour").writeStream.format("parquet")
      .option("path", s"$dir/bars1h").option("checkpointLocation", s"$dir/ckp1h")
      .outputMode("append").start()
    q2.processAllAvailable()
    q2.stop()

    // The cascade's CLOSED 1h windows equal the batch rollup of the
    // same finalized 5m bars, bar-for-bar (the last 1h window stays
    // open in the stream — compare on the closed range only).
    val streamed = spark.read.parquet(s"$dir/bars1h").collect()
      .map(r => r.getAs[Timestamp]("window_start").getTime ->
        ((r.getAs[Double]("open"), r.getAs[Double]("close"), r.getAs[Long]("volume"),
          r.getAs[Long]("trade_count"), r.getAs[Long]("vwap_e6")))).toMap
    assert(streamed.nonEmpty, "no 1h windows closed in the cascade")
    val batch = Ohlcv.rollup(spark.read.parquet(s"$dir/bars5m"), "1 hour")
      .filter(col("symbol") === "AAPL").collect()
      .map(r => r.getAs[Timestamp]("window_start").getTime ->
        ((r.getAs[Double]("open"), r.getAs[Double]("close"), r.getAs[Long]("volume"),
          r.getAs[Long]("trade_count"), r.getAs[Long]("vwap_e6")))).toMap
    streamed.foreach { case (ws, v) => assert(batch(ws) === v, s"window $ws") }
    // The two full hours of the dense range must have closed.
    assert(streamed.keySet.count(ws => ws >= t0 - 3600000L && ws <= t0 + 7200000L) >= 2)
  }

  test("streaming OHLCV over MemoryStream: watermark + dedup + windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val trades = TradeStreams.parseTrades(mem.toDF().withColumnRenamed("value", "value"))
      .withColumn("event_id", col("timestamp")) // deterministic tie-break key
    val deduped = TradeStreams.dedupWithinWatermark(
      TradeStreams.withWatermark(trades))
    val bars = Ohlcv.bars5m(deduped)
    // NOTE: Trigger.AvailableNow snapshots offsets at start — data
    // added after .start() may never be seen (was a flaky race here).
    // processAllAvailable() is the synchronous test idiom.
    val q = bars.writeStream.format("memory").queryName("bars_out")
      .outputMode("update").start()
    mem.addData(
      tradeJson("AAPL", 10.0, 5, t0),
      tradeJson("AAPL", 10.0, 5, t0), // exact duplicate -> dropped
      tradeJson("AAPL", 20.0, 5, t0 + 60000),
      tradeJson("MSFT", 99.0, 1, t0 + 1000))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("bars_out").collect()
    val aapl = out.find(_.getAs[String]("symbol") == "AAPL").get
    assert(aapl.getAs[Long]("trade_count") === 2L) // dup removed
    assert(aapl.getAs[Double]("open") === 10.0)
    assert(aapl.getAs[Double]("close") === 20.0)
    assert(out.exists(_.getAs[String]("symbol") == "MSFT"))
  }

  test("A3: sliding windows stream — one event lands in 5 overlapping bars") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val trades = TradeStreams.parseTrades(mem.toDF())
      .withColumn("event_id", col("timestamp"))
    val bars = Ohlcv.barsSliding(TradeStreams.withWatermark(trades))
    val q = bars.writeStream.format("memory").queryName("slide_out")
      .outputMode("update").start()
    mem.addData(tradeJson("AAPL", 10.0, 1, t0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("slide_out").collect()
    assert(rows.length === 5)
    assert(rows.forall(_.getAs[Double]("open") === 10.0))
    val starts = rows.map(_.getAs[java.sql.Timestamp]("window_start").getTime).sorted
    assert(starts.zip(starts.tail).forall { case (a, b) => b - a == 60000 })
  }

  test("append mode emits a bar exactly once, when the watermark closes its window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val trades = TradeStreams.parseTrades(mem.toDF())
      .withColumn("event_id", col("timestamp"))
    val bars = Ohlcv.bars5m(TradeStreams.withWatermark(trades, "10 minutes"))
    val q = bars.writeStream.format("memory").queryName("append_out")
      .outputMode("append").start()
    mem.addData(tradeJson("AAPL", 10.0, 1, t0))
    q.processAllAvailable()
    // Window still open: nothing emitted yet.
    assert(spark.table("append_out").count() === 0)
    // Advance the watermark past the window end.
    mem.addData(tradeJson("AAPL", 20.0, 1, t0 + 3600000))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("append_out").collect()
    assert(rows.length === 1) // the closed first window, finalized once
    assert(rows.head.getAs[Double]("close") === 10.0)
  }

  test("A5: events later than the watermark are dropped from the aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val trades = TradeStreams.parseTrades(mem.toDF())
      .withColumn("event_id", col("timestamp"))
    val bars = Ohlcv.bars5m(TradeStreams.withWatermark(trades, "10 minutes"))
    val q = bars.writeStream.format("memory").queryName("late_out")
      .outputMode("update").start()
    // Batch 1: one event; watermark after the batch = t0 - 10min.
    mem.addData(tradeJson("AAPL", 10.0, 1, t0))
    q.processAllAvailable()
    // Batch 2: event one hour later pushes the watermark to t0+50min.
    mem.addData(tradeJson("AAPL", 20.0, 1, t0 + 3600000))
    q.processAllAvailable()
    // Batch 3: a late event inside the first (now-expired) window.
    mem.addData(tradeJson("AAPL", 99.0, 7, t0 + 60000))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("late_out").collect()
    // The first window must never reflect the late 99.0 trade.
    val firstWindow = rows.filter(_.getAs[java.sql.Timestamp]("window_start").getTime == (t0 / 300000) * 300000)
    assert(firstWindow.nonEmpty)
    assert(firstWindow.forall(_.getAs[Double]("high") === 10.0))
    assert(firstWindow.forall(_.getAs[Long]("volume") === 1L))
  }

  test("latest-price stateful stream emits change vs previous trade") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDbState {
      val mem = MemoryStream[LatestPriceStream.TradeEvent]
      val snaps = LatestPriceStream.snapshots(spark, mem.toDS())
      val q = snaps.writeStream.format("memory").queryName("lp_out")
        .outputMode("update").start()
      mem.addData(LatestPriceStream.TradeEvent("AAPL", 100.0, 10, new Timestamp(t0)))
      q.processAllAvailable()
      mem.addData(LatestPriceStream.TradeEvent("AAPL", 110.0, 20, new Timestamp(t0 + 1000)))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("lp_out").orderBy("last_trade_time").collect()
      assert(rows.length === 2)
      // First-ever trade: no previous price — NULL, the batch LEAD's value.
      assert(rows(0).isNullAt(rows(0).fieldIndex("price_change")))
      assert(rows(1).getAs[Double]("price_change") === 10.0)
      assert(math.abs(rows(1).getAs[Double]("price_change_pct") - 10.0) < 1e-9)
    }
  }

  test("a late out-of-order trade does not regress the latest-price snapshot") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDbState {
      val mem = MemoryStream[LatestPriceStream.TradeEvent]
      val snaps = LatestPriceStream.snapshots(spark, mem.toDS())
      val q = snaps.writeStream.format("memory").queryName("lp_late_out")
        .outputMode("update").start()
      mem.addData(LatestPriceStream.TradeEvent("AAPL", 110.0, 20, new Timestamp(t0 + 60000)))
      q.processAllAvailable()
      // Late event: older than the stored state — must be ignored.
      mem.addData(LatestPriceStream.TradeEvent("AAPL", 100.0, 10, new Timestamp(t0)))
      q.processAllAvailable()
      // A genuinely newer event still advances the state correctly.
      mem.addData(LatestPriceStream.TradeEvent("AAPL", 120.0, 5, new Timestamp(t0 + 120000)))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("lp_late_out").orderBy("last_trade_time").collect()
      assert(rows.length === 2) // the late batch emitted nothing
      assert(rows.last.getAs[Double]("last_price") === 120.0)
      assert(rows.last.getAs[Double]("price_change") === 10.0) // vs 110, not vs the stale 100
    }
  }

  test("a re-delivered newest trade emits no second latest-price snapshot") {
    implicit val sqlCtx = spark.sqlContext
    withRocksDbState {
      val mem = MemoryStream[LatestPriceStream.TradeEvent]
      val snaps = LatestPriceStream.snapshots(spark, mem.toDS())
      val q = snaps.writeStream.format("memory").queryName("lp_redelivered_out")
        .outputMode("update").start()
      mem.addData(LatestPriceStream.TradeEvent("AAPL", 100.0, 10, new Timestamp(t0)))
      q.processAllAvailable()
      mem.addData(LatestPriceStream.TradeEvent("AAPL", 110.0, 20, new Timestamp(t0 + 1000)))
      q.processAllAvailable()
      // The same trade again: equal (event_time, price) to the state is
      // not fresh, so it must not emit a (0.0, 0.0) snapshot that an
      // upsert by symbol would let overwrite the true change.
      mem.addData(LatestPriceStream.TradeEvent("AAPL", 110.0, 20, new Timestamp(t0 + 1000)))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("lp_redelivered_out").collect()
      assert(rows.length === 2, rows.toSeq)
      val newest = rows.filter(_.getAs[Double]("last_price") == 110.0)
      assert(newest.length === 1)
      assert(newest.head.getAs[Double]("price_change") === 10.0)
    }
  }

  test("batch adapter reproduces the stateful fold") {
    val ds = Seq(
      LatestPriceStream.TradeEvent("A", 100.0, 1, new Timestamp(t0)),
      LatestPriceStream.TradeEvent("A", 150.0, 2, new Timestamp(t0 + 5000)),
      LatestPriceStream.TradeEvent("B", 10.0, 3, new Timestamp(t0))).toDS()
    val out = LatestPriceStream.snapshotsBatch(spark, ds).collect()
      .map(lp => lp.symbol -> lp).toMap
    assert(out("A").last_price === 150.0)
    assert(out("A").price_change === Some(50.0))
    assert(out("B").price_change === None)
  }

  test("SinkManager fans out one source to parquet + dead-letter sinks (K1/K4/K5)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_sink").toString
    val mem = MemoryStream[String]
    val trades = TradeStreams.parseTrades(mem.toDF())
    val mgr = new Sinks.SinkManager
    mgr.start("bronze", Sinks.fileSink(trades, s"$dir/bronze", s"$dir/ckp_b",
      trigger = Trigger.ProcessingTime(0), queryName = "bronze"))
    mem.addData(tradeJson("AAPL", 1.0, 1, t0), tradeJson("MSFT", 2.0, 2, t0))
    mgr.processAllAvailable()
    assert(mgr.status === Map("bronze" -> true))
    assert(spark.read.parquet(s"$dir/bronze").count() === 2)
    mgr.stopAll()
    assert(mgr.status === Map("bronze" -> false))
  }

  test("upsertByKey merges a partial micro-batch without dropping sibling rows") {
    val dir = Files.createTempDirectory("graft_upsert").toString
    def bars(rows: (String, String, Double)*) =
      rows.toSeq.toDF("symbol", "window_date", "close")
    // Batch 1: two bars for the same date.
    Sinks.upsertByKey(bars(("AAPL", "2024-01-15", 10.0), ("MSFT", "2024-01-15", 20.0)),
      dir, Seq("window_date"), Seq("symbol", "window_date"))
    // Batch 2: update-mode emits ONLY the changed bar.
    Sinks.upsertByKey(bars(("AAPL", "2024-01-15", 11.0)),
      dir, Seq("window_date"), Seq("symbol", "window_date"))
    val out = spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("symbol") -> r.getAs[Double]("close")).toMap
    // AAPL replaced, MSFT survived (a bare dynamic-overwrite would drop it).
    assert(out === Map("AAPL" -> 11.0, "MSFT" -> 20.0))
    // Replay of batch 2 converges (idempotent).
    Sinks.upsertByKey(bars(("AAPL", "2024-01-15", 11.0)),
      dir, Seq("window_date"), Seq("symbol", "window_date"))
    assert(spark.read.parquet(dir).count() === 2)
  }

  test("upsert rewrites only the buckets in the batch; untouched bucket files stay byte-identical") {
    val dir = Files.createTempDirectory("graft_upsert_bkt").toString
    def bars(rows: (String, String, Double)*) =
      rows.toSeq.toDF("symbol", "window_date", "close")
    def digests(): Map[String, String] = {
      val root = new java.io.File(dir)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(root).filter(f => f.getName.endsWith(".parquet")).map { f =>
        val md = java.security.MessageDigest.getInstance("MD5")
        f.getAbsolutePath.stripPrefix(dir) ->
          md.digest(java.nio.file.Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString
      }.toMap
    }
    val seed = (0 until 12).map(i => (s"SYM$i", "2024-01-15", i.toDouble))
    Sinks.upsertByKey(bars(seed: _*), dir, Seq("window_date"),
      Seq("symbol", "window_date"), nBuckets = 8)
    val before = digests()
    Sinks.upsertByKey(bars(("SYM0", "2024-01-15", 99.0)), dir, Seq("window_date"),
      Seq("symbol", "window_date"), nBuckets = 8)
    val after = digests()
    val touchedBucket = spark.range(1)
      .select(pmod(xxhash64(lit("SYM0"), lit("2024-01-15")), lit(8L)).cast("int"))
      .collect()(0).getInt(0)
    def untouched(m: Map[String, String]) =
      m.filter(!_._1.contains(s"upsert_bucket=$touchedBucket"))
    assert(untouched(before) === untouched(after)) // untouched buckets byte-identical
    assert(untouched(before).nonEmpty)             // the assertion actually covers files
    val out = spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("symbol") -> r.getAs[Double]("close")).toMap
    assert(out("SYM0") === 99.0)                   // upserted
    assert(out("SYM5") === 5.0)                    // sibling survived
    assert(out.size === 12)
  }

  test("upsert refuses a bucket-layout change that would strand stale rows") {
    val dir = Files.createTempDirectory("graft_upsert_spec").toString
    def bars(rows: (String, String, Double)*) =
      rows.toSeq.toDF("symbol", "window_date", "close")
    Sinks.upsertByKey(bars(("AAPL", "2024-01-15", 1.0)), dir, Seq("window_date"),
      Seq("symbol", "window_date"), nBuckets = 8)
    // Different nBuckets relocates keys between bucket dirs -> loud error.
    val e = intercept[IllegalArgumentException] {
      Sinks.upsertByKey(bars(("AAPL", "2024-01-15", 2.0)), dir, Seq("window_date"),
        Seq("symbol", "window_date"), nBuckets = 16)
    }
    assert(e.getMessage.contains("spec mismatch"))
    // Different key set likewise.
    intercept[IllegalArgumentException] {
      Sinks.upsertByKey(bars(("AAPL", "2024-01-15", 2.0)), dir, Seq("window_date"),
        Seq("symbol"), nBuckets = 8)
    }
    // A data directory without the marker (pre-bucket layout) is refused.
    val legacy = Files.createTempDirectory("graft_upsert_legacy").toString
    bars(("AAPL", "2024-01-15", 1.0)).write.mode("overwrite").parquet(legacy)
    val e2 = intercept[IllegalArgumentException] {
      Sinks.upsertByKey(bars(("AAPL", "2024-01-15", 2.0)), legacy, Seq("window_date"),
        Seq("symbol", "window_date"), nBuckets = 8)
    }
    assert(e2.getMessage.contains("marker"))
    // Matching spec still merges fine.
    Sinks.upsertByKey(bars(("AAPL", "2024-01-15", 3.0)), dir, Seq("window_date"),
      Seq("symbol", "window_date"), nBuckets = 8)
    assert(spark.read.parquet(dir).collect().head.getAs[Double]("close") === 3.0)
  }

  /** MD5 of every file under `dir` (data, marker, commit files),
    * keyed by relative path.
    */
  private def fileDigests(dir: String): Map[String, String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).map { f =>
      val md = java.security.MessageDigest.getInstance("MD5")
      f.getAbsolutePath.stripPrefix(dir) ->
        md.digest(Files.readAllBytes(f.toPath)).map("%02x".format(_)).mkString
    }.toMap
  }

  /** Replace a store's upsert marker through the Hadoop FS (which
    * keeps the local checksum file in step).
    */
  private def writeMarker(dir: String, text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, "_graft_upsert_spec")
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def upsertBars(rows: (String, String, Double)*) =
    rows.toSeq.toDF("symbol", "window_date", "close")

  test("upsert into an existing store runs two Spark jobs and evaluates its batch once") {
    val dir = Files.createTempDirectory("graft_upsert_jobs").toString
    val keys = Seq("symbol", "window_date")
    Sinks.upsertByKey(upsertBars((0 until 12).map(i => (s"SYM$i", "2024-01-15", i.toDouble)): _*),
      dir, Seq("window_date"), keys)
    // The batch frame carries a shuffle, like the stateful plan of a
    // gold micro-batch, and a UDF that counts every row it evaluates.
    val evals = spark.sparkContext.longAccumulator("upsert_batch_evals")
    val tick = udf { (c: Double) => evals.add(1); c }
    val batch = upsertBars(("SYM0", "2024-01-15", 99.0), ("NEW", "2024-01-16", 7.0))
      .repartition(2).withColumn("close", tick(col("close")))
    val group = s"upsert-jobs-${System.nanoTime()}"
    val barrier = s"$group-barrier"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val barrierSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => jobs.incrementAndGet()
          case `barrier` => barrierSeen.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    // Micro-batches run with adaptive execution off (the engine turns
    // it off for streaming), so the write's shuffle is a stage of the
    // write job, not a job of its own.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      sc.setJobGroup(group, "upsert into an existing store")
      try Sinks.upsertByKey(batch, dir, Seq("window_date"), keys)
      finally sc.clearJobGroup()
      // The listener bus delivers in order: once a later job's start
      // arrives, every job start of the upsert has been counted.
      sc.setJobGroup(barrier, "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(barrierSeen.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get() <= 2, s"upsert started ${jobs.get()} jobs")
    assert(evals.value === 2L) // each batch row evaluated exactly once
    val out = spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("symbol") -> r.getAs[Double]("close")).toMap
    assert(out.size === 13 && out("SYM0") === 99.0 && out("NEW") === 7.0 && out("SYM5") === 5.0)
  }

  test("an empty micro-batch leaves every store file byte-identical; the next batch still merges") {
    val dir = Files.createTempDirectory("graft_upsert_empty").toString
    val keys = Seq("symbol", "window_date")
    Sinks.upsertByKey(upsertBars(("AAPL", "2024-01-15", 1.0), ("MSFT", "2024-01-15", 2.0)),
      dir, Seq("window_date"), keys)
    val before = fileDigests(dir)
    Sinks.upsertByKey(upsertBars().filter(lit(false)), dir, Seq("window_date"), keys)
    assert(fileDigests(dir) === before)
    Sinks.upsertByKey(upsertBars(("AAPL", "2024-01-15", 3.0)), dir, Seq("window_date"), keys)
    val out = spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("symbol") -> r.getAs[Double]("close")).toMap
    assert(out === Map("AAPL" -> 3.0, "MSFT" -> 2.0))
  }

  test("upsert records the store schema in its marker; a v1 marker is upgraded once") {
    val dir = Files.createTempDirectory("graft_upsert_schema").toString
    val keys = Seq("symbol", "window_date")
    val marker = java.nio.file.Paths.get(dir, "_graft_upsert_spec")
    def markerText = new String(Files.readAllBytes(marker), "UTF-8")
    Sinks.upsertByKey(upsertBars(("AAPL", "2024-01-15", 1.0)), dir, Seq("window_date"),
      keys, nBuckets = 8)
    val v2 = markerText
    assert(v2.startsWith("v2|buckets=8|keys=symbol,window_date|partitionBy=window_date|schema="))
    assert(v2.contains("\"close\"") && v2.contains("\"upsert_bucket\""))
    // A store written before schemas were recorded carries a v1 marker.
    writeMarker(dir, "v1|buckets=8|keys=symbol,window_date|partitionBy=window_date")
    Sinks.upsertByKey(upsertBars(("AAPL", "2024-01-15", 2.0), ("MSFT", "2024-01-15", 5.0)),
      dir, Seq("window_date"), keys, nBuckets = 8)
    assert(markerText === v2) // inferred once, upgraded to the recorded form
    val out = spark.read.parquet(dir).collect()
      .map(r => r.getAs[String]("symbol") -> r.getAs[Double]("close")).toMap
    assert(out === Map("AAPL" -> 2.0, "MSFT" -> 5.0))
  }

  test("upsert refuses a batch whose schema differs from the store's (no NULL-filled merge)") {
    val keys = Seq("symbol", "window_date")
    val withTicks = upsertBars(("AAPL", "2024-01-15", 2.0)).withColumn("pv_ticks", lit(20L))
    // Recorded schema: a batch with an extra column is refused, and so
    // is one that retypes a column.
    val dir = Files.createTempDirectory("graft_upsert_drift").toString
    Sinks.upsertByKey(upsertBars(("AAPL", "2024-01-15", 1.0)), dir, Seq("window_date"), keys)
    val e = intercept[IllegalArgumentException] {
      Sinks.upsertByKey(withTicks, dir, Seq("window_date"), keys)
    }
    assert(e.getMessage.contains("spec mismatch") && e.getMessage.contains("pv_ticks"))
    intercept[IllegalArgumentException] {
      Sinks.upsertByKey(upsertBars(("AAPL", "2024-01-15", 2.0))
        .withColumn("close", col("close").cast("float")), dir, Seq("window_date"), keys)
    }
    // v1 marker over a store that predates a batch column: the inferred
    // footer schema lacks it, so the merge is refused and the marker
    // is not upgraded.
    val old = Files.createTempDirectory("graft_upsert_drift_v1").toString
    Sinks.upsertByKey(upsertBars(("AAPL", "2024-01-15", 1.0)), old, Seq("window_date"), keys)
    val marker = java.nio.file.Paths.get(old, "_graft_upsert_spec")
    val v1 = "v1|buckets=16|keys=symbol,window_date|partitionBy=window_date"
    writeMarker(old, v1)
    val e2 = intercept[IllegalArgumentException] {
      Sinks.upsertByKey(withTicks, old, Seq("window_date"), keys)
    }
    assert(e2.getMessage.contains("spec mismatch"))
    assert(new String(Files.readAllBytes(marker), "UTF-8") === v1)
    // Both stores still hold their one row, untouched.
    assert(spark.read.parquet(dir).collect().map(_.getAs[Double]("close")).toSeq === Seq(1.0))
    assert(spark.read.parquet(old).collect().map(_.getAs[Double]("close")).toSeq === Seq(1.0))
  }

  test("kafka sink projection re-keys by symbol with JSON payload (P6/K3)") {
    val df = Seq(("AAPL", 1.5)).toDF("symbol", "price")
    val out = Sinks.kafkaProjection(df).collect().head
    assert(out.getAs[String]("key") === "AAPL")
    assert(out.getAs[String]("value") === """{"symbol":"AAPL","price":1.5}""")
  }
}
