package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{LatestPrices, Ohlcv}
import graft.streaming.{IncrementalGoldStream, LatestPriceStream, ReplayStaging}

/** Exactly-once under FAILURE, not just clean drains (r11 verdict item
  * #1 — "the single strongest still-untested claim in the repo"), plus
  * bounded-state assertions from StreamingQueryProgress (item #4).
  *
  * Three failure modes against the two sink/state disciplines:
  *
  *  1. sr1's foreachBatch idempotent upsert, GRACEFUL STOP mid-drain:
  *     `StreamingQuery.stop()` after the first committed micro-batch,
  *     restart from the same checkpoint, finish — the merge-on-read
  *     store must equal the batch bars (the uninterrupted oracle
  *     row's invariant, sinks.py:117-124 / CASSANDRA_MODELING.md:69-75
  *     analog).
  *  2. sr1's upsert, CRASH AFTER SIDE EFFECT: the foreachBatch body
  *     completes its store write for batch 1 and then dies before the
  *     checkpoint commit. The restart REPLAYS batch 1 under the same
  *     batch_id; upsertByKey's key-replacement must converge instead
  *     of double-counting. This is the at-least-once corner the clean
  *     drains never reach.
  *  3. sr3's transformWithState RocksDB runtime, crash between output
  *     and checkpoint commit: the restart must RELOAD per-symbol
  *     ValueState from the checkpoint (the store version preceding the
  *     failed batch) so post-restart price_change/pct are computed
  *     against restored state, and the final snapshot must equal the
  *     batch window form (a6's oracle semantics).
  *
  * State bounds (item #4): `lastProgress.stateOperators.numRowsTotal`
  * must plateau at the KEY COUNT — |symbols| for the latest-price
  * state, ≤ |users| for the funnel — proving the SCALE.md §4 O(keys)
  * claims from the runtime's own metrics, so an unbounded-state
  * regression fails the suite.
  */
class RestartReplaySpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val silver = SparkEntry.silverDf(spark, Sf).localCheckpoint(true)

  private def barsOf(df: DataFrame): Set[Seq[Any]] =
    df.select(col("symbol"), col("window_start"), col("window_end"), col("open"),
        col("high"), col("low"), col("close"), col("volume"), col("trade_count"),
        col("vwap_e6"))
      .collect().map(_.toSeq).toSet

  private lazy val expectedBars = barsOf(Ohlcv.bars5m(silver))

  private def latestOf(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private lazy val expectedLatest = latestOf(LatestPrices.snapshot(silver))

  test("sr1 upsert drain: stop() mid-drain, restart from checkpoint, converge") {
    val root = Files.createTempDirectory("graft_restart_sr1").toString
    val staging = s"$root/staging"
    silver.repartition(8).write.parquet(staging)
    val store = s"$root/gold"
    val ckpt = s"$root/ckpt"
    def stream = spark.readStream.schema(silver.schema)
      .option("maxFilesPerTrigger", "1").parquet(staging)

    // Deterministic interruption (r12 advice: the previous 500 ms
    // trigger-spacing race let all eight batches commit on a slow
    // host): batch 0 merges and signals; batch 1 BLOCKS on a latch
    // that only opens after stop() is issued — stop()'s interrupt of
    // the stream thread lands in the await and Spark treats it as a
    // clean shutdown, so the drain is provably interrupted mid-way on
    // any host, however paused.
    val batch0Done = new java.util.concurrent.CountDownLatch(1)
    val stopIssued = new java.util.concurrent.CountDownLatch(1)
    val q1 = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (batchId > 0) stopIssued.await()
        IncrementalGoldStream.mergeBatch(batch, batchId, store, "5 minutes")
        if (batchId == 0) batch0Done.countDown()
      }
      .start()
    assert(batch0Done.await(120, java.util.concurrent.TimeUnit.SECONDS),
      "no micro-batch committed within 120s")
    q1.stop()
    // Belt-and-braces: if the interrupt were ever swallowed, releasing
    // the gate lets batch 1 finish and the query stop at the trigger
    // boundary — still interrupted well before all eight batches.
    stopIssued.countDown()
    q1.awaitTermination()
    val committed = q1.recentProgress.map(_.batchId).distinct.length
    assert(committed < 8,
      s"all $committed batches finished before stop() — drain was not interrupted")

    val q2 = IncrementalGoldStream.writer(stream, store, ckpt,
      trigger = Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(q2.recentProgress.map(_.numInputRows).sum > 0,
      "restart consumed nothing — resume path untested")
    assert(barsOf(IncrementalGoldStream.read(spark, store)) == expectedBars)
  }

  test("sr1 upsert drain: crash AFTER the store write, replay converges") {
    val root = Files.createTempDirectory("graft_crash_sr1").toString
    val staging = s"$root/staging"
    silver.repartition(3).write.parquet(staging)
    val store = s"$root/gold"
    val ckpt = s"$root/ckpt"
    def stream = spark.readStream.schema(silver.schema)
      .option("maxFilesPerTrigger", "1").parquet(staging)

    @volatile var crashed = false
    def writer(inject: Boolean) = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        IncrementalGoldStream.mergeBatch(batch, batchId, store, "5 minutes")
        if (inject && batchId == 1 && !crashed) {
          crashed = true
          throw new RuntimeException("injected crash after side effect")
        }
      }

    val q1 = writer(inject = true).start()
    val failed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination()
    }
    assert(failed.getMessage.contains("injected crash"), failed.getMessage)
    // The side effect happened: batch 1's partials are IN the store
    // even though the checkpoint never committed batch 1.
    assert(spark.read.parquet(store).filter(col("batch_id") === 1L).count() > 0,
      "crash was injected before the side effect — wrong corner under test")

    val q2 = writer(inject = false).start()
    q2.awaitTermination()
    // Batch 1 was replayed under the same batch_id; key-replacement
    // must converge to the uninterrupted result, not double-count.
    assert(barsOf(IncrementalGoldStream.read(spark, store)) == expectedBars)
    assert(crashed)
  }

  test("sr3 transformWithState: crash mid-drain, RocksDB state restores, converge; state is O(symbols)") {
    withRocksDbState {
      val staging = ReplayStaging.chronoSlices(s"silver|$Sf", silver)
      val root = Files.createTempDirectory("graft_crash_sr3").toString
      val outDir = s"$root/out"
      val ckpt = s"$root/ckpt"
      def trades = spark.readStream.schema(silver.schema)
        .option("maxFilesPerTrigger", "1").parquet(staging)
        .select(col("symbol"), col("price"), col("volume"), col("event_time"))
        .as[LatestPriceStream.TradeEvent]

      @volatile var crashed = false
      def writer(inject: Boolean) =
        LatestPriceStream.snapshots(spark, trades)
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.model.LatestPrice], batchId: Long) =>
            batch.write.mode("append").parquet(outDir)
            if (inject && batchId == 1 && !crashed) {
              crashed = true
              throw new RuntimeException("injected crash after side effect")
            }
          }

      val q1 = writer(inject = true).start()
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.awaitTermination()
      }
      assert(crashed, "batch 1 never ran — staging produced too few slices")

      val q2 = writer(inject = false).start()
      q2.awaitTermination()

      // Item #4 — bounded state, from the runtime's own metrics: the
      // state row count must plateau at |symbols| (one ValueState per
      // key), never above.
      val nSymbols = silver.select(col("symbol")).distinct().count()
      val stateRows = q2.recentProgress.toSeq
        .flatMap(p => p.stateOperators.toSeq.map(_.numRowsTotal))
        .filter(_ > 0)
      assert(stateRows.nonEmpty, "no state metrics reported")
      assert(stateRows.max == nSymbols,
        s"state rows ${stateRows.max} != symbol count $nSymbols — latest-price state is not O(keys)")

      // Batch 2 ran against state RESTORED from the checkpoint (its
      // change/pct need batch 0/1's last trade); the final snapshot
      // must equal the batch window form. The crash replayed batch 1's
      // appends — exact duplicate rows — which the newest-per-symbol
      // reduction absorbs, same as the production sr3 reduce.
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("symbol"))
        .orderBy(col("last_trade_time").desc)
      val got = spark.read.parquet(outDir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("symbol"), col("last_price"), col("last_volume"),
          unix_millis(col("last_trade_time")).as("last_trade_time_ms"),
          round(col("price_change"), 6).as("price_change"),
          round(col("price_change_pct"), 6).as("price_change_pct"))
      assert(latestOf(got) == expectedLatest)
    }
  }

  test("session-window state: stop() mid-drain, restart restores merge state, converge") {
    // The fourth state discipline (after upsert, transformWithState,
    // and dedup): session MERGE state. The chrono cuts split sessions
    // across micro-batches, so a restart must reload partial sessions
    // from the checkpoint before their continuations arrive.
    val ev = StreamReplayQueries.eventsFeed(spark, Sf).localCheckpoint(true)
    val staging = ReplayStaging.chronoSlices(s"events|$Sf", ev)
    val root = Files.createTempDirectory("graft_restart_sess").toString
    def writer(trigger: org.apache.spark.sql.streaming.Trigger) = {
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(staging)
        .select(col("user_id"), col("value"), col("event_time"))
        .withWatermark("event_time", "3 days")
      graft.operators.Sessions.sessionStats(stream,
          keyCol = "user_id", timeCol = "event_time", valueCol = "value",
          gap = "30 minutes")
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(trigger)
        .format("parquet").option("path", s"$root/out")
    }
    val q1 = writer(Trigger.ProcessingTime("500 milliseconds")).start()
    val deadline = System.currentTimeMillis() + 120000
    while (q1.recentProgress.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    assert(q1.recentProgress.nonEmpty)
    q1.stop(); q1.awaitTermination()
    val q2 = writer(Trigger.AvailableNow()).start()
    q2.awaitTermination()

    val wfUs = ev.agg(max(unix_millis(col("event_time")))).head().getLong(0) * 1000L -
      259200000000L
    val expected = ev
      .groupBy(col("user_id"), session_window(col("event_time"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .filter(unix_micros(col("w.end")) <= wfUs)
      .select(col("user_id"), unix_millis(col("w.start")).as("session_start_ms"),
        unix_millis(col("w.end")).as("session_end_ms"),
        col("n_events"), col("sum_value"))
      .collect().map(_.toSeq).toSet
    val got = spark.read.parquet(s"$root/out").collect().map(_.toSeq).toSet
    assert(got == expected)
  }

  test("stream-stream join state: stop() mid-drain, restart restores both buffers, converge") {
    // Fifth discipline: symmetric join buffers. A trade arriving after
    // the restart must still match a quote buffered BEFORE the stop.
    val day = silver.filter(col("trade_date") === lit("2024-01-15").cast("date"))
      .localCheckpoint(true)
    val staging = ReplayStaging.customSlices(s"silver_day15_div7mod3|$Sf", day,
      Seq(0, 1, 2).map(r => expr("(event_id div 7) % 3") === r))
    val root = Files.createTempDirectory("graft_restart_join").toString
    val px = graft.operators.Indicators.ticksE4(col("price"))
    def writer(trigger: org.apache.spark.sql.streaming.Trigger) = {
      def src = spark.readStream.schema(day.schema)
        .option("maxFilesPerTrigger", "1").parquet(staging)
      val trades = src.select(col("symbol"), col("trade_date"),
          col("event_time").as("trade_time"), px.as("px_e4"))
        .withWatermark("trade_time", "3 days")
      val quotes = src.filter(col("event_id") % 3 === 0)
        .select(col("symbol").as("q_symbol"),
          (col("event_time") - expr("INTERVAL 500 MILLISECONDS")).as("quote_time"),
          px.as("qpx_e4"))
        .withColumn("bid_e4", col("qpx_e4") - greatest(lit(1L), expr("qpx_e4 div 2000")))
        .withColumn("ask_e4", col("qpx_e4") + greatest(lit(1L), expr("qpx_e4 div 1000")))
        .withWatermark("quote_time", "3 days")
      trades.join(quotes,
          col("symbol") === col("q_symbol") &&
            col("quote_time") >= col("trade_time") - expr("INTERVAL 60 SECONDS") &&
            col("quote_time") <= col("trade_time"))
        .select(col("symbol"), unix_micros(col("trade_time")).as("t_us"),
          unix_micros(col("quote_time")).as("q_us"), col("px_e4"),
          col("bid_e4"), col("ask_e4"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(trigger)
        .format("parquet").option("path", s"$root/out")
    }
    val q1 = writer(Trigger.ProcessingTime("500 milliseconds")).start()
    val deadline = System.currentTimeMillis() + 120000
    while (q1.recentProgress.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    assert(q1.recentProgress.nonEmpty)
    q1.stop(); q1.awaitTermination()
    val q2 = writer(Trigger.AvailableNow()).start()
    q2.awaitTermination()

    // Batch twin: the full interval join, row-level (exactly-once via
    // the file sink commit log — no dedup in this compare).
    val t = day.select(col("symbol"), unix_micros(col("event_time")).as("t_us"),
      px.as("px_e4"))
    val q = day.filter(col("event_id") % 3 === 0)
      .select(col("symbol").as("q_symbol"),
        (unix_micros(col("event_time")) - 500000L).as("q_us"), px.as("qpx_e4"))
      .withColumn("bid_e4", col("qpx_e4") - greatest(lit(1L), expr("qpx_e4 div 2000")))
      .withColumn("ask_e4", col("qpx_e4") + greatest(lit(1L), expr("qpx_e4 div 1000")))
    val expected = t.join(q,
        col("symbol") === col("q_symbol") &&
          col("q_us") >= col("t_us") - 60000000L && col("q_us") <= col("t_us"))
      .select(col("symbol"), col("t_us"), col("q_us"), col("px_e4"),
        col("bid_e4"), col("ask_e4"))
      .collect().map(_.toSeq).toSet
    val gotRows = spark.read.parquet(s"$root/out").collect().map(_.toSeq)
    assert(gotRows.length == gotRows.toSet.size, "a match was emitted twice across the restart")
    assert(gotRows.toSet == expected)
  }

  test("backfill-then-incremental: files landing AFTER a finished drain integrate on restart") {
    // The production adoption path: an AvailableNow backfill over the
    // historical lake, then periodic restarts as new data lands — the
    // file source's checkpoint must treat post-drain files as the next
    // increment, and the upsert store must extend, not rebuild.
    val root = Files.createTempDirectory("graft_backfill").toString
    val staging = s"$root/staging"
    val store = s"$root/gold"
    val ckpt = s"$root/ckpt"
    val first = silver.filter(col("trade_date") <= lit("2024-01-15").cast("date"))
    val rest = silver.filter(col("trade_date") > lit("2024-01-15").cast("date"))
    first.repartition(2).write.parquet(staging)
    def drain(): Unit = {
      val stream = spark.readStream.schema(silver.schema)
        .option("maxFilesPerTrigger", "1").parquet(staging)
      val q = IncrementalGoldStream.writer(stream, store, ckpt,
        trigger = Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    assert(barsOf(IncrementalGoldStream.read(spark, store)) ==
      barsOf(Ohlcv.bars5m(first)), "backfill drain incomplete")
    // New data lands after the drain finished.
    rest.repartition(2).write.mode("append").parquet(staging)
    drain()
    assert(barsOf(IncrementalGoldStream.read(spark, store)) == expectedBars,
      "post-backfill increment did not integrate")
  }

  test("checkpoint pins stateful shuffle partitions: resume under a different session setting keeps state intact") {
    // Production semantic (r13): the state-partition count is fixed
    // FOREVER at the checkpoint's first batch — Spark records
    // spark.sql.shuffle.partitions in the offset log and every resume
    // uses the recorded value, whatever the session says. If it did
    // not, a resumed dedup would hash keys to DIFFERENT state
    // partitions and silently stop seeing earlier arrivals. Executed:
    // drain batch 0 (originals) at 8 partitions, stop, resume the
    // planted-duplicates batch with the session set to 3 — the dups
    // must still be dropped (state found), and the runtime's own
    // metrics must report 8 state partitions while the session says 3.
    val shufKey = "spark.sql.shuffle.partitions"
    val prevShuf = spark.conf.get(shufKey)
    try {
      // Same key ⇒ same frame as MutationSpec's sr14 mutation (the
      // staging-cache contract): cleaned feed, every 5th row re-planted
      // one slice later under a shifted event_id.
      val cleaned = graft.operators.Medallion
        .toSilver(graft.sources.Tables.trades(spark, Sf),
          lit(SparkEntry.CutoffTs).cast("timestamp"))
        .withColumn("timestamp", unix_millis(col("event_time")))
      val feed = cleaned.unionByName(
        cleaned.filter(col("event_id") % 5 === 0)
          .withColumn("event_id", col("event_id") + 10000000L))
      val staging = ReplayStaging.customSlices(s"dedup_feed|$Sf", feed,
        Seq(col("event_id") < 10000000L, col("event_id") >= 10000000L))
      val root = Files.createTempDirectory("graft_pinned_shuffle").toString
      def stream = spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", "1").parquet(staging)
        .withWatermark("event_time", "3 days")
        .dropDuplicatesWithinWatermark(Seq("symbol", "timestamp"))
        .select(col("symbol"), col("timestamp").as("ts_ms"),
          col("price"), col("volume"))
      // Phase 1 at 8 partitions: exactly batch 0 (the originals)
      // commits — the latch blocks batch 1 until stop() interrupts it.
      spark.conf.set(shufKey, "8")
      val batch0Done = new java.util.concurrent.CountDownLatch(1)
      val stopIssued = new java.util.concurrent.CountDownLatch(1)
      val q1 = stream.writeStream.outputMode("append")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.ProcessingTime("0 seconds"))
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (batchId > 0) stopIssued.await()
          // Idempotent per-batch sink: stop() races the offset commit,
          // so a replayed batch must OVERWRITE its own earlier output —
          // a blind append double-counts exactly when the race fires
          // (observed on this test's first run).
          batch.write.mode("overwrite").parquet(s"$root/out/batch=$batchId")
          if (batchId == 0) batch0Done.countDown()
        }
        .start()
      assert(batch0Done.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "no micro-batch committed within 120s")
      q1.stop(); stopIssued.countDown(); q1.awaitTermination()

      // Phase 2: the session now says 3 — the checkpoint must win.
      // Same foreachBatch parquet-append sink as phase 1 (a streaming
      // parquet sink would start a _spark_metadata log that hides the
      // phase-1 files from the read-back).
      spark.conf.set(shufKey, "3")
      val q2 = stream.writeStream.outputMode("append")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$root/out/batch=$batchId")
        }
        .start()
      q2.awaitTermination()
      val stateParts = q2.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq.map(_.numShufflePartitions))
        .filter(_ > 0)
      assert(stateParts.nonEmpty, "no state metrics reported on resume")
      assert(stateParts.forall(_ == 8L),
        s"state partitions $stateParts — the checkpointed 8 did not pin over the session's 3")

      // And the state actually WORKED across the restart: every
      // planted duplicate (arriving one batch after its original) was
      // dropped, so the drained rows equal the cleaned feed exactly.
      // MULTISET compare — a surviving duplicate is row-identical to
      // its original (event_id is not emitted), so a set compare
      // could not see it.
      val out = spark.read.parquet(s"$root/out")
        .select(col("symbol"), col("ts_ms"), col("price"), col("volume"))
        .collect().map(_.toSeq.map(String.valueOf).mkString("")).sorted.toSeq
      val expected = cleaned.select(col("symbol"),
          col("timestamp").as("ts_ms"), col("price"), col("volume"))
        .collect().map(_.toSeq.map(String.valueOf).mkString("")).sorted.toSeq
      assert(out == expected,
        "resumed dedup diverged from the cleaned feed — cross-restart state not intact")
    } finally spark.conf.set(shufKey, prevShuf)
  }

  test("funnel state plateaus at the user count (item #4, sr5 shape)") {
    withRocksDbState {
      // The production feed projection — MUST match StreamReplayQueries'
      // eventsFeed because the staging cache key is shared.
      val ev = StreamReplayQueries.eventsFeed(spark, Sf)
      val staging = ReplayStaging.chronoSlices(s"events|$Sf", ev)
      val root = Files.createTempDirectory("graft_bounds_sr5").toString
      val stream = spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(staging)
        .select(col("user_id"), col("event_type"), col("ts_us").as("ts"),
          col("event_id"))
        .as[graft.streaming.FunnelStream.UserEvent]
      val q = graft.streaming.FunnelStream.transitions(spark, stream).toDF()
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$root/out")
        .start()
      q.awaitTermination()
      val nUsers = ev.select(col("user_id")).distinct().count()
      val stateRows = q.recentProgress.toSeq
        .flatMap(p => p.stateOperators.toSeq.map(_.numRowsTotal))
        .filter(_ > 0)
      assert(stateRows.nonEmpty, "no state metrics reported")
      assert(stateRows.max <= nUsers,
        s"funnel state ${stateRows.max} exceeds user count $nUsers — state is not O(users)")
      // And it genuinely accumulates to the full key set: every user
      // has at least one event, so the plateau IS the user count.
      assert(stateRows.max == nUsers)
    }
  }
}
