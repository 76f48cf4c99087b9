package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Multi-source watermark semantics (r13 verdict item #5), pinned
  * per-batch from StreamingQueryProgress: with two watermarked sources
  * feeding one stateful operator, the GLOBAL watermark advances as the
  * MIN across sources under the default `multipleWatermarkPolicy` — a
  * lagging source stalls the fast source's windows — and as the MAX
  * under the `max` policy. sr20 proves the min rule end-to-end under
  * the DuckDB oracle; this spec pins the batch-by-batch mechanics the
  * oracle cannot see (the stuck watermark itself, and the policy
  * flip).
  */
class MultiWatermarkSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-01-15 $hhmm:00")

  /** Drive a union-of-two-MemoryStreams windowed count; returns
    * (watermark after each processAllAvailable, emitted window starts)
    * for the given scripted feed.
    */
  private def run(policy: Option[String]): (Seq[String], Seq[Timestamp]) = {
    val key = "spark.sql.streaming.multipleWatermarkPolicy"
    val prev = spark.conf.getOption(key)
    try {
      policy.foreach(spark.conf.set(key, _))
      if (policy.isEmpty) spark.conf.unset(key)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val a = MemoryStream[Timestamp]
      val b = MemoryStream[Timestamp]
      def side(m: MemoryStream[Timestamp]) =
        m.toDF().withColumnRenamed("value", "event_time")
          .withWatermark("event_time", "10 minutes")
      val agg = side(a).unionByName(side(b))
        .groupBy(window(col("event_time"), "5 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("n"))
      val out = Files.createTempDirectory("graft_mwm_").toString
      val q = agg.writeStream.outputMode("append")
        .option("checkpointLocation", s"$out/ckpt")
        .format("memory").queryName(s"mwm_${policy.getOrElse("min")}")
        .trigger(Trigger.ProcessingTime(0))
        .start()
      val wms = Seq.newBuilder[String]
      def step(body: => Unit): Unit = {
        body
        q.processAllAvailable()
        wms += Option(q.lastProgress).map(_.eventTime.get("watermark")).orNull
      }
      try {
        // Batch 1: A at 10:00, B at 09:00 → wm = min(09:50, 08:50).
        step { a.addData(ts("10:00")); b.addData(ts("09:00")); () }
        // A races ahead to 12:00; B silent → wm STUCK at B's horizon.
        step { a.addData(ts("12:00")); () }
        // B catches up to 11:00 → wm = min(11:50, 10:50) = 10:50 and
        // the stalled A windows through 10:50 flush.
        step { b.addData(ts("11:00")); () }
        val emitted = spark.table(s"mwm_${policy.getOrElse("min")}")
          .select("ws").as[Timestamp].collect().toSeq.sortBy(_.getTime)
        (wms.result(), emitted)
      } finally {
        q.stop()
        graft.streaming.ReplayStaging.deleteRecursively(java.nio.file.Paths.get(out))
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("default (min) policy: the lagging source stalls the global watermark and the fast source's windows") {
    val (wms, emitted) = run(None)
    // After batch 2 the fast source sits at 12:00 but the watermark is
    // still 08:50 — B's last event (09:00) minus the 10-minute delay.
    assert(wms(1) === "2024-01-15T08:50:00.000Z", s"watermarks: $wms")
    // Only once B reaches 11:00 does the min advance to 10:50...
    assert(wms(2) === "2024-01-15T10:50:00.000Z", s"watermarks: $wms")
    // ...which flushes the 09:00 and 10:00 windows; A's 12:00 window
    // is still open (and B's 11:00 one too).
    assert(emitted === Seq(ts("09:00"), ts("10:00")), s"emitted: $emitted")
  }

  test("an IDLE source pins the min watermark; downstream state grows unboundedly") {
    // sr20 pins the min-rule with a SLOW feed; the harder production
    // case is an IDLE one — no new data AT ALL, so the global
    // watermark never advances and every window downstream of the
    // union stays open forever (r14 verdict item #7). Pin the stall
    // AND the growth curve batch-by-batch.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val a = MemoryStream[Timestamp]
    val b = MemoryStream[Timestamp]
    def side(m: MemoryStream[Timestamp]) =
      m.toDF().withColumnRenamed("value", "event_time")
        .withWatermark("event_time", "10 minutes")
    val agg = side(a).unionByName(side(b))
      .groupBy(window(col("event_time"), "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    val out = Files.createTempDirectory("graft_mwm_idle_").toString
    val q = agg.writeStream.outputMode("append")
      .option("checkpointLocation", s"$out/ckpt")
      .format("memory").queryName("mwm_idle")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    val wms = Seq.newBuilder[String]
    val stateRows = Seq.newBuilder[Long]
    def step(body: => Unit): Unit = {
      body
      q.processAllAvailable()
      wms += Option(q.lastProgress).map(_.eventTime.get("watermark")).orNull
      stateRows += Option(q.lastProgress).toSeq
        .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal).sum
    }
    try {
      step { a.addData(ts("10:00")); b.addData(ts("09:00")); () }
      // B goes idle; A keeps producing for four more hours.
      Seq("11:00", "12:00", "13:00", "14:00").foreach { h =>
        step { a.addData(ts(h)); () }
      }
      val (w, s) = (wms.result(), stateRows.result())
      // The watermark is FROZEN at B's horizon (09:00 − 10 min) for
      // every batch after the first — A's progress is irrelevant.
      assert(w.tail.forall(_ == "2024-01-15T08:50:00.000Z"), s"watermarks: $w")
      // State grows strictly with each A batch: nothing ever evicts.
      assert(s.zip(s.tail).forall { case (x, y) => y > x }, s"state rows: $s")
      // And nothing is ever emitted — the pipeline is silently stuck.
      assert(spark.table("mwm_idle").isEmpty)
    } finally {
      q.stop()
      graft.streaming.ReplayStaging.deleteRecursively(java.nio.file.Paths.get(out))
    }
  }

  test("heartbeat rows un-stick an idle source: watermark advances, results stay clean") {
    // The operational lever for the idle-source stall (SCALE.md §4):
    // the idle feed emits HEARTBEAT rows that are filtered out AFTER
    // watermark assignment — EventTimeWatermarkExec collects its max
    // event time as rows flow THROUGH it, so a later filter removes
    // the row from every aggregate while its timestamp still advances
    // that source's watermark. THE TRAP (found writing this test):
    // the filter predicate must REFERENCE the event-time column —
    // PushPredicateThroughNonJoin pushes any watermark-column-free
    // predicate BELOW the EventTimeWatermark node, and the heartbeat
    // then never reaches the collector (watermark stays stuck,
    // silently). `!hb OR event_time IS NULL` is semantically `!hb`
    // but un-pushable. (The alternatives — policy=max with its
    // late-drop cost, or splitting the union into independent
    // queries — are pinned above and in SCALE.md.)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val a = MemoryStream[(Timestamp, Boolean)]
    val b = MemoryStream[(Timestamp, Boolean)]
    def side(m: MemoryStream[(Timestamp, Boolean)]) =
      m.toDF().toDF("event_time", "hb")
        .withWatermark("event_time", "10 minutes")
        .filter(!col("hb") || col("event_time").isNull).drop("hb")
    val agg = side(a).unionByName(side(b))
      .groupBy(window(col("event_time"), "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    val out = Files.createTempDirectory("graft_mwm_hb_").toString
    val q = agg.writeStream.outputMode("append")
      .option("checkpointLocation", s"$out/ckpt")
      .format("memory").queryName("mwm_hb")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    def step(body: => Unit): String = {
      body
      q.processAllAvailable()
      Option(q.lastProgress).map(_.eventTime.get("watermark")).orNull
    }
    try {
      step { a.addData((ts("10:00"), false)); b.addData((ts("09:00"), false)); () }
      val stuck = step { a.addData((ts("12:00"), false)); () }
      assert(stuck === "2024-01-15T08:50:00.000Z", s"watermark: $stuck")
      // B's HEARTBEAT at 12:00 (no real data) lifts the min watermark
      // to 11:50...
      val lifted = step { b.addData((ts("12:00"), true)); () }
      assert(lifted === "2024-01-15T11:50:00.000Z", s"watermark: $lifted")
      // ...flushing A's stalled 10:00 window, and the heartbeat row
      // itself appears in NO window (each emitted window counts
      // exactly one real event).
      val emitted = spark.table("mwm_hb")
        .select(col("ws"), col("n")).collect()
        .map(r => (r.getTimestamp(0), r.getLong(1))).sortBy(_._1.getTime)
      assert(emitted.map(_._1).contains(ts("10:00")), s"emitted: ${emitted.toSeq}")
      assert(emitted.forall(_._2 == 1L), s"heartbeat polluted a window: ${emitted.toSeq}")
    } finally {
      q.stop()
      graft.streaming.ReplayStaging.deleteRecursively(java.nio.file.Paths.get(out))
    }
  }

  test("the SECOND pushdown trap: a null-hostile filter above the decoration re-freezes the watermark") {
    // Found live wiring App (r16): Heartbeats.decorate protects its
    // own strip predicate, but CombineFilters merges any LATER filter
    // into it and PushPredicateThroughNonJoin pushes the merged
    // watermark-column-free conjuncts (here `volume > 0`) below the
    // EventTimeWatermark node — the heartbeats' null business columns
    // fail them UNDER the collector and the stall silently returns.
    // Drive the same feed twice: filter above the decoration freezes;
    // the identical filter applied BEFORE decorate (the documented
    // "decorate LAST" rule, what App.cleanFeed does) advances.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def run(filterAbove: Boolean): String = {
      val m = MemoryStream[(Timestamp, Long, Boolean)]
      val base = m.toDF().toDF("event_time", "volume", "hb")
      val feed =
        if (filterAbove)
          graft.streaming.Heartbeats.watermarkAndStrip(
            base, "event_time", "10 minutes", hbCol = "hb")
            .filter(col("volume") > 0)
        else
          graft.streaming.Heartbeats.watermarkAndStrip(
            base.filter(col("hb") || col("volume") > 0),
            "event_time", "10 minutes", hbCol = "hb")
      val agg = feed.groupBy(window(col("event_time"), "5 minutes"))
        .agg(count(lit(1)).as("n"))
      val out = Files.createTempDirectory("graft_mwm_trap_").toString
      val name = s"mwm_trap_$filterAbove"
      val q = agg.writeStream.outputMode("append")
        .option("checkpointLocation", s"$out/ckpt")
        .format("memory").queryName(name)
        .trigger(Trigger.ProcessingTime(0))
        .start()
      try {
        m.addData((ts("10:00"), 5L, false))
        q.processAllAvailable()
        // Heartbeat only (sentinel volume, the null-hostile case):
        // does it reach the collector? A wm change triggers a no-data
        // batch, so lastProgress surfaces the answer immediately.
        m.addData((ts("13:00"), -1L, true))
        q.processAllAvailable()
        Option(q.lastProgress).map(_.eventTime.get("watermark")).orNull
      } finally {
        q.stop()
        graft.streaming.ReplayStaging.deleteRecursively(java.nio.file.Paths.get(out))
      }
    }
    // Filter above the decoration: the 13:00 heartbeat was pushed
    // below the collector (volume > 0 fails on its null/sentinel) —
    // after batch 2 the watermark still reflects only 10:00.
    assert(run(filterAbove = true) === "2024-01-15T09:50:00.000Z")
    // Same filter below the decoration (heartbeats exempted before the
    // watermark node): the 13:00 heartbeat advances it.
    assert(run(filterAbove = false) === "2024-01-15T12:50:00.000Z")
  }

  test("decorate composes with a per-row shape assert above it (the rollup cascade)") {
    // Ohlcv.rollup filters on assert_true(shape) — a predicate that
    // THROWS on malformed rows but deliberately PASSES null-bounded
    // ones (r16 ADVICE fix): a heartbeat row (everything null but the
    // event-time stamp) must survive the assert no matter which
    // conjunct order CombineFilters picks when it merges the strip
    // filter with the assert filter — before the fix, safety hinged on
    // the strip landing on the merged And's short-circuiting left, a
    // Catalyst implementation detail. Pin the composition end-to-end:
    // heartbeats advance the watermark, close the 1h window, crash no
    // assert, pollute no bar — a pushdown change in a Spark upgrade
    // fails HERE, loudly, instead of stalling App's cascade topology.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val m = MemoryStream[(String, Timestamp, Timestamp, Double, Double, Double,
      Double, Long, Long, Long)]
    val bars0 = m.toDF().toDF("symbol", "window_start", "window_end", "open",
      "high", "low", "close", "volume", "trade_count", "pv_ticks")
      .withColumn("vwap_e6", lit(0L)).withColumn("vwap", lit(0.0))
      .withColumn("window_date", to_date(col("window_start")))
    // A plain LITERAL stamp — the hardest case for the third trap:
    // without the StageBarrier, heartbeat-only batches pruned
    // the union, folded the strip predicate to a reference-free
    // `false`, and pushed it below the collector (`Filter false` over
    // the rate scan, captured live developing this test). This test
    // passing IS the barrier's proof.
    val decorated = graft.streaming.Heartbeats.decorate(
      bars0, "window_start", "5 minutes", intervalSecs = 1,
      stamp = lit(ts("13:00")))
    val grain = graft.operators.Ohlcv.rollup(decorated, "1 hour")
      .select(col("symbol"), col("window_start"), col("open"), col("close"),
        col("volume"))
    val out = Files.createTempDirectory("graft_mwm_rollup_").toString
    val q = grain.writeStream.outputMode("append")
      .option("checkpointLocation", s"$out/ckpt")
      .format("memory").queryName("mwm_rollup")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      def bar(hhmm: String, endHhmm: String, px: Double) =
        ("AAPL", ts(hhmm), ts(endHhmm), px, px, px, px, 10L, 1L, 0L)
      m.addData(bar("10:00", "10:05", 1.0), bar("10:55", "11:00", 2.0))
      q.processAllAvailable()
      // Only the 13:00-stamped HEARTBEATS (rate-driven) advance the
      // watermark past 11:00 + 5m — no real bar after 10:55 exists.
      // Wait until the 10:00 hour's rollup flushes (or time out; the
      // deadline is generous because a degraded-scheduler host — the
      // r16 regime BENCHNOTES documents — stretches each micro-batch
      // to seconds and the flush needs a few of them).
      val deadline = System.currentTimeMillis() + 120000
      def rows() = spark.table("mwm_rollup").collect()
      while (rows().isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(1000)
        q.processAllAvailable()
      }
      val emitted = rows()
      assert(emitted.length === 1,
        s"1h bar never flushed on heartbeats alone: ${emitted.toSeq}; " +
          s"lastProgress eventTime=${Option(q.lastProgress).map(_.eventTime).orNull} " +
          s"exception=${q.exception}")
      val r = emitted.head
      assert(r.getAs[String]("symbol") === "AAPL")
      assert(r.getAs[Timestamp]("window_start") === ts("10:00"))
      assert(r.getAs[Double]("open") === 1.0 && r.getAs[Double]("close") === 2.0)
      assert(r.getAs[Long]("volume") === 20L) // heartbeats added nothing
    } finally {
      q.stop()
      graft.streaming.ReplayStaging.deleteRecursively(java.nio.file.Paths.get(out))
    }
    // And the barrier's declarations, pinned directly — both halves
    // the third trap needs defeated: non-foldable (FoldablePropagation
    // cannot substitute the alias) and nullable (NullPropagation
    // cannot rewrite isnull(event_time) to false) — plus the
    // non-determinism that stops alias re-inlining at the staged sites.
    val barrier = graft.functions.StageBarrier(
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(lit(ts("13:00"))))
    assert(!barrier.foldable && barrier.nullable && !barrier.deterministic)
  }

  test("cascade delay sizing: wall-clock heartbeats late-drop steady-state bars unless the delay covers the upstream emission lag (r17)") {
    // The fourth trap (Heartbeats scaladoc): a bar for window
    // [12:55, 13:00) is only EMITTED upstream once the upstream
    // heartbeat watermark (wallclock − 10 min) passes 13:00 — i.e. at
    // wallclock 13:10. At THAT instant a wall-clock-stamped heartbeat
    // here puts this level's watermark at 13:10 − d. With the r16
    // cascade delay (d = 5 min → watermark 13:05) the bar's hour
    // window [12:00, 13:00) has already closed: the bar is silently
    // dropped and the hourly rollup loses the hour's tail — every
    // hour, in steady state. With the sized delay
    // (App.cascadeHeartbeatDelay = D_up + 10 min → watermark 12:50)
    // it lands in state. Deterministic via a literal 13:10 stamp.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def droppedAndTotal(delay: String, tag: String): (Long, Long) = {
      val m = MemoryStream[(String, Timestamp, Timestamp, Double, Double,
        Double, Double, Long, Long, Long)]
      val bars0 = m.toDF().toDF("symbol", "window_start", "window_end", "open",
        "high", "low", "close", "volume", "trade_count", "pv_ticks")
        .withColumn("vwap_e6", lit(0L)).withColumn("vwap", lit(0.0))
        .withColumn("window_date", to_date(col("window_start")))
      val decorated = graft.streaming.Heartbeats.decorate(
        bars0, "window_start", delay, intervalSecs = 1,
        stamp = lit(ts("13:10")))
      val grain = graft.operators.Ohlcv.rollup(decorated, "1 hour")
      val out = Files.createTempDirectory(s"graft_mwm_lag_$tag").toString
      val q = grain.writeStream.outputMode("append")
        .option("checkpointLocation", s"$out/ckpt")
        .format("memory").queryName(s"mwm_lag_$tag")
        .trigger(Trigger.ProcessingTime(0))
        .start()
      try {
        // Let the heartbeat establish the steady-state watermark
        // (13:10 − delay) BEFORE the bar arrives.
        val deadline = System.currentTimeMillis() + 90000
        def wm(): String = Option(q.lastProgress)
          .flatMap(p => Option(p.eventTime.get("watermark"))).getOrElse("")
        while (!wm().startsWith("2024-01-15T") &&
               System.currentTimeMillis() < deadline) {
          Thread.sleep(500); q.processAllAvailable()
        }
        assert(wm().startsWith("2024-01-15T"),
          s"heartbeat never advanced the watermark: '${wm()}'")
        // The freshly-emitted upstream bar arrives.
        m.addData(("AAPL", ts("12:55"), ts("13:00"),
          1.0, 1.0, 1.0, 1.0, 10L, 1L, 0L))
        q.processAllAvailable()
        val ps = q.recentProgress.toSeq
        val dropped = ps.flatMap(_.stateOperators.toSeq
          .map(_.numRowsDroppedByWatermark)).sum
        val total = Option(q.lastProgress).toSeq
          .flatMap(_.stateOperators.toSeq.map(_.numRowsTotal)).sum
        (dropped, total)
      } finally {
        q.stop()
        graft.streaming.ReplayStaging.deleteRecursively(java.nio.file.Paths.get(out))
      }
    }
    // The r16 wiring's delay: the steady-state bar is silently lost.
    val (dropNarrow, totalNarrow) = droppedAndTotal("5 minutes", "narrow")
    assert(dropNarrow >= 1, "the narrow delay did not drop the late bar — " +
      "either the emission-lag analysis or the drop accounting changed")
    assert(totalNarrow === 0L)
    // The sized delay: upstream delay + bar span + chain margin.
    assert(App.cascadeHeartbeatDelay("10 minutes") === "1200000 milliseconds")
    val (dropSized, totalSized) =
      droppedAndTotal(App.cascadeHeartbeatDelay("10 minutes"), "sized")
    assert(dropSized === 0L, s"the sized delay still dropped $dropSized rows")
    assert(totalSized >= 1L, "the bar never landed in the rollup's state")
  }

  test("multipleWatermarkPolicy=max: the FAST source drives the watermark") {
    val (wms, emitted) = run(Some("max"))
    // After batch 2 the max policy tracks A: 12:00 − 10 min = 11:50 —
    // B's lag no longer stalls anything (at the price of dropping
    // B-side late data, which is the documented trade-off).
    assert(wms(1) === "2024-01-15T11:50:00.000Z", s"watermarks: $wms")
    // 09:00 and 10:00 flush a batch earlier, and B's late-arriving
    // 11:00 event lands in a window that is still open (11:00 < 11:50
    // start is closed? 11:00+5m=11:05 ≤ 11:50 → it would be DROPPED as
    // late by the filter, not aggregated).
    assert(emitted.contains(ts("09:00")) && emitted.contains(ts("10:00")),
      s"emitted: $emitted")
    // The 11:00 B event arrived behind the max-policy watermark: its
    // window must NOT appear (late-drop), pinning the policy's cost.
    assert(!emitted.contains(ts("11:00")), s"emitted: $emitted")
  }
}
