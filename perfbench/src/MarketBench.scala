package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.App
import graft.operators.{LatestPrices, MarketQueries, Ohlcv}
import graft.sources.TestKafkaOffset
import graft.streaming.Sinks

/** End-to-end benchmark of the streaming medallion graph (`App.start`)
  * and the serving queries over the stores it writes.
  *
  * Usage: MarketBench <mode> <seed> <seconds> <trace 0|1> <work dir> <cpus> <store dir>
  *
  *  - live: an open-loop feed at `LiveRate` rows/s on a 1 s trigger for
  *    `seconds`; `latency_ms` is the mean time from a trade's due time
  *    to the gold5m commit that puts it in the dashboard's bars;
  *  - dashboard: the panel set runs closed loop for `seconds` against
  *    the store in <store dir>; `latency_ms` is the mean panel request
  *    latency;
  *  - store: drains the dashboard history into <work dir> by
  *    available-now and checks it, once per build.
  *
  * The workloads print one JSON object of metrics on the last line of
  * stdout.
  */
object MarketBench {
  val Workloads: Seq[String] = Seq("live", "dashboard")
  val Layers: Seq[String] = Seq("bronze", "silver", "gold5m", "gold1h")
  val Stateful: Set[String] = Set("silver", "gold5m", "gold1h")
  /** Live feed rate, rows/s: 50 symbols at 8 trades/s each. The
    * reference's documented envelope is tens of msgs/s from at most 50
    * symbols; this runs above it and silver's backlog still stays flat.
    */
  val LiveRate = 400
  val LiveTickMs = 200
  /** The `live` set-up: start the topology on a fresh `SetupRows`-row
    * history and wait until every query has committed it. It is the
    * JVM's first topology, so it pays JIT, codegen and the first
    * state-store opens.
    */
  val SetupRows = 400
  val SetupFiles = 2
  /** A live set-up history covers the minute before it starts: the
    * stream's re-sends may repeat its trades, and they must stay inside
    * the 10-minute watermark.
    */
  val SetupSpanMs = 60000L
  /** The `dashboard` store: `HistoryRows` trades over the hour around a
    * midnight, so it holds two trade dates, from the fixed `StoreSeed`.
    * An available-now drain commits it in `HistoryBatches` micro-batches,
    * so it has the small files that micro-batch commits leave.
    */
  val StoreSeed = 20250303L
  val HistoryStartMs: Long = java.time.Instant.parse("2025-03-03T23:30:00Z").toEpochMilli
  val HistoryRows = 3000
  val HistorySpanMs: Long = 3600L * 1000
  val HistoryFiles = 6
  val HistoryBatches = 4
  /** Single-thread baseline: `Local1Rows` history rows over
    * `Local1SpanMs`, drained in one batch.
    */
  val Local1Rows = 2000
  val Local1SpanMs: Long = 4L * 3600 * 1000
  /** Backlog sampling period: short enough that a window gives a p90
    * with ten samples beyond it.
    */
  val LagSampleMs = 40

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, cpus: Int, store: Path)

  def main(args: Array[String]): Unit = {
    def path(a: String) = Paths.get(a).toAbsolutePath.normalize
    val o = Opts(args(0), args(1).toLong, args(2).toInt, args(3) == "1", path(args(4)),
      args(5).toInt, path(args(6)))
    require(o.workload == "store" || Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    Files.createDirectories(o.work)
    val jvmMs = System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o.cpus, o.work)
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(s"[perfbench] session up ${System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime} ms after JVM start (main after $jvmMs ms)")
    // Every query has stopped by the time a result exists; halting skips
    // seconds of session shutdown that no metric covers.
    val code = try {
      val bench = new MarketBench(spark, o)
      if (o.workload == "store") { if (bench.buildStore()) 0 else 1 }
      else { println(bench.run()); 0 }
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.out.flush()
    if (o.workload == "store") System.exit(code)
    Runtime.getRuntime.halt(code)
  }

  /** `App.main`'s session settings, with `SPARK_GRAFT_CPUS` = `cpus`. */
  def session(cpus: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .getOrCreate()

  val PanelNames: Seq[String] = Seq("countForDay", "volumeForDay", "maxWindowForDay",
    "candles", "latestTrades", "ohlcvRange", "volumeBySymbol", "tradeCountBySymbol",
    "avgSecondsIntoDay", "priceBand", "LatestPrices.snapshot")

  /** Arguments of one dashboard refresh. */
  final case class PanelArgs(day: String, fromDay: String, toDay: String, symbol: String,
                             lo: Double, hi: Double)

  /** Silver is read with `event_id = timestamp`, as `App.start` derives it. */
  def panel(name: String, a: PanelArgs, silver: => DataFrame, gold5m: => DataFrame,
            gold1h: => DataFrame): DataFrame = name match {
    case "countForDay" => MarketQueries.countForDay(silver, a.day)
    case "volumeForDay" => MarketQueries.volumeForDay(gold5m, a.day)
    case "maxWindowForDay" => MarketQueries.maxWindowForDay(gold5m, a.day)
    case "candles" => MarketQueries.candles(gold5m, a.symbol, a.day, 12)
    case "latestTrades" => MarketQueries.latestTrades(silver, a.symbol, a.day, 20)
    case "ohlcvRange" => MarketQueries.ohlcvRange(gold1h, a.symbol, a.fromDay, a.toDay)
    case "volumeBySymbol" => MarketQueries.volumeBySymbol(gold5m)
    case "tradeCountBySymbol" => MarketQueries.tradeCountBySymbol(gold5m)
    case "avgSecondsIntoDay" => MarketQueries.avgSecondsIntoDay(silver, a.day)
    case "priceBand" => MarketQueries.priceBand(silver, a.lo, a.hi)
    case "LatestPrices.snapshot" => LatestPrices.snapshot(silver)
  }

  object PlanWalk extends AdaptiveSparkPlanHelper

  def fmt(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString

  def dirStats(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}

/** One streaming topology over one TestKafka feed directory. */
final class Topology(spark: SparkSession, feedDir: Path, dir: Path, trigger: String,
                     maxOffsetsPerTrigger: Option[Long] = None) {
  val out: Path = dir.resolve("out")
  val ckp: Path = dir.resolve("ckp")
  var mgr: Sinks.SinkManager = _
  var startedMs: Double = 0
  var startWallMs: Double = 0

  def start(tracer: Tracer): Unit = {
    val reader = maxOffsetsPerTrigger.foldLeft(
      spark.readStream.format("graft-testkafka").option("path", feedDir.toString))(
      (r, n) => r.option("maxOffsetsPerTrigger", n))
    val cfg = App.Config(out = out.toString, checkpoint = ckp.toString,
      layers = MarketBench.Layers.toSet, trigger = trigger)
    val t0 = System.nanoTime()
    startWallMs = System.currentTimeMillis().toDouble
    mgr = App.start(spark, reader.load(), cfg)
    startedMs = (System.nanoTime() - t0) / 1e6
    tracer.add("App.start", dir.getFileName.toString, null, startWallMs, startWallMs + startedMs)
  }

  def runIds: Map[String, String] = mgr.handles.map { case (n, q) => n -> q.runId.toString }

  /** Rows of the feed covered by a query's last committed offsets. */
  def committedRows(q: String): Long =
    Option(mgr.handles(q).lastProgress).flatMap(p => p.sources.headOption)
      .map(s => TestKafkaOffset.fromJson(s.endOffset).lines.map(_._2).sum).getOrElse(0L)

  def silverCommittedRows: Long = committedRows("silver")

  /** Waits for every query to stop (available-now) or to commit the
    * feed's `rows` rows (processing-time), then for the listener to see
    * the batch that commits the last of them.
    */
  def settle(probe: Probe, rows: Long, drain: Boolean): Unit = {
    if (drain) mgr.handles.values.foreach(_.awaitTermination())
    else {
      val deadline = System.currentTimeMillis() + 60000
      while (mgr.handles.keys.exists(committedRows(_) < rows) &&
             System.currentTimeMillis() < deadline) Thread.sleep(50)
    }
    mgr.handles.values.foreach { q =>
      q.exception.foreach(e => throw e)
      probe.awaitCovered(q.runId.toString, rows)
    }
  }

  def stop(): Unit = mgr.stopAll()

  def storeStats: Map[String, (Long, Long)] =
    MarketBench.Layers.map(l => l -> MarketBench.dirStats(out.resolve(l))).toMap
}

final class MarketBench(spark: SparkSession, o: MarketBench.Opts) {
  import MarketBench._

  private val probe = new Probe(spark)
  private val tracer = new Tracer(o.trace)
  private val checks = mutable.LinkedHashMap.empty[String, Boolean]
  private var panelRequests = 0L
  private var panelFailures = 0L

  private val born = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench +${(System.nanoTime() - born) / 1e9}%.1fs] $msg")

  private def check(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Exception => log(s"check $name threw: $e"); false }
    if (!r) log(s"check FAILED: $name")
    checks(name) = r
  }

  // ------------------------------------------------------------------
  // Feed
  // ------------------------------------------------------------------

  /** Writes `rows` history rows spread evenly over `spanMs` from
    * `startMs`, in `files` record files.
    */
  private def writeHistory(feed: Feed, dir: Path, rows: Int, startMs: Long, spanMs: Long,
                           files: Int): Unit = {
    Files.createDirectories(dir)
    val per = math.ceil(rows.toDouble / files).toInt
    history(feed, rows, startMs, spanMs).grouped(per).zipWithIndex.foreach { case (recs, seq) =>
      val t0 = System.currentTimeMillis().toDouble
      Feed.writeRecordFile(dir, seq, recs)
      tracer.add("sources.gen", s"gen-${dir.getFileName}-$seq", null, t0, System.currentTimeMillis())
    }
  }

  private def history(feed: Feed, rows: Int, startMs: Long, spanMs: Long): Seq[Feed.Trade] =
    (0 until rows).map(j => feed.next(startMs + j * spanMs / rows))

  // ------------------------------------------------------------------
  // Streaming measurements
  // ------------------------------------------------------------------

  /** Visibility of the rows each batch's offsets newly cover: batch
    * commit time minus the row's due time, for the rows `due` knows.
    * Grouped by the batch that made them visible, so support can be
    * counted in commits.
    */
  private def visibility(batches: Seq[BatchRecord], due: (String, Int) => Option[Double]): Seq[Seq[Double]] =
    batches.flatMap { b =>
      val from = Option(b.startOffset).map(TestKafkaOffset.fromJson(_).lines.toMap).getOrElse(Map.empty)
      val to = Option(b.endOffset).map(TestKafkaOffset.fromJson(_).lines).getOrElse(Nil)
      val xs = to.flatMap { case (f, n) =>
        (from.getOrElse(f, 0L).toInt until n.toInt).flatMap(i => due(f, i).map(b.endMs - _))
      }
      if (xs.isEmpty) None else Some(xs)
    }

  private def batchSpans(batches: Seq[BatchRecord]): Unit =
    batches.filter(_.rows > 0).foreach { b =>
      val id = s"${b.query}-${b.runId.take(8)}-${b.batchId}"
      tracer.add(s"streaming.${b.query}", id, null, b.startMs, b.endMs)
      var t = b.startMs.toDouble
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        .foreach { ph =>
          b.phases.get(ph).foreach { d =>
            tracer.add(s"streaming.${b.query}.$ph", id, s"streaming.${b.query}", t, t + d)
            t += d
          }
        }
    }

  /** Per-query layer metrics. Phase timings are over `measured`, the
    * data batches of the workload's measured part; watermark drops are
    * over every batch of the run.
    */
  private def streamingLayer(s: StreamRun): Seq[(String, Double, String)] =
    Layers.flatMap { q =>
      val all = s.batches.getOrElse(q, Nil)
      val data = s.measured.getOrElse(q, Nil).filter(_.rows > 0)
      def ph(name: String): Seq[Double] = data.map(_.phases.getOrElse(name, 0L).toDouble)
      val base = Seq(
        (s"streaming.$q.batches", data.size.toDouble, "count"),
        (s"streaming.$q.rows_in", data.map(_.rows).sum.toDouble, "count"),
        (s"streaming.$q.trigger_ms_mean", Stats.mean(ph("triggerExecution")), "ms"),
        (s"streaming.$q.latest_offset_ms_mean", Stats.mean(ph("latestOffset")), "ms"),
        (s"streaming.$q.query_planning_ms_mean", Stats.mean(ph("queryPlanning")), "ms"),
        (s"streaming.$q.add_batch_ms_mean", Stats.mean(ph("addBatch")), "ms"),
        (s"streaming.$q.wal_commit_ms_mean", Stats.mean(ph("walCommit")), "ms"),
        (s"streaming.$q.commit_offsets_ms_mean", Stats.mean(ph("commitOffsets")), "ms"),
        (s"streaming.$q.add_batch_ms_sum", ph("addBatch").sum, "ms"),
        (s"streaming.$q.late_dropped_rows", all.map(_.lateDropped).sum.toDouble, "count"),
        (s"streaming.$q.store_files", s.stores(q)._1.toDouble, "count"),
        (s"streaming.$q.store_bytes", s.stores(q)._2.toDouble, "bytes"),
        (s"streaming.$q.fresh_ms_mean", Stats.mean(s.fresh(q).flatten), "ms"),
        (s"streaming.$q.fresh_commits", s.fresh(q).size.toDouble, "count"))
      val state = if (!Stateful(q)) Nil else {
        val last = all.lastOption
        Seq(
          (s"streaming.$q.state_commit_ms_mean", Stats.mean(data.map(_.stateCommitMs.toDouble)), "ms"),
          (s"streaming.$q.state_rows_end", last.map(_.stateRows.toDouble).getOrElse(0.0), "count"),
          (s"streaming.$q.state_bytes_end", last.map(_.stateBytes.toDouble).getOrElse(0.0), "bytes"))
      }
      base ++ state
    }

  // ------------------------------------------------------------------
  // Serving panels
  // ------------------------------------------------------------------

  final case class Store(out: Path) {
    def silver: DataFrame =
      spark.read.parquet(out.resolve("silver").toString).withColumn("event_id", col("timestamp"))
    def gold5m: DataFrame = spark.read.parquet(out.resolve("gold5m").toString)
    def gold1h: DataFrame = spark.read.parquet(out.resolve("gold1h").toString)
  }

  final case class Req(name: String, planMs: Double, execMs: Double, files: Long) {
    def latencyMs: Double = planMs + execMs
  }
  private val reqs = mutable.ArrayBuffer.empty[Req]
  private val reqSeq = new AtomicLong(0)

  /** One panel request: planning (file listing included) builds the
    * executed plan, execution collects the answer. Returns the answer's
    * rows as sorted JSON, or None if the request threw (a failed
    * operation).
    */
  private def request(name: String, a: PanelArgs, s: Store): Option[Seq[String]] = {
    val id = s"req-${reqSeq.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setJobGroup(Probe.GroupPrefix + name, name, interruptOnCancel = false)
    panelRequests += 1
    try {
      val w0 = System.currentTimeMillis().toDouble
      val t0 = System.nanoTime()
      val df = panel(name, a, s.silver, s.gold5m, s.gold1h)
      df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      val rows = df.collect()
      val t2 = System.nanoTime()
      val files = PlanWalk.collect(df.queryExecution.executedPlan) {
        case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      val (w1, w2) = (w0 + (t1 - t0) / 1e6, w0 + (t2 - t0) / 1e6)
      tracer.add(s"operators.$name", id, null, w0, w2)
      tracer.add(s"operators.$name.plan", id, s"operators.$name", w0, w1)
      tracer.add(s"operators.$name.execute", id, s"operators.$name", w1, w2)
      reqs += Req(name, (t1 - t0) / 1e6, (t2 - t1) / 1e6, files)
      Some(rows.map(_.json).sorted.toSeq)
    } catch {
      case e: Exception =>
        log(s"panel $name failed: $e")
        panelFailures += 1
        None
    } finally sc.clearJobGroup()
  }

  /** The untimed round: every panel once, answers kept for `verify`.
    * It also warms the serving paths before any timed request.
    */
  private def answerRound(a: PanelArgs, s: Store): Map[String, Seq[String]] =
    untimed(PanelNames.flatMap(n => request(n, a, s).map(n -> _)).toMap)

  /** Runs `f` and forgets its requests' timings and job counts. */
  private def untimed[T](f: => T): T = {
    val r = f
    reqs.clear()
    probe.resetJobs()
    r
  }

  /** Closed-loop requests cycling through the panel set, one at a time:
    * at least one full round, then until `seconds` have passed. The
    * store is static, so an answer that differs from the verified
    * untimed one is a failed operation.
    */
  private def timedRounds(a: PanelArgs, s: Store, want: Map[String, Seq[String]],
                          seconds: Double): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    Iterator.continually(PanelNames).flatten.zipWithIndex
      .takeWhile { case (_, i) => i < PanelNames.size || System.nanoTime() < end }
      .foreach { case (n, _) =>
        request(n, a, s).foreach { got =>
          if (!want.get(n).contains(got)) {
            log(s"panel $n: timed answer differs from the verified one")
            panelFailures += 1
          }
        }
      }
  }

  private def operatorLayer(): Seq[(String, Double, String)] = {
    val counts = probe.jobCounts
    PanelNames.flatMap { n =>
      val rs = reqs.filter(_.name == n).toSeq
      val (j, t) = counts.getOrElse(n, (0L, 0L))
      val k = math.max(rs.size, 1).toDouble
      Seq(
        (s"operators.$n.ms_mean", Stats.mean(rs.map(_.latencyMs)), "ms"),
        (s"operators.$n.plan_ms_mean", Stats.mean(rs.map(_.planMs)), "ms"),
        (s"operators.$n.jobs", j / k, "count"),
        (s"operators.$n.tasks", t / k, "count"),
        (s"operators.$n.files_read", rs.map(_.files.toDouble).sum / k, "count"))
    }
  }

  // ------------------------------------------------------------------
  // Correctness
  // ------------------------------------------------------------------

  private val expectedSchema = StructType(Seq(
    StructField("symbol", StringType), StructField("price", DoubleType),
    StructField("volume", LongType), StructField("timestamp", LongType),
    StructField("conditions", ArrayType(StringType)), StructField("ingestion_time", LongType)))
  private val silverCols = expectedSchema.fieldNames.toSeq
  private val barCols = Seq("symbol", "window_start", "window_end", "open", "high", "low",
    "close", "volume", "trade_count", "vwap_e6", "vwap", "pv_ticks")

  private def frame(rows: Seq[Feed.Trade]): DataFrame =
    spark.createDataFrame(rows.map(t => Row(t.symbol, t.priceCents / 100.0, t.volume, t.ts,
      t.conditions, t.ingestionMs)).asJava, expectedSchema)

  /** Multiset fingerprint of `cols` as one row: label, row count, exact
    * sum of each row's 64-bit hash, and the sums of `volume` and
    * `trade_count` where present. Equal multisets give equal
    * fingerprints; a lost, extra or changed row moves the hash sum.
    */
  private def fingerprint(label: String, df: DataFrame, cols: Seq[String]): DataFrame = {
    def total(c: String) =
      if (df.columns.contains(c)) sum(col(c)).cast("string") else lit(null).cast("string")
    df.agg(count(lit(1)).cast("string").as("n"),
        sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")).cast("string").as("h"),
        total("volume").as("volume"), total("trade_count").as("trade_count"))
      .select(lit(label).as("k"), col("n"), col("h"), col("volume"), col("trade_count"))
  }

  /** Checks the four stores, the watermark drops of the batches that
    * wrote them and the untimed panel answers, when given,
    * against a static batch recompute from the generator's own record
    * of what it sent. The fingerprints, and the expected panel answers,
    * each run as one Spark action.
    */
  private def verify(feed: Feed, out: Path, batches: Option[Map[String, Seq[BatchRecord]]],
                     panels: Option[(PanelArgs, Map[String, Seq[String]])]): Unit = {
    val store = Store(out)
    val sent = feed.emitted.toSeq
    val expSilver = frame(sent.filter(r => r.valid && !r.resend))
      .withColumn("event_time", to_timestamp(col("timestamp") / 1000))
      .withColumn("trade_date", to_date(col("event_time")))
      .withColumn("event_id", col("timestamp")).cache()
    def withDate(bars: DataFrame) = bars.withColumn("window_date", to_date(col("window_start")))
    val exp5m = withDate(Ohlcv.bars(expSilver, "5 minutes")).cache()
    val exp1h = withDate(Ohlcv.bars(expSilver, "1 hour")).cache()
    val bronzeCols = Seq("symbol", "price", "volume", "timestamp", "ingestion_time")
    // The check-only actions need no parallel shuffle.
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    // The expected panel answers run as a second job beside the
    // fingerprints.
    val wantF = Future {
      panels.map { case (a, _) =>
        PanelNames.map { n =>
          panel(n, a, expSilver, exp5m, exp1h).select(lit(n).as("k"),
            to_json(struct(col("*")), Map("ignoreNullFields" -> "false").asJava).as("j"))
        }.reduce(_ unionByName _).collect().groupBy(_.getString(0))
          .map { case (k, rs) => k -> rs.map(_.getString(1)).sorted.toSeq }
      }
    }
    val got = Seq(
      fingerprint("bronze", spark.read.parquet(out.resolve("bronze").toString), bronzeCols),
      fingerprint("silver", store.silver, silverCols),
      fingerprint("gold5m", store.gold5m, barCols),
      fingerprint("gold1h", store.gold1h, barCols),
      fingerprint("expected bronze", frame(sent), bronzeCols),
      fingerprint("expected silver", expSilver, silverCols),
      fingerprint("expected gold5m", exp5m, barCols),
      fingerprint("expected gold1h", exp1h, barCols)
    ).reduce(_ unionByName _).collect().map(r => r.getString(0) -> r).toMap
    def fp(k: String) = (got(k).getString(1), got(k).getString(2))
    def same(name: String, k: String): Unit = check(name) {
      if (fp(k) != fp(s"expected $k")) log(s"$name: store ${fp(k)}, expected ${fp(s"expected $k")}")
      fp(k) == fp(s"expected $k")
    }
    same("bronze holds every parsed row", "bronze")
    same("silver holds the valid de-duplicated rows", "silver")
    same("gold5m equals Ohlcv.bars 5m over the expected silver", "gold5m")
    same("gold1h equals Ohlcv.bars 1h over the expected silver", "gold1h")
    check("sum gold1h volume = sum gold5m volume")(got("gold1h").getString(3) == got("gold5m").getString(3))
    check("sum gold5m trade_count = silver rows")(got("gold5m").getString(4) == got("silver").getString(1))
    for (bs <- batches; q <- Layers)
      check(s"streaming.$q.late_dropped_rows = 0")(bs.getOrElse(q, Nil).map(_.lateDropped).sum == 0L)
    val want = Await.result(wantF, Duration.Inf)
    spark.conf.set("spark.sql.shuffle.partitions", partitions)
    for ((_, answers) <- panels; w <- want; n <- PanelNames)
      check(s"panel $n equals the batch recompute") {
        val answer = answers.getOrElse(n, Seq("<failed>"))
        val expected = w.getOrElse(n, Seq.empty)
        if (answer != expected)
          log(s"panel $n: only in answer ${answer.diff(expected).take(3)}, only expected ${expected.diff(answer).take(3)}")
        answer == expected
      }
    Seq(expSilver, exp5m, exp1h).foreach(_.unpersist())
  }

  // ------------------------------------------------------------------
  // Workloads
  // ------------------------------------------------------------------

  /** What one run of the topology leaves behind. `measured` holds the
    * batches of the workload's measured part, `fresh` the visibility of
    * its measured rows per commit, `lag` the silver backlog samples.
    */
  final case class StreamRun(topo: Topology, batches: Map[String, Seq[BatchRecord]],
                             measured: Map[String, Seq[BatchRecord]],
                             fresh: Map[String, Seq[Seq[Double]]], lag: Seq[Double],
                             stores: Map[String, (Long, Long)])

  /** The workload's end-to-end figures and its per-layer metrics. */
  final case class Outcome(setupS: Double, latencyMs: Double, rssMb: Double,
                           layers: () => Seq[(String, Double, String)])

  private def dayOf(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString.take(10)

  private def streamLayers(s: StreamRun, genLate: Double): Seq[(String, Double, String)] = {
    require(Stats.supported(s.lag.size, 0.9), s"sources.lag_rows_p90 from ${s.lag.size} samples")
    streamingLayer(s) ++ Seq(
      ("sources.gen_late_ms_max", genLate, "ms"),
      ("sources.lag_rows_p90", Stats.pct(s.lag, 0.9), "count"),
      ("App.start_ms", s.topo.startedMs, "ms"))
  }

  /** `live`: set up (a `SetupRows`-row history of the previous minute,
    * committed by every query on the 1 s trigger), then an open-loop
    * feed of `LiveRate` rows/s due over `seconds`, written by one
    * generator thread on its own clock. The generator then stops, every
    * query commits what was fed, and the topology stops. A traced run
    * also serves one verified and one timed panel round from the store.
    */
  private def live(): Outcome = {
    val feed = new Feed(o.seed)
    val dir = o.work.resolve("live")
    val feedDir = dir.resolve("feed")
    writeHistory(feed, feedDir, SetupRows, System.currentTimeMillis() - SetupSpanMs, SetupSpanMs, SetupFiles)
    val t0 = System.nanoTime()
    val topo = new Topology(spark, feedDir, dir, "1 second")
    topo.start(tracer)
    topo.mgr.handles.values.foreach(q => probe.awaitCovered(q.runId.toString, SetupRows))
    val setupS = (System.nanoTime() - t0) / 1e9
    log(f"set up in $setupS%.1f s")

    val wStart = System.currentTimeMillis()
    val wEnd = wStart + o.seconds * 1000L
    val dueByFile = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
    val generated = new AtomicLong(SetupRows)
    @volatile var genLate = 0.0
    // The generator keeps its own clock: each tick writes every row due
    // by then, however far behind the engine is.
    val gen = new Thread(() => {
      var seq = SetupFiles
      var j = 0L
      var tick = wStart + LiveTickMs
      while (tick <= wEnd) {
        val now = System.currentTimeMillis()
        if (now < tick) Thread.sleep(tick - now)
        val s0 = System.currentTimeMillis()
        genLate = math.max(genLate, (s0 - tick).toDouble)
        val rows = mutable.ArrayBuffer.empty[Feed.Trade]
        while (wStart + j * 1000 / LiveRate < tick) { rows += feed.next(wStart + j * 1000 / LiveRate); j += 1 }
        val path = Feed.writeRecordFile(feedDir, seq, rows.toSeq)
        dueByFile.put(path.toString, rows.map(_.dueMs).toArray)
        generated.addAndGet(rows.size)
        tracer.add("sources.gen", s"gen-$seq", null, s0, System.currentTimeMillis())
        seq += 1
        tick += LiveTickMs
      }
    })
    gen.start()
    val lag = mutable.ArrayBuffer.empty[Double]
    while (System.currentTimeMillis() < wEnd) {
      lag += (generated.get - topo.silverCommittedRows).toDouble
      Thread.sleep(LagSampleMs)
    }
    gen.join()
    topo.settle(probe, feed.emitted.size.toLong, drain = false)
    val rss = peakRssMb()
    topo.stop()
    log("stream drained")
    val batches = topo.runIds.map { case (q, id) => q -> probe.batchesOf(id) }
    batchSpans(batches.values.flatten.toSeq)
    val due: (String, Int) => Option[Double] = (f, i) => Option(dueByFile.get(f)).map(_(i).toDouble)
    val fresh = Layers.map(q => q -> visibility(batches(q), due)).toMap
    val s = StreamRun(topo, batches,
      batches.map { case (q, bs) => q -> bs.filter(_.startMs >= wStart) }, fresh, lag.toSeq,
      topo.storeStats)
    log(Layers.map(q => f"$q: ${fresh(q).size} commits, fresh ${Stats.mean(fresh(q).flatten)}%.0f ms").mkString("; "))

    val panels = if (!o.trace) None else {
      val a = PanelArgs(dayOf(wStart), dayOf(wStart - 86400000L), dayOf(wStart), Feed.Symbols(1), 50.0, 150.0)
      Some(a -> answerRound(a, Store(topo.out)))
    }
    verify(feed, topo.out, Some(batches), panels)
    log("verified")
    panels.foreach { case (a, want) => timedRounds(a, Store(topo.out), want, 0) }
    Outcome(setupS, Stats.mean(fresh("gold5m").flatten), rss,
      () => streamLayers(s, genLate) ++ operatorLayer())
  }

  /** Drains the dashboard history by available-now into `dir`, in
    * `HistoryBatches` micro-batches, and stops the topology. Returns the
    * generator that made the history and the run.
    */
  private def drainHistory(dir: Path): (Feed, StreamRun) = {
    val feed = new Feed(StoreSeed)
    writeHistory(feed, dir.resolve("feed"), HistoryRows, HistoryStartMs, HistorySpanMs, HistoryFiles)
    val t0 = System.nanoTime()
    val topo = new Topology(spark, dir.resolve("feed"), dir, "available-now",
      Some(HistoryRows.toLong / HistoryBatches))
    topo.start(tracer)
    val lag = mutable.ArrayBuffer.empty[Double]
    while (topo.mgr.handles.values.exists(_.isActive)) {
      lag += (HistoryRows - topo.silverCommittedRows).toDouble
      Thread.sleep(LagSampleMs)
    }
    topo.settle(probe, HistoryRows, drain = true)
    val drainS = (System.nanoTime() - t0) / 1e9
    topo.stop()
    log(f"history drained in $drainS%.1f s")
    val batches = topo.runIds.map { case (q, id) => q -> probe.batchesOf(id) }
    batchSpans(batches.values.flatten.toSeq)
    // Every history row is in the feed when the drain starts.
    val fresh = Layers.map(q => q -> visibility(batches(q), (_, _) => Some(topo.startWallMs))).toMap
    (feed, StreamRun(topo, batches, batches, fresh, lag.toSeq, topo.storeStats))
  }

  /** The `store` mode: writes the dashboard store into the work
    * directory and checks it. Returns whether every check held.
    */
  def buildStore(): Boolean = {
    val (feed, s) = drainHistory(o.work)
    verify(feed, s.topo.out, Some(s.batches), None)
    checks.values.forall(identity)
  }

  /** `dashboard`: set up (three untimed rounds of the panel set against
    * the store, the first of them verified), then timed closed-loop
    * requests for `seconds`. The store is the one the `store` mode wrote for this
    * build; a traced run drains the history itself, so that it can
    * report the stream layers, and serves from that store. The stream
    * layers are idle while the panels run. The panel arguments come from
    * the seed.
    */
  private def dashboard(): Outcome = {
    val drained = if (o.trace) Some(drainHistory(o.work.resolve("dashboard"))) else None
    val out = drained.map(_._2.topo.out).getOrElse(o.store.resolve("out"))
    val store = Store(out)
    val rnd = new java.util.Random(o.seed)
    val days = Seq(dayOf(HistoryStartMs), dayOf(HistoryStartMs + HistorySpanMs))
    val lo = 20.0 + rnd.nextInt(200)
    val a = PanelArgs(days(rnd.nextInt(2)), days.head, days.last, Feed.Symbols(rnd.nextInt(10)),
      lo, lo + 100 + rnd.nextInt(200))
    val t0 = System.nanoTime()
    val want = answerRound(a, store)
    // Two more untimed rounds: right after the first, rounds still ran
    // 15-25% slower than later ones.
    untimed(timedRounds(a, store, want, 0))
    untimed(timedRounds(a, store, want, 0))
    val setupS = (System.nanoTime() - t0) / 1e9
    log(f"set up in $setupS%.1f s")
    timedRounds(a, store, want, o.seconds)
    val rss = peakRssMb()
    // Each panel weighs the same, however many of its requests the
    // window held.
    val latency = Stats.mean(PanelNames.map(n => Stats.mean(reqs.filter(_.name == n).map(_.latencyMs).toSeq)))
    log(f"${reqs.size} timed requests, mean $latency%.0f ms")
    val feed = drained.map(_._1).getOrElse {
      val f = new Feed(StoreSeed)
      history(f, HistoryRows, HistoryStartMs, HistorySpanMs)
      f
    }
    verify(feed, out, drained.map(_._2.batches), Some(a -> want))
    log("verified")
    Outcome(setupS, latency, rss,
      () => drained.map(d => streamLayers(d._2, 0.0)).getOrElse(Nil) ++ operatorLayer())
  }

  def run(): String = {
    val r = if (o.workload == "live") live() else dashboard()
    val roundTrip = roundTripMs()
    val metrics =
      if (!o.trace)
        Seq(("setup_s", r.setupS, "s"),
          ("latency_ms", r.latencyMs, "ms"),
          ("peak_rss_mb", r.rssMb, "MB"))
      else {
        val overhead = tracer.costNs * 100.0 / (System.nanoTime() - born)
        val layers = r.layers() :+ (("trace.overhead_pct", overhead, "%"))
        writeTrace()
        layers :+ (("streaming.local1_rows_per_s", local1Rate(), "rows/s"))
      }
    val attempted = checks.size + panelRequests
    val failed = checks.count(!_._2) + panelFailures
    println(s"""{"host_jvm":{"round_trip_ms":${fmt(roundTrip)},"setup_s":${fmt(r.setupS)}}}""")
    val m = metrics.map { case (n, v, u) => s""""$n":{"value":${fmt(v)},"unit":"$u"}""" }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$m}"""
  }

  /** Scheduler round trip: median ms of five trivial jobs, after one. */
  private def roundTripMs(): Double = {
    spark.range(1).count()
    Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1).count()
      (System.nanoTime() - t0) / 1e6
    })
  }

  private def writeTrace(): Unit = {
    val dir = o.work.resolve("trace")
    Files.createDirectories(dir)
    tracer.writeJsonl(dir.resolve(s"${o.workload}-${o.seed}.jsonl"))
    val self = tracer.selfTimeMs.toSeq.sortBy(-_._2)
      .map { case (n, ms) => s""""$n":${fmt(ms)}""" }.mkString("{", ",", "}")
    Files.write(dir.resolve(s"${o.workload}-${o.seed}.selftime.json"),
      self.getBytes(StandardCharsets.UTF_8))
  }

  /** Single-thread baseline: a `Local1Rows`-row history drained by
    * available-now in one batch on a fresh local[1] session. Stops this
    * run's session, so it comes last.
    */
  private def local1Rate(): Double = {
    val dir = o.work.resolve("local1-history")
    writeHistory(new Feed(o.seed), dir, Local1Rows, HistoryStartMs, Local1SpanMs, Local1Rows / 1000)
    spark.stop()
    val work = o.work.resolve("local1")
    val one = MarketBench.session(1, work)
    try {
      val probe1 = new Probe(one)
      val topo = new Topology(one, dir, work.resolve("drain"), "available-now")
      topo.start(new Tracer(false))
      topo.settle(probe1, Local1Rows, drain = true)
      val ends = topo.runIds.values.flatMap(probe1.batchesOf(_).map(_.endMs))
      topo.stop()
      Local1Rows * 1000.0 / (ends.max - topo.startWallMs)
    } finally one.stop()
  }
}
