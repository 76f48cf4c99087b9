package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{Medallion, Ohlcv}
import graft.sources.Tables
import graft.streaming.{IncrementalGoldStream, LocalFs, Sinks, SpawnFreeLocalFileSystem,
  SpawnFreeLocalFs, TradeStreams}

/** Streaming application entry — the Scala analog of the reference
  * consumer CLI (src/consumer/main.py:115-153): layer toggles, trigger
  * interval, watermark, offsets, source selection.
  *
  * Usage:
  *   graft.App --source kafka --brokers host:9092 --topic trades_raw \
  *     --layers bronze,silver,gold5m,gold5m_mor,gold1h,indicators,deadletter \
  *     --out /data/market \
  *     --checkpoint /data/ckp --trigger "10 seconds" --watermark "10 minutes" \
  *     --offsets latest
  *   graft.App --source file --in /data/raw --out /data/market ...
  *   graft.App --layers admission --docs-in /data/crawl_slices \
  *     --corpus /data/corpus --min-jaccard-e6 500000 --out /data/market ...
  *
  * Pipeline (spark_processor.py:135-183): source -> parse (P1,P2) ->
  * watermark (A5) -> bronze (P3) / silver (P4,F1,F2) / gold (A1-A4)
  * branches, each with its own sink and checkpoint, fanned out
  * through one SinkManager (K1/K4). Append layers (bronze, silver,
  * dead letters) use the native file sink — exactly-once via the
  * _spark_metadata commit log; the update-mode gold layers use the
  * foreachBatch keyed upsert (idempotent, so at-least-once replay
  * converges).
  */
object App {

  case class Config(
      source: String = "file",
      brokers: String = "localhost:9092",
      topic: String = "trades_raw",
      offsets: String = "latest",
      in: String = "",
      out: String = "/tmp/graft_out",
      checkpoint: String = "/tmp/graft_ckp",
      layers: Set[String] = Set("bronze", "silver", "gold5m"),
      trigger: String = "10 seconds",
      watermark: String = "10 minutes",
      master: String = "local[*]",
      /** Value encoding on the wire: "json" (reference producer) or
        * "avro" (the registry contract, schemas/avro/trade.avsc).
        */
      format: String = "json",
      /** Chained topology: gold grains stream from the silver OUTPUT
        * directory instead of re-running the parse+silver+dedup
        * pipeline with their own copy of the watermark/dedup state.
        * Halves stateful work per extra grain — the posture for
        * state-constrained deployments; requires the silver layer.
        * With the gold5m_final layer also enabled, gold1h goes one
        * level further and rolls up from the finalized 5m BAR stream
        * (O(bars) state instead of a second trade-level window).
        */
      chained: Boolean = false,
      /** Catch-up bound for the chained file sources: max silver files
        * per micro-batch. After downtime an unbounded file source
        * hands one batch the whole backlog — each stateful consumer
        * then buffers its groups' rows for that batch in memory.
        */
      maxFilesPerTrigger: Int = 1000,
      /** Where the per-micro-batch metrics + SLO alerts export to:
        * "" derives `<out>/_metrics` (on by default — the underscore
        * prefix hides it from parquet readers globbing <out>), "none"
        * disables the export. The listener itself always attaches.
        */
      metricsOut: String = "",
      /** Batch-latency SLO in ms — the reference's 10 s ingest→silver
        * alert. Batches slower than this land in `_metrics/alerts`
        * and log a WARN.
        */
      sloMs: Long = 10000L,
      /** Admission layer (d16): directory of incoming document
        * batches as JSONL crawl slices (Tables.documentsSchema), read
        * as a streaming json source.
        */
      docsIn: String = "",
      /** Admission layer: the existing corpus as a parquet directory
        * of (doc_id, text, ...) — indexed ONCE at stream start
        * (Dedup.corpusIndex), probed per micro-batch.
        */
      corpus: String = "",
      /** Admission layer: verified n-gram-Jaccard threshold (e6
        * micro-units) above which a batch doc is a near-dup.
        */
      minJaccardE6: Long = 500000L,
      /** Idle-source heartbeat interval in seconds (0 = off). When on,
        * the parsed trade feed is decorated with a rate-driven
        * heartbeat (Heartbeats.decorate): the watermark keeps
        * advancing while the feed is idle, so append-mode windows
        * (gold5m_final, the gold1h cascade) still close after the
        * market goes quiet instead of withholding the session's last
        * bars until the next trading day's first tick. Wall-clock
        * stamped, so refused under bounded-drain triggers — a backfill
        * heartbeat would late-drop the entire backlog (see
        * Heartbeats.decorate's caveat).
        */
      heartbeatSecs: Int = 0)

  def parseArgs(args: Array[String]): Config =
    args.sliding(2, 2).foldLeft(Config()) {
      case (c, Array("--source", v)) => c.copy(source = v)
      case (c, Array("--brokers", v)) => c.copy(brokers = v)
      case (c, Array("--topic", v)) => c.copy(topic = v)
      case (c, Array("--offsets", v)) => c.copy(offsets = v)
      case (c, Array("--in", v)) => c.copy(in = v)
      case (c, Array("--out", v)) => c.copy(out = v)
      case (c, Array("--checkpoint", v)) => c.copy(checkpoint = v)
      case (c, Array("--layers", v)) => c.copy(layers = v.split(",").map(_.trim).toSet)
      case (c, Array("--trigger", v)) => c.copy(trigger = v)
      case (c, Array("--watermark", v)) => c.copy(watermark = v)
      case (c, Array("--max-files-per-trigger", v)) => c.copy(maxFilesPerTrigger = v.toInt)
      case (c, Array("--master", v)) => c.copy(master = v)
      case (c, Array("--format", v)) => c.copy(format = v)
      case (c, Array("--chained", v)) => c.copy(chained = v.toBoolean)
      case (c, Array("--metrics-out", v)) => c.copy(metricsOut = v)
      case (c, Array("--slo-ms", v)) => c.copy(sloMs = v.toLong)
      case (c, Array("--docs-in", v)) => c.copy(docsIn = v)
      case (c, Array("--corpus", v)) => c.copy(corpus = v)
      case (c, Array("--min-jaccard-e6", v)) => c.copy(minJaccardE6 = v.toLong)
      case (c, Array("--heartbeat-secs", v)) => c.copy(heartbeatSecs = v.toInt)
      case (c, other) => sys.error(s"unknown argument: ${other.mkString(" ")}")
    }

  /** Schema of the silver parquet layer (what a chained gold stream
    * reads): the parsed trade columns after quality normalization,
    * plus event_time and the trade_date partition column.
    */
  val silverSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("symbol", StringType),
      StructField("price", DoubleType),
      StructField("volume", LongType),
      StructField("timestamp", LongType),
      StructField("conditions", ArrayType(StringType)),
      StructField("ingestion_time", LongType),
      StructField("event_time", TimestampType),
      StructField("trade_date", DateType)))
  }

  /** Schema of the finalized-bar layer (what the chained gold1h
    * cascade streams): Ohlcv.bars output plus the window_date
    * partition column.
    */
  val barsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("symbol", StringType),
      StructField("window_start", TimestampType),
      StructField("window_end", TimestampType),
      StructField("open", DoubleType),
      StructField("high", DoubleType),
      StructField("low", DoubleType),
      StructField("close", DoubleType),
      StructField("volume", LongType),
      StructField("trade_count", LongType),
      StructField("vwap_e6", LongType),
      StructField("vwap", DoubleType),
      StructField("pv_ticks", LongType),
      StructField("window_date", DateType)))
  }

  /** Watermark delay for the HEARTBEAT-decorated gold1h cascade:
    * upstream watermark delay + 5m bar span + 5m chain-latency
    * margin. See the sizing note at the cascade wiring — a wall-clock
    * heartbeat watermark at a cascade level must lag by at least the
    * upstream EMISSION lag, or every steady-state bar arrives "late"
    * by construction and the hour's tail bars silently vanish from
    * the rollup.
    */
  def cascadeHeartbeatDelay(upstreamWatermark: String): String = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(upstreamWatermark))
    require(iv.months == 0,
      s"watermark '$upstreamWatermark' uses month units — not a fixed duration")
    val upstreamMs = iv.days * 86400000L + iv.microseconds / 1000L
    s"${upstreamMs + 10 * 60000L} milliseconds"
  }

  /** Build the full branch graph over a raw source frame and start
    * every selected sink. Returns the manager holding the handles.
    *
    * Before any query starts, `start` makes the fixed cost of a
    * micro-batch independent of how the caller built the session. Each
    * setting below keeps a caller's non-default choice (the same rule as
    * the RocksDB switch):
    *   - `fs.AbstractFileSystem.file.impl` is bound to
    *     [[SpawnFreeLocalFs]]. Every checkpoint commit (offsets, commits,
    *     state-store changelogs and their checksums, `_spark_metadata`) is
    *     a `FileContext` create-then-rename, and without Hadoop's native
    *     library the stock binding forks `chmod` per created file and
    *     `readlink` twice per rename: about 3,000 processes in an 8 s
    *     perfbench `live` run on 4 vCPUs, and most of each layer's
    *     walCommit, commitOffsets and stateCommit time.
    *   - `fs.file.impl` is bound to [[SpawnFreeLocalFileSystem]], with the
    *     JVM-wide `file:` cache off for the session (it may hold a stock
    *     instance). Parquet part files, `_temporary` and `.spark-staging`
    *     directories, the upsert's marker and the `_metrics` export then
    *     stop forking `chmod`: about 650 processes in the same run.
    *   - `spark.sql.codegen.useIdInClassName` is turned off. A stage's
    *     number is part of its generated class text, so a stage renumbered
    *     between micro-batches compiles again; without the number it hits
    *     the codegen cache. (Per-batch constants are the other half:
    *     [[graft.functions.BatchConstant]].)
    * The bytes on disk are the same under either binding, so checkpoints
    * and stores move freely between them.
    */
  def start(spark: SparkSession, raw: DataFrame, cfg: Config): Sinks.SinkManager = {
    // Trigger modes per the reference's documented set: micro-batch
    // processing-time (default), "available-now" (drain the backlog
    // in bounded batches, then stop — the batch-catchup/backfill
    // posture), and legacy "once" (one batch, no backlog bound).
    // Continuous mode is deliberately NOT offered: it supports no
    // aggregations, so every layer except bronze would reject it.
    // One match yields both the trigger and its boundedness — a
    // second string-parse could silently desync on a new alias and
    // turn off the chained-drain validation below.
    val (trigger, boundedDrain) = cfg.trigger.trim.toLowerCase match {
      case "available-now" | "availablenow" => (Trigger.AvailableNow(), true)
      case "once" => (Trigger.Once(), true)
      case t => (Trigger.ProcessingTime(t), false)
    }
    // Validate the whole config BEFORE any query starts: a failure
    // mid-wiring would strand already-started queries with no manager
    // handle to stop them.
    if (cfg.chained) {
      // In the cascade topology (gold5m_final present) gold1h is a
      // BAR consumer, not a silver consumer — it streams the
      // finalized-bar directory, one chain level further down.
      val cascade = cfg.layers("gold5m_final") && cfg.layers("gold1h")
      val silverConsumers = Seq("gold5m", "gold5m_final", "gold5m_mor", "gold1h", "indicators")
        .filter(cfg.layers).filterNot(l => cascade && l == "gold1h")
      if (boundedDrain) {
        // Same offset-snapshot hazard one level down: a draining
        // gold1h would snapshot the gold5m_final directory before the
        // bar layer commits its backlog. Backfill the cascade in
        // THREE invocations — silver, then gold5m_final, then gold1h.
        require(!cascade,
          s"chained gold1h cascades from gold5m_final and cannot drain in " +
            s"the same --trigger ${cfg.trigger} invocation: the downstream " +
            "file source snapshots the bar directory at start, before the " +
            "bar layer drains. Backfill in separate invocations — silver, " +
            "then gold5m_final, then gold1h.")
        // Bounded-drain triggers snapshot each source's offsets AT
        // QUERY START; chained downstream file sources started in the
        // same invocation as silver would snapshot the silver
        // directory before silver commits its first backlog batch,
        // drain ~nothing, and self-terminate "successfully" with the
        // gold store silently empty. The valid backfill is TWO
        // invocations — silver alone first, then the downstream
        // layers alone over the committed directory — so here the
        // downstream layers may run WITHOUT silver (unlike the
        // continuous case), but never together with it.
        require(silverConsumers.isEmpty || !cfg.layers("silver"),
          s"chained ${silverConsumers.mkString("/")} cannot drain in the " +
            s"same --trigger ${cfg.trigger} invocation as silver: the " +
            "downstream file source snapshots the silver directory at " +
            "start, before silver drains. Backfill in two invocations — " +
            "silver first, then the downstream layers.")
      } else {
        require(silverConsumers.isEmpty || cfg.layers("silver"),
          s"chained ${silverConsumers.mkString("/")} read the silver output — " +
            "enable the silver layer")
      }
    }
    if (cfg.layers("admission"))
      require(cfg.docsIn.nonEmpty && cfg.corpus.nonEmpty,
        "the admission layer needs --docs-in (incoming JSONL batches) " +
          "and --corpus (existing corpus parquet)")
    // Heartbeats are wall-clock stamped: under a bounded-drain trigger
    // (a backfill) the first heartbeat would advance the watermark
    // past the whole backlog and late-drop it — refuse up front.
    require(cfg.heartbeatSecs == 0 || !boundedDrain,
      s"--heartbeat-secs ${cfg.heartbeatSecs} cannot combine with the " +
        s"bounded-drain trigger '${cfg.trigger}': a wall-clock heartbeat " +
        "marks the entire backlog late. Run the backlog through the " +
        "continuous topology with heartbeats instead, starting each " +
        "chained level once its upstream has committed the backlog, so " +
        "it lands in that level's first micro-batch, before any heartbeat.")
    // Spawn-free file I/O and per-batch-stable generated code (see the
    // scaladoc). Each query clones this session's conf at start, so the
    // settings reach every query below.
    LocalFs.bindSession(spark)
    val classIdKey = "spark.sql.codegen.useIdInClassName"
    if (spark.conf.get(classIdKey) == "true") spark.conf.set(classIdKey, "false")
    val hadoopConf = spark.sessionState.newHadoopConf()
    // The indicators layer runs on transformWithState, which only the
    // RocksDB state store provider supports — configure it here (as
    // main() does for the whole app) so callers building their own
    // session don't hit a mid-start state-store error that kills one
    // query while the other layers keep running. Never clobber a
    // caller's explicit non-default choice; fail fast instead.
    if (cfg.layers("indicators")) {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      spark.conf.getOption(key) match {
        case Some(p) if p == rocks => ()
        // The stock default (getOption reports it even when never set
        // explicitly) cannot run transformWithState — switch it. New
        // queries pick this up; queries already running, or restarting
        // from a checkpoint, keep the provider recorded in their
        // offset log (Spark restores it from checkpoint metadata).
        case None | Some(_)
            if spark.conf.getOption(key).forall(_.endsWith("HDFSBackedStateStoreProvider")) =>
          spark.conf.set(key, rocks)
          // We chose RocksDB for the caller, so also choose its
          // production commit mode (deltas, not per-batch snapshots —
          // the r14-measured tax). Unconditional inside THIS branch
          // only: getOption can't distinguish an explicit false from
          // the stock default (it reports defaults, same trap as the
          // provider above), and a caller who wants different RocksDB
          // knobs sets the provider explicitly — which skips this
          // whole branch.
          spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true")
        case Some(p) => throw new IllegalArgumentException(
          s"the indicators layer needs $rocks, but the session pins $key=$p")
      }
    }
    // MIGRATION NOTE: bronze/silver/dead-letter layers write through
    // the native file sink, whose _spark_metadata commit log defines
    // what readers see. Pointing a NEW checkpoint at a directory that
    // already holds parquet written some other way (e.g. a pre-file-
    // sink deployment) silently hides that history from sink-log-aware
    // readers — surface it loudly instead of letting gold silently
    // recompute from post-upgrade data only.
    //
    // The reverse is refused: a checkpoint that has not planned the
    // batches the directory's sink log already holds (a NEW checkpoint
    // over an old output). The file sink skips every batch id its log
    // has seen WITHOUT running it, so the query's first batches lose
    // their rows, and a stateful layer never commits state for them —
    // the first batch past the log then dies with
    // CANNOT_READ_DELTA_FILE_NOT_EXISTS (found in AppSpec's idle
    // cascade, which restarted silver on fresh checkpoints).
    val gold1hFromBars = cfg.chained && cfg.layers("gold5m_final")
    for ((layer, dirName) <- Seq("bronze" -> "bronze", "silver" -> "silver",
           "deadletter" -> "dead_letters", "indicators" -> "indicators",
           "gold5m_final" -> "gold5m_final", "gold1h" -> "gold1h")
         if cfg.layers(layer) && (layer != "gold1h" || gold1hFromBars)) {
      val dir = new org.apache.hadoop.fs.Path(s"${cfg.out}/$dirName")
      val fs = dir.getFileSystem(hadoopConf)
      def lastBatch(log: org.apache.hadoop.fs.Path): Long = {
        val logFs = log.getFileSystem(hadoopConf)
        if (!logFs.exists(log)) -1L
        else logFs.listStatus(log).flatMap(_.getPath.getName.stripSuffix(".compact").toLongOption)
          .maxOption.getOrElse(-1L)
      }
      val hasData = fs.exists(dir) && fs.listStatus(dir).nonEmpty
      val sinkLog = new org.apache.hadoop.fs.Path(dir, "_spark_metadata")
      if (hasData && !fs.exists(sinkLog))
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$dir holds data but no _spark_metadata sink log: files written " +
            "before this stream's first commit will be INVISIBLE to " +
            "sink-log-aware readers (including the chained gold source). " +
            "Migrate the history or use a fresh output directory.")
      val logged = lastBatch(sinkLog)
      val planned = lastBatch(new org.apache.hadoop.fs.Path(s"${cfg.checkpoint}/$layer/offsets"))
      require(logged <= planned,
        s"$dir's sink log holds batches up to $logged, but checkpoint " +
          s"${cfg.checkpoint}/$layer has planned only up to $planned: the file " +
          "sink would skip this query's first batches without running them " +
          "(their rows lost, their state never committed). Resume from the " +
          "checkpoint that wrote the directory, or write to a fresh one.")
    }
    val parsed = cfg.format match {
      case "json" => TradeStreams.parseTrades(raw)
      case "avro" => TradeStreams.parseTradesAvro(raw)
      case other => sys.error(s"unknown format '$other' (json|avro)")
    }
    val watermarked = TradeStreams.withWatermark(parsed, cfg.watermark)
    // Heartbeat decoration goes LAST — above every quality filter,
    // directly under the stateful operators. Decorating the raw parsed
    // feed instead would re-freeze the watermark through a SECOND
    // Catalyst trap (found live in AppSpec): CombineFilters merges the
    // silver quality filter into the strip filter, and
    // PushPredicateThroughNonJoin then pushes its watermark-column-free
    // conjuncts (volume > 0, price > 0) BELOW the EventTimeWatermark
    // node, where the heartbeats' null columns fail them — the rows die
    // before the collector, silently, exactly like an unprotected
    // strip predicate. Heartbeats' scaladoc documents the rule; the
    // "null-hostile filter above the decoration point" test pins it.
    def cleanFeed(): DataFrame =
      if (cfg.heartbeatSecs > 0)
        TradeStreams.dedupWithinWatermark(graft.streaming.Heartbeats.decorate(
          TradeStreams.toSilverStreaming(parsed), "event_time",
          cfg.watermark, cfg.heartbeatSecs))
      else
        TradeStreams.dedupWithinWatermark(TradeStreams.toSilverStreaming(watermarked))
    val mgr = new Sinks.SinkManager

    // Operational visibility (the reference's Prometheus/Grafana
    // analog): a bounded per-batch progress listener always attaches;
    // unless disabled, its ring + the evaluated latency SLO export to
    // a _metrics layer on a 10 s cadence (matching the reference's
    // alert evaluation interval), with a final flush on stopAll so
    // bounded runs keep their last batches.
    val listener = graft.streaming.Monitoring.attach(spark)
    mgr.monitor = Some(listener)
    mgr.onStop(() => spark.streams.removeListener(listener))
    val metricsDir = cfg.metricsOut match {
      case "none" => None
      case "" => Some(s"${cfg.out}/_metrics")
      case d => Some(d)
    }
    metricsDir.foreach { d =>
      val exporter = new graft.streaming.Monitoring.MetricsExporter(
        spark, listener, d, sloMs = cfg.sloMs).start()
      mgr.onStop(() => exporter.stop())
    }

    if (cfg.layers("bronze")) {
      val bronze = Medallion.withAuditTimestamps(
        Medallion.toBronze(parsed.withColumn("trade_date", to_date(col("event_time")))))
      mgr.start("bronze", Sinks.fileSink(bronze, s"${cfg.out}/bronze",
        s"${cfg.checkpoint}/bronze", partitionBy = Seq("trade_date"),
        trigger = trigger, queryName = "bronze"))
    }
    if (cfg.layers("silver")) {
      val silver = cleanFeed()
        .withColumn("trade_date", to_date(col("event_time")))
      // Exactly-once matters here specifically: the chained gold
      // topology STREAMS from this directory, so a foreachBatch
      // append (at-least-once — crash between append and checkpoint
      // commit replays the batch) would double-count duplicated rows
      // into gold bars. The file sink's _spark_metadata commit log
      // closes that window: the chained file source reads only
      // committed files.
      mgr.start("silver", Sinks.fileSink(silver, s"${cfg.out}/silver",
        s"${cfg.checkpoint}/silver", partitionBy = Seq("trade_date"),
        trigger = trigger, queryName = "silver"))
    }
    // NOTE in the default (fan-out) topology each layer is its own
    // StreamingQuery with its own state, mirroring the reference's
    // per-sink fan-out (sinks.py) — gold grains therefore re-run the
    // silver dedup with separate watermark state. With cfg.chained
    // the gold grains instead stream FROM the silver output directory
    // (already deduped and quality-filtered), so the parse+dedup
    // state exists exactly once regardless of grain count.
    // Clean deduped upstream for every silver-derived layer (gold
    // grains, indicators): in chained mode it streams FROM the silver
    // output directory, so the parse+dedup state exists exactly once
    // regardless of how many layers consume it.
    def cleanUpstream(consumer: String): DataFrame =
      if (cfg.chained) {
        // Config validity (silver enabled) was checked up front,
        // before any query started.
        // The file source requires the directory to exist at stream
        // start; silver's first commit would otherwise race it.
        // Hadoop FS API, not java.io.File — the output may be
        // hdfs:// or s3a://, where File.mkdirs is a silent no-op
        // and the stream would fail at start.
        val silverPath = new org.apache.hadoop.fs.Path(s"${cfg.out}/silver")
        silverPath.getFileSystem(hadoopConf).mkdirs(silverPath)
        val files = spark.readStream.schema(silverSchema)
          .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
          .parquet(s"${cfg.out}/silver")
        // An idle silver directory stalls the chained grains exactly
        // like an idle union member — same mitigation, same altitude
        // rule (the file feed is already quality-filtered, so nothing
        // null-hostile sits above the decoration).
        if (cfg.heartbeatSecs > 0)
          graft.streaming.Heartbeats.decorate(files, "event_time",
            cfg.watermark, cfg.heartbeatSecs)
        else TradeStreams.withWatermark(files, cfg.watermark)
      } else cleanFeed()

    // Schema note for existing stores: bars() output gained a
    // `pv_ticks` column (the exact VWAP carry that makes grain
    // rollups lossless). A gold directory written by an earlier build
    // holds files without it; reading the mixed directory resolves
    // the schema from a subset of footers unless
    // spark.read.option("mergeSchema", true) is set — do that once
    // and rewrite, or start a fresh store directory.
    def goldSink(name: String, duration: String): Unit = {
      val grain = Ohlcv.bars(cleanUpstream(name).withColumn("event_id", col("timestamp")), duration)
        .withColumn("window_date", to_date(col("window_start")))
      mgr.start(name, Sinks.parquetSink(grain, s"${cfg.out}/$name",
        s"${cfg.checkpoint}/$name", partitionBy = Seq("window_date"),
        upsertKeys = Seq("symbol", "window_start"),
        trigger = trigger, queryName = name))
    }
    if (cfg.layers("gold5m")) goldSink("gold5m", "5 minutes")
    // Merge-on-read 5m gold: the STATELESS alternative to the
    // watermarked aggregate above. Each micro-batch reduces to partial
    // bars upserted by (symbol, window, batch_id); finished bars
    // materialize at read time via IncrementalGoldStream.read. No
    // watermark ⇒ a backfill batch of any age lands correctly (it
    // adds one partial to an old window) where the gold5m aggregate
    // would drop it. Serving reads pay the merge until `compact` folds
    // partials — the deployment picks per store: watermarked upsert
    // for hot serving, merge-on-read for backfill-heavy history.
    if (cfg.layers("gold5m_mor")) {
      val silverIn = cleanUpstream("gold5m_mor")
        .withColumn("event_id", col("timestamp"))
      mgr.start("gold5m_mor", IncrementalGoldStream.writer(silverIn,
        s"${cfg.out}/gold5m_mor", s"${cfg.checkpoint}/gold5m_mor",
        duration = "5 minutes", trigger = trigger))
    }
    // Finalized-bar variant of the 5m grain: append output mode, so a
    // bar is emitted exactly once — when the watermark closes its
    // window — through the exactly-once file sink (immutable files +
    // _spark_metadata commit log). That makes the directory a safe
    // upstream for a chained file source, which the upsert gold store
    // is not (its buckets rewrite). The upsert store remains the
    // serving layer (live partial bars); this layer is the cascade
    // feed and the archival bar log.
    if (cfg.layers("gold5m_final")) {
      val bars = Ohlcv.bars(cleanUpstream("gold5m_final")
          .withColumn("event_id", col("timestamp")), "5 minutes")
        .withColumn("window_date", to_date(col("window_start")))
      mgr.start("gold5m_final", Sinks.fileSink(bars, s"${cfg.out}/gold5m_final",
        s"${cfg.checkpoint}/gold5m_final", partitionBy = Seq("window_date"),
        trigger = trigger, queryName = "gold5m_final"))
    }
    if (cfg.layers("gold1h")) {
      if (cfg.chained && cfg.layers("gold5m_final")) {
        // A7 as a stream: 1h bars roll up from the FINALIZED 5m bar
        // stream instead of re-aggregating trades — state and input
        // are O(bars), not O(trades), and the parse+dedup+trade-window
        // state exists exactly once in the whole topology. Watermark
        // on window_start: finalized bars arrive in near-monotone
        // window order (a bar is emitted only once its window closed
        // upstream), so one bar-span of slack is already conservative.
        val barsPath = new org.apache.hadoop.fs.Path(s"${cfg.out}/gold5m_final")
        barsPath.getFileSystem(hadoopConf).mkdirs(barsPath)
        val barFiles = spark.readStream.schema(barsSchema)
          .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
          .parquet(s"${cfg.out}/gold5m_final")
        // The cascade needs its OWN heartbeat: an idle trade feed means
        // EMPTY 5m windows upstream, which emit no bars in append mode
        // — so nothing propagates down to advance this layer's
        // watermark and the session's last 1h bar would stay open until
        // the next session's first bar. rollup's per-row shape assert
        // PASSES null-bounded rows by design (r16 ADVICE fix), so the
        // composition is safe in EITHER conjunct order when
        // CombineFilters merges the strip filter with the assert — no
        // Catalyst ordering detail is load-bearing. The strip conjunct
        // still removes heartbeats from the stream before the
        // aggregate (pinned end-to-end in MultiWatermarkSpec's
        // rollup-decoration test and AppSpec's idle-cascade test).
        //
        // DELAY SIZING (r17 — found driving the idle-cascade test
        // end-to-end; the r16 wiring carried the bar-order delay
        // "5 minutes" here and was WRONG under heartbeats): a bar for
        // window [W, W+5m) is only EMITTED upstream once the
        // silver-level heartbeat watermark (wallclock − D) passes
        // W+5m, i.e. at wallclock ≈ W + 5m + D — so against THIS
        // layer's wall-clock heartbeat watermark the bar is D+5m
        // "late" BY CONSTRUCTION, every bar, in steady state. With a
        // 5-minute delay and the default D = 10 minutes, the last
        // bars of every hour arrived behind the 1h aggregate's
        // watermark and were SILENTLY late-dropped — a corrupted
        // hourly bar, no error anywhere (numRowsDroppedByWatermark is
        // the only witness; MultiWatermarkSpec pins both sides). The
        // delay must cover the upstream emission lag: D (upstream
        // watermark delay) + 5m (bar span) + a chain-latency margin
        // (file commit + trigger + catch-up batching; 5m is generous
        // for a live chain — a deeper backlog is the documented
        // backfill posture, which refuses heartbeats anyway). Cost:
        // the session's last 1h bar flushes ~10 min later and
        // O(symbols) windows stay open that much longer — state is
        // bars, not trades. Without heartbeats the watermark derives
        // from bar stamps themselves (near-monotone window order), so
        // the one-bar-span slack remains correct there.
        val barStream =
          if (cfg.heartbeatSecs > 0)
            graft.streaming.Heartbeats.decorate(barFiles, "window_start",
              cascadeHeartbeatDelay(cfg.watermark), cfg.heartbeatSecs)
          else barFiles.withWatermark("window_start", "5 minutes")
        val grain = Ohlcv.rollup(barStream, "1 hour")
          .withColumn("window_date", to_date(col("window_start")))
        mgr.start("gold1h", Sinks.fileSink(grain, s"${cfg.out}/gold1h",
          s"${cfg.checkpoint}/gold1h", partitionBy = Seq("window_date"),
          trigger = trigger, queryName = "gold1h"))
      } else goldSink("gold1h", "1 hour")
    }
    if (cfg.layers("indicators")) {
      // Streaming per-symbol EMA/RSI (the recursive indicators a
      // window cannot express) over the clean deduped feed — the
      // chained form streams from the silver output like the gold
      // grains, keeping parse+dedup state single-copy.
      import spark.implicits._
      val ticks = cleanUpstream("indicators")
        .select(col("symbol"), col("price"), col("event_time"))
        .as[graft.streaming.IndicatorStream.TradeTick]
      val ind = graft.streaming.IndicatorStream.updates(spark, ticks)
        .toDF().withColumn("trade_date", to_date(col("event_time")))
      mgr.start("indicators", Sinks.fileSink(ind, s"${cfg.out}/indicators",
        s"${cfg.checkpoint}/indicators", partitionBy = Seq("trade_date"),
        trigger = trigger, queryName = "indicators"))
    }
    if (cfg.layers("deadletter")) {
      // K5 — validation split: rows failing the rule bundle (including
      // schema-level parse nulls) land in the dead-letter store with
      // their reasons. The future-timestamp bound is re-evaluated per
      // micro-batch (validateStreaming) — a constant here would start
      // rejecting all live traffic after 5 minutes of uptime.
      val validated = graft.operators.Validation.validateStreaming(
        parsed.withColumn("event_id", col("timestamp")))
      val (_, dead) = graft.operators.Validation.split(validated)
      mgr.start("deadletter", Sinks.deadLetterSink(
        dead.withColumn("errors", to_json(col("errors"))),
        s"${cfg.out}/dead_letters", s"${cfg.checkpoint}/deadletter", trigger))
    }
    if (cfg.layers("admission")) {
      // D16 as a stream: classify each incoming crawl slice against
      // the existing corpus (exact_dup / near_dup / new + the matched
      // corpus doc). The corpus side is indexed ONCE here — fingerprint
      // set, shingle signatures, banded LSH keys — and persisted, so a
      // micro-batch pays only its own hashing plus hash-joins against
      // the index: per-batch cost scales with the batch, never the
      // corpus. foreachBatch (not a stream-static join) because the
      // probe is a multi-stage batch plan (aggregations on both sides
      // of an equi-join chain) that streaming joins cannot express.
      val index = graft.operators.Dedup.corpusIndex(
        spark.read.parquet(cfg.corpus)).persist()
      mgr.onStop(() => index.unpersist())
      val docs = spark.readStream.schema(Tables.documentsSchema)
        .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
        .json(cfg.docsIn)
      mgr.start("admission", docs.writeStream
        .queryName("admission")
        .outputMode("append")
        .option("checkpointLocation", s"${cfg.checkpoint}/admission")
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, epochId: Long) =>
          // Idempotent replay: verdicts land in a batch_id partition
          // replaced wholesale via dynamic overwrite — a micro-batch
          // replayed after a crash rewrites its own partition and
          // nothing else (the K1 upsert argument, one partition per
          // epoch).
          graft.operators.Dedup
            .incrementalDedupAgainst(batch, index, cfg.minJaccardE6)
            .withColumn("batch_id", lit(epochId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(s"${cfg.out}/admission")
        })
    }
    mgr
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args)
    val spark = SparkSession.builder()
      .master(cfg.master)
      .appName("graft-market-engine")
      .config(LocalFs.SessionConfs)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // HotSpot refuses to JIT methods >8000 bytecodes (DontCompileHuge
      // Methods): a whole-stage-codegen'd multi-level aggregate cascade
      // can exceed that and run INTERPRETED (~3.5x slower on a8's fused
      // stage, round 9). At 8000 Spark falls back to per-operator
      // execution for oversized stages, which the JIT does compile.
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      // RocksDB-backed state: dedup + window state stays off-heap and
      // spills to disk — required posture for long-running streams.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // ...and changelog checkpointing with it: commit per-batch
      // DELTAS to the checkpoint instead of a full RocksDB snapshot
      // per store instance per batch (snapshots still materialize
      // lazily in maintenance). The r14 StreamBench profile measured
      // the live topology paying a 160 s summed snapshot tax on one
      // catch-up batch without this — the same fix the replay harness
      // has run since r13.
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val raw = cfg.source match {
      case "kafka" => TradeStreams.kafkaSource(spark, cfg.brokers, cfg.topic, cfg.offsets)
      case "file" =>
        TradeStreams.fileSource(spark, cfg.in,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("value",
              org.apache.spark.sql.types.StringType))))
      case other => sys.error(s"unknown source: $other")
    }
    val mgr = start(spark, raw, cfg)
    mgr.awaitAnyTermination()
  }
}
