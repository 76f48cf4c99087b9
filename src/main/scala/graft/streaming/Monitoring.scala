package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Engine-side observability for the streaming graph — the analog of
  * the reference's Prometheus/Grafana monitoring and its one hard SLO
  * (ingest→silver batch latency alert at 10 s; BASELINE.md). The
  * reference scrapes executor metrics; here the engine itself records
  * per-micro-batch progress through a `StreamingQueryListener`, which
  * is the Spark-native source for exactly those numbers — rows,
  * throughput, trigger latency, state size — with no polling and no
  * second system.
  *
  * Scale posture: the listener is driver-side by construction (query
  * progress events ARE driver events) and bounded — a ring of the
  * last `capacity` batch records across all queries, a few hundred
  * bytes each. Snapshots materialize to a DataFrame for the same
  * serving queries everything else uses; alert evaluation is a plain
  * filter over it.
  */
object Monitoring {

  /** One micro-batch's operational record: the engine's own phase
    * split (`durationMs`), state size and commit time, and rows the
    * watermark dropped as late. `source_ms` is getBatch + latestOffset.
    * State bytes are the store's resident footprint: the max of
    * `memoryUsedBytes` (HDFS-backed store, RocksDB block cache) and
    * RocksDB's on-disk SST total, per stateful operator.
    */
  case class BatchMetric(
      query: String,
      batch_id: Long,
      ts: String,
      input_rows: Long,
      input_rows_per_sec: Double,
      processed_rows_per_sec: Double,
      batch_duration_ms: Long,
      state_rows: Long,
      add_batch_ms: Long,
      wal_commit_ms: Long,
      commit_offsets_ms: Long,
      query_planning_ms: Long,
      source_ms: Long,
      state_commit_ms: Long,
      state_bytes: Long,
      late_dropped_rows: Long)

  object BatchMetric {
    /** The one place a `StreamingQueryProgress` is read. */
    def of(p: StreamingQueryProgress): BatchMetric = {
      def phase(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators.toSeq
      BatchMetric(
        query = Option(p.name).getOrElse(p.id.toString),
        batch_id = p.batchId,
        ts = p.timestamp,
        input_rows = p.numInputRows,
        input_rows_per_sec = nanSafe(p.inputRowsPerSecond),
        processed_rows_per_sec = nanSafe(p.processedRowsPerSecond),
        batch_duration_ms = phase("triggerExecution"),
        state_rows = ops.map(_.numRowsTotal).sum,
        add_batch_ms = phase("addBatch"),
        wal_commit_ms = phase("walCommit"),
        commit_offsets_ms = phase("commitOffsets"),
        query_planning_ms = phase("queryPlanning"),
        source_ms = phase("getBatch") + phase("latestOffset"),
        state_commit_ms = ops.map(_.commitTimeMs).sum,
        state_bytes = ops.map { op =>
          val sst = Option(op.customMetrics.get("rocksdbSstFileSize")).map(_.longValue).getOrElse(0L)
          math.max(op.memoryUsedBytes, sst)
        }.sum,
        late_dropped_rows = ops.map(_.numRowsDroppedByWatermark).sum)
    }

    private def nanSafe(d: Double): Double = if (d.isNaN || d.isInfinite) 0.0 else d
  }

  /** Bounded per-batch progress recorder. Thread-safe: listener
    * callbacks arrive on the streams bus thread while readers
    * snapshot from user code.
    */
  final class ProgressListener(capacity: Int = 1024) extends StreamingQueryListener {
    require(capacity > 0, s"need capacity > 0, got $capacity")
    private val buf = mutable.ArrayDeque.empty[BatchMetric]

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val m = BatchMetric.of(e.progress)
      synchronized {
        buf.append(m)
        while (buf.size > capacity) buf.removeHead()
      }
    }

    def snapshot: Seq[BatchMetric] = synchronized { buf.toSeq }

    /** The recorded batches as a DataFrame, for the serving-query
      * surface (and parquet export for dashboards).
      */
    def metrics(spark: SparkSession): DataFrame = {
      import spark.implicits._
      snapshot.toDF()
    }

    /** Batches over the latency SLO — the reference's 10 s
      * ingest→silver alert expressed engine-side.
      */
    def slowBatches(thresholdMs: Long = 10000L): Seq[BatchMetric] =
      snapshot.filter(_.batch_duration_ms > thresholdMs)
  }

  /** Attach a fresh listener to the session's streams bus. Caller
    * owns removal (`spark.streams.removeListener`).
    */
  def attach(spark: SparkSession, capacity: Int = 1024): ProgressListener = {
    val l = new ProgressListener(capacity)
    spark.streams.addListener(l)
    l
  }

  /** Periodic parquet export of the metric ring plus SLO evaluation —
    * the runtime analog of the reference's Prometheus scrape +
    * alert rule. Writes `dir/batches` (full ring) and `dir/alerts`
    * (batches over `sloMs`, the reference's 10 s ingest→silver
    * latency alert) on a fixed cadence, logging a WARN whenever the
    * alert set is non-empty; `stop()` flushes one final export so a
    * bounded run (available-now backfill, tests) never loses its
    * last batches to the cadence. Overwrite-mode single-directory
    * writes: the export is a dashboard snapshot, not a history — the
    * ring itself bounds retention.
    */
  final class MetricsExporter(spark: SparkSession, listener: ProgressListener,
                              dir: String, sloMs: Long = 10000L,
                              periodMs: Long = 10000L) {
    require(periodMs > 0, s"need periodMs > 0, got $periodMs")
    private val log = org.slf4j.LoggerFactory.getLogger(getClass)
    private val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-metrics-exporter"); t.setDaemon(true); t
      })

    def start(): this.type = {
      exec.scheduleWithFixedDelay(() => exportOnce(), periodMs, periodMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      this
    }

    /** One export pass. Never throws: an export failure (e.g. the
      * output FS hiccuping) must not cancel the schedule or take the
      * pipeline down — monitoring outlives its own bad writes.
      */
    def exportOnce(): Unit = synchronized {
      try {
        import spark.implicits._
        // One file per table: a ring of a few hundred rows split over
        // defaultParallelism tasks took that many slots from the live
        // queries and wrote that many part files per export.
        listener.metrics(spark).coalesce(1).write.mode("overwrite").parquet(s"$dir/batches")
        val alerts = listener.slowBatches(sloMs)
        alerts.toDF().coalesce(1).write.mode("overwrite").parquet(s"$dir/alerts")
        if (alerts.nonEmpty)
          log.warn(s"SLO: ${alerts.size} micro-batch(es) over ${sloMs} ms " +
            s"(slowest ${alerts.map(_.batch_duration_ms).max} ms, " +
            s"query ${alerts.maxBy(_.batch_duration_ms).query})")
      } catch {
        case e: Exception => log.warn(s"metrics export to $dir failed", e)
      }
    }

    def stop(): Unit = {
      exec.shutdown()
      exportOnce()
    }
  }
}
