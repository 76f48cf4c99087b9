package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.operators.Incremental

/** Stateless streaming OHLCV maintenance — the merge-on-read pattern.
  *
  * The watermarked streaming aggregate (TradeStreams/Ohlcv) holds every
  * open window's state in the state store and cannot emit a bar for an
  * event older than the watermark. This sink is the complementary
  * design, the one a 100 TB backfill-tolerant pipeline needs: NO
  * streaming state at all. Each micro-batch is reduced to partial bars
  * (O(symbols × windows touched), the batch's smallest faithful
  * summary) and upserted keyed by (symbol, window_start, batch_id);
  * because bar partials form a commutative monoid
  * ([[Incremental.combinePartials]]), the finished bar is recovered at
  * READ time by merging a window's partials across batches. Late data
  * needs no watermark exception — a straggler batch just contributes
  * one more partial to an old window.
  *
  * Exactly-once without transactions: a replayed micro-batch carries
  * the same batch_id, so its upsert REPLACES its own earlier partials
  * (Sinks.upsertByKey key-replacement) instead of double-counting —
  * idempotent convergence, same contract the reference gets from
  * Cassandra primary-key upserts (CASSANDRA_MODELING.md:69-75).
  *
  * Read amplification grows with partials per window (one per touching
  * batch); [[compact]] folds them back to one row per bar. The
  * compact-while-writing race is the known limitation: fold it into a
  * maintenance window, or swap the store for a transactional table
  * format where MERGE gives the same semantics atomically.
  */
object IncrementalGoldStream {

  private val BatchCol = "batch_id"
  private val UpsertKeys = Seq("symbol", "window_start", BatchCol)

  /** The foreachBatch body, exposed for direct testing (replay = call
    * again with the same batchId) and for embedding in custom sinks.
    */
  def mergeBatch(batch: DataFrame, batchId: Long, path: String,
                 duration: String, nBuckets: Int = 16): Unit = {
    val partials = Incremental.partialBars(batch, duration)
      .withColumn(BatchCol, lit(batchId))
    Sinks.upsertByKey(partials, path, partitionBy = Nil, keys = UpsertKeys,
      nBuckets = nBuckets)
  }

  /** Streaming writer: silver trades in, partial-bar store at `path`
    * out. Append output mode — the sink consumes raw rows, no
    * stateful aggregate upstream, so there is nothing for update mode
    * to update and no watermark requirement.
    */
  def writer(trades: DataFrame, path: String, checkpoint: String,
             duration: String = "5 minutes",
             trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
             nBuckets: Int = 16): DataStreamWriter[Row] =
    trades.writeStream
      .queryName("incremental_gold")
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(batch, batchId, path, duration, nBuckets)
      }

  /** Merge-on-read view: finished bars, identical to a batch
    * [[graft.operators.Ohlcv.bars]] over everything streamed so far.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    Incremental.mergeBars(
      spark.read.parquet(path).drop(Sinks.BucketCol, BatchCol))

  /** Fold all of a bar's per-batch partials into one row (batch_id
    * −1, reserved: real micro-batch ids are non-negative). Runs
    * through the same upsert layout so post-compaction upserts keep
    * working. NOT atomic vs a concurrent writer — maintenance-window
    * op (see class doc).
    */
  def compact(spark: SparkSession, path: String, nBuckets: Int = 16): Unit = {
    val combined = Incremental.combinePartials(
        spark.read.parquet(path).drop(Sinks.BucketCol, BatchCol))
      .withColumn(BatchCol, lit(-1L))
      .localCheckpoint(true) // cut lineage: the source dir is replaced below
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(hPath, true)
    Sinks.upsertByKey(combined, path, partitionBy = Nil, keys = UpsertKeys,
      nBuckets = nBuckets)
  }
}
