package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import scala.collection.mutable

/** Streaming sinks + multi-query management (K1-K5, reference
  * sinks.py).
  *
  * The reference writes micro-batches to Cassandra via foreachBatch
  * with idempotent primary-key upserts as its exactly-once mechanism
  * (CASSANDRA_MODELING.md:69-75). The Spark-native analog: foreachBatch
  * into parquet — append for the immutable bronze/silver layers, a
  * keyed read-back merge (upsertByKey) for the update-mode gold layer,
  * so re-emitted bars replace exactly their key and replays converge
  * instead of duplicating.
  */
object Sinks {

  /** K1 — parquet foreachBatch sink: checkpointed, 10s
    * processing-time trigger (sinks.py:88-132). Append mode for the
    * immutable bronze/silver layers; pass `upsertKeys` for the
    * update-mode gold layer (see upsertByKey).
    *
    * NOTE the append form is at-least-once: a crash between the
    * parquet append and the checkpoint commit replays the micro-batch
    * and appends its rows twice. That is acceptable for a terminal
    * store a downstream dedups anyway, but any append layer that
    * other streams READ FROM (the chained gold topology streams from
    * silver) must use [[fileSink]] instead — its _spark_metadata
    * commit log gives exactly-once and file sources read only
    * committed files.
    */
  def parquetSink(df: DataFrame, path: String, checkpoint: String,
                  partitionBy: Seq[String] = Nil,
                  upsertKeys: Seq[String] = Nil,
                  trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                  queryName: String = "parquet_sink"): DataStreamWriter[Row] = {
    df.writeStream
      .queryName(queryName)
      .outputMode(if (upsertKeys.nonEmpty) "update" else "append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (upsertKeys.nonEmpty) upsertByKey(batch, path, partitionBy, upsertKeys)
        else {
          val w0 = batch.write.mode("append")
          val w = if (partitionBy.nonEmpty) w0.partitionBy(partitionBy: _*) else w0
          w.parquet(path)
        }
      }
  }

  /** K1 (exactly-once append form) — the native streaming parquet
    * file sink. Committed files are recorded in the sink's
    * `_spark_metadata` log, so a micro-batch replayed after a crash
    * commits the same batch id once, and both batch reads and
    * downstream streaming file sources see only committed files.
    * This is the required sink for append layers that another stream
    * consumes (chained gold reads the silver directory) and the
    * preferred one for bronze/dead-letters; `parquetSink`'s
    * foreachBatch append remains for sinks that need per-batch
    * logic.
    */
  def fileSink(df: DataFrame, path: String, checkpoint: String,
               partitionBy: Seq[String] = Nil,
               trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
               queryName: String = "file_sink"): DataStreamWriter[Row] = {
    val w = df.writeStream
      .queryName(queryName)
      .format("parquet")
      .outputMode("append")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
    if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w
  }

  /** Name of the synthetic key-hash partition column added by
    * upsertByKey. Kept free of a leading underscore: Spark's file
    * listing treats `_`-prefixed paths as hidden, so `__bucket=3`
    * directories would silently vanish from reads.
    */
  val BucketCol = "upsert_bucket"

  /** Keyed parquet upsert (the Cassandra-primary-key analog): merge a
    * micro-batch into the store so rows matching `keys` are replaced
    * and everything else survives.
    *
    * Layout: `partitionBy.../upsert_bucket=K/`, K = xxhash64(keys) mod
    * nBuckets. Per batch, only the (partition, bucket) directories
    * that actually contain a batch key are read back, merged, and
    * dynamically overwritten — per-batch I/O is O(batch keys / bucket
    * density), NOT O(touched date partition). With a 10 s trigger on a
    * hot trading day this is the difference between rewriting a few
    * key buckets and rewriting the whole day 8,640×. The touched set
    * is pruned with an explicit OR-of-ANDs predicate on the partition
    * values (collected from the batch — bounded by batch key count),
    * so pruning is static and guaranteed, not dependent on runtime
    * DPP. `nBuckets` trades rewrite granularity against file count;
    * tune so bucket files stay ~100 MB at the deployment's bar rate.
    *
    * NOTE a bare dynamic-overwrite of the batch alone is WRONG for
    * update-mode aggregates: a micro-batch carries only the bars that
    * changed, so overwriting a whole partition with it would drop
    * that partition's other bars (found in review; regression-tested
    * in StreamingSpec).
    *
    * Atomicity: dynamic partition overwrite stages files and commits
    * by per-directory rename — a crash mid-commit can leave a touched
    * bucket half-replaced (bounded by one bucket, and replaying the
    * micro-batch converges because the merge is idempotent). A table
    * format with a transactional MERGE (Delta/Iceberg) is the slot-in
    * upgrade when one is allowed on the cluster.
    */
  def upsertByKey(batch: DataFrame, path: String, partitionBy: Seq[String],
                  keys: Seq[String], nBuckets: Int = 16): Unit = {
    require(keys.nonEmpty, "upsertByKey needs at least one key column")
    val spark = batch.sparkSession
    val bucketed = batch.withColumn(BucketCol,
      pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong)).cast("int"))
    val batchP = bucketed.persist()
    try {
      val partCols = partitionBy :+ BucketCol
      // "Exists" must mean "has data": a pre-created empty directory
      // would make the read-back fail schema inference. Hadoop FS API,
      // not java.io.File — the store may be hdfs:// or s3a://.
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val exists = fs.exists(hPath) && fs.listStatus(hPath).exists { s =>
        val n = s.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
      // The bucket layout is part of the store's identity: a different
      // nBuckets (or key set) hashes the same key to a different
      // directory and the merge would silently leave the stale row
      // behind. The spec marker makes any drift — including a store
      // written by a pre-bucket layout, which has no marker — a loud
      // error instead of data corruption. Written BEFORE the first
      // data write: a crash between the two then leaves marker+no-data
      // (harmless — `exists` only counts data, so replay re-runs this
      // branch and overwrites the marker idempotently), never
      // data+no-marker, which would wedge checkpoint replay behind the
      // marker check forever.
      if (exists) checkStoreSpec(fs, hPath, partitionBy, keys, nBuckets)
      else writeStoreSpec(fs, hPath, partitionBy, keys, nBuckets)
      val merged = if (exists) {
        val existing = spark.read.parquet(path)
        // Exact touched (partition..., bucket) combos from the batch —
        // tiny (bounded by batch keys) — as a static pruning predicate.
        // Null-SAFE equality: `===` on a NULL partition value yields
        // NULL, which would exclude that directory's surviving rows
        // from the merge while dynamic overwrite still rewrites it.
        val combos = batchP.select(partCols.map(col): _*).distinct().collect()
        if (combos.isEmpty) return // empty micro-batch: nothing to merge
        val touchedPred = combos.map { row =>
          partCols.zipWithIndex.map { case (c, i) =>
            col(c) <=> lit(row.get(i))
          }.reduce(_ && _)
        }.reduce(_ || _)
        val touched = existing.filter(touchedPred)
        val untouchedOfBucket = touched.join(
          broadcast(batchP.select(keys.map(col): _*).distinct()), keys, "left_anti")
        // Cut lineage before overwriting the path we just read.
        untouchedOfBucket.unionByName(batchP).select(existing.columns.toIndexedSeq.map(col): _*)
          .localCheckpoint(true)
      } else batchP
      // Cluster rows by their target directory before writing: without
      // this, every one of the 32 writer tasks opens a file in every
      // (date, bucket) directory it sees — a small-file explosion that
      // cost 4x wall-clock (docs/SCALE.md §2). After the repartition each
      // combo is written by exactly one task -> one file per touched
      // bucket per batch.
      merged
        .repartition(partCols.map(col): _*)
        .write
        .option("partitionOverwriteMode", "dynamic")
        .mode(if (exists) "overwrite" else "append")
        .partitionBy(partCols: _*)
        .parquet(path)
    } finally batchP.unpersist()
  }

  private def specPath(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_graft_upsert_spec")

  private def specLine(partitionBy: Seq[String], keys: Seq[String], nBuckets: Int): String =
    s"v1|buckets=$nBuckets|keys=${keys.mkString(",")}|partitionBy=${partitionBy.mkString(",")}"

  private def writeStoreSpec(fs: org.apache.hadoop.fs.FileSystem,
                             root: org.apache.hadoop.fs.Path,
                             partitionBy: Seq[String], keys: Seq[String],
                             nBuckets: Int): Unit = {
    val out = fs.create(specPath(root), true)
    try out.write(specLine(partitionBy, keys, nBuckets).getBytes("UTF-8"))
    finally out.close()
  }

  private def checkStoreSpec(fs: org.apache.hadoop.fs.FileSystem,
                             root: org.apache.hadoop.fs.Path,
                             partitionBy: Seq[String], keys: Seq[String],
                             nBuckets: Int): Unit = {
    val p = specPath(root)
    require(fs.exists(p),
      s"$root has data but no ${p.getName} marker — it was not written by the " +
        "bucketed upsertByKey (pre-bucket layout?). Rewrite the store through " +
        "upsertByKey once before upserting into it.")
    val in = fs.open(p)
    val found = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
    val expect = specLine(partitionBy, keys, nBuckets)
    require(found == expect,
      s"upsert spec mismatch for $root: store has [$found], caller wants [$expect]. " +
        "Changing nBuckets/keys relocates keys between bucket directories and " +
        "would leave stale rows behind — rewrite the store to change its layout.")
  }

  /** K2 — console sink (sinks.py:147-164). */
  def consoleSink(df: DataFrame, numRows: Int = 20, truncate: Boolean = true,
                  queryName: String = "console_sink"): DataStreamWriter[Row] =
    df.writeStream.queryName(queryName).format("console")
      .option("numRows", numRows).option("truncate", truncate)

  /** P6/K3 — Kafka sink projection: re-key by symbol, serialize the
    * whole row as JSON (sinks.py:181-202). Exposed separately so the
    * projection is batch-testable without a broker.
    */
  def kafkaProjection(df: DataFrame): DataFrame =
    df.selectExpr("CAST(symbol AS STRING) AS key", "to_json(struct(*)) AS value")

  def kafkaSink(df: DataFrame, bootstrap: String, topic: String,
                checkpoint: String, queryName: String = "kafka_sink"): DataStreamWriter[Row] =
    kafkaProjection(df).writeStream
      .queryName(queryName)
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** K5 — dead-letter branch writer: the invalid split of
    * Validation.split, persisted with its error reasons. Takes the
    * caller's trigger like every other sink — silently keeping the
    * 10 s default here left the dead-letter branch up to one trigger
    * interval behind the app's configured cadence (found live: a
    * trigger=0 test drained every sink except this one).
    */
  def deadLetterSink(invalid: DataFrame, path: String, checkpoint: String,
                     trigger: Trigger = Trigger.ProcessingTime("10 seconds")): DataStreamWriter[Row] =
    fileSink(invalid.withColumn("dead_lettered_at", current_timestamp()),
      path, checkpoint, trigger = trigger, queryName = "dead_letters")

  /** K4 — multi-sink fan-out manager: N concurrent StreamingQuery
    * handles from one source (SinkManager, sinks.py:209-245).
    */
  final class SinkManager {
    private val queries = mutable.LinkedHashMap[String, StreamingQuery]()
    private val stopHooks = mutable.ArrayBuffer.empty[() => Unit]

    /** Operational metrics for the managed queries, when the owner
      * attached one (App.start always does).
      */
    @volatile var monitor: Option[Monitoring.ProgressListener] = None

    def start(name: String, writer: DataStreamWriter[Row]): StreamingQuery = {
      val q = writer.start()
      queries(name) = q
      q
    }

    /** Cleanup to run after the queries stop (listener removal,
      * metrics-export flush). Hooks run in registration order; one
      * failing hook must not starve the rest.
      */
    def onStop(hook: () => Unit): Unit = stopHooks += hook

    def status: Map[String, Boolean] =
      queries.map { case (n, q) => n -> q.isActive }.toMap

    /** The managed query handles, by sink name — read-only view for
      * callers that profile or assert on StreamingQueryProgress (the
      * per-layer phase split of
      * `python3 perfbench/run.py --workload live --trace 1`).
      */
    def handles: Map[String, StreamingQuery] = queries.toMap

    def processAllAvailable(): Unit = queries.values.foreach(_.processAllAvailable())

    def awaitAnyTermination(): Unit =
      queries.values.headOption.foreach(_.sparkSession.streams.awaitAnyTermination())

    def stopAll(): Unit = {
      queries.values.foreach(_.stop())
      stopHooks.foreach { h =>
        try h() catch {
          case e: Exception => org.slf4j.LoggerFactory.getLogger(getClass)
            .warn("stop hook failed", e)
        }
      }
    }
  }
}
