package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

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

  /** K1 — keyed parquet foreachBatch sink for the update-mode gold
    * layers: checkpointed, 10s processing-time trigger
    * (sinks.py:88-132), each micro-batch merged into the store by
    * `upsertKeys` (see upsertByKey). Append layers use [[fileSink]],
    * whose `_spark_metadata` commit log makes them exactly-once.
    */
  def parquetSink(df: DataFrame, path: String, checkpoint: String,
                  upsertKeys: Seq[String],
                  partitionBy: Seq[String] = Nil,
                  trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                  queryName: String = "parquet_sink"): DataStreamWriter[Row] = {
    df.writeStream
      .queryName(queryName)
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertByKey(batch, path, partitionBy, upsertKeys)
      }
  }

  /** K1 (exactly-once append form) — the native streaming parquet
    * file sink. Committed files are recorded in the sink's
    * `_spark_metadata` log, so a micro-batch replayed after a crash
    * commits the same batch id once, and both batch reads and
    * downstream streaming file sources see only committed files.
    * This is the sink for every append layer: bronze, silver (which
    * chained gold reads as a stream) and the dead letters (K5).
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
    * key buckets and rewriting the whole day 8,640×. `nBuckets` trades
    * rewrite granularity against file count; tune so bucket files stay
    * ~100 MB at the deployment's bar rate.
    *
    * Job shape: a merge into an existing store runs two Spark jobs.
    * (1) One collect of the persisted batch's (keys, partitionBy,
    * bucket) tuples — the only run of the micro-batch plan, bounded by
    * the batch's changed keys. Both the touched (partition, bucket)
    * set and the replaced-key set become null-safe literal set filters
    * (static partition pruning, no join, no broadcast job). (2) One
    * write: read the touched buckets with the schema the store's
    * marker records (no footer-inference job), drop the replaced keys,
    * union the batch, cluster by target directory, overwrite
    * dynamically. A store's first batch skips (1): the write is the
    * only job.
    *
    * NOTE a bare dynamic-overwrite of the batch alone is WRONG for
    * update-mode aggregates: a micro-batch carries only the bars that
    * changed, so overwriting a whole partition with it would drop
    * that partition's other bars (found in review; regression-tested
    * in StreamingSpec).
    *
    * Atomicity: the write job reads the very bucket directories it
    * overwrites, and that is safe without cutting lineage. Dynamic
    * partition overwrite stages every task's output under
    * `.spark-staging-<job>` and replaces the touched directories only
    * at job commit, which runs after every task of the job — the
    * read-back scan included — has finished. (Spark's "overwrite a
    * path that is also being read from" check guards table inserts,
    * not path writes.) A crash mid-commit can leave a touched bucket
    * half-replaced (bounded by one bucket, and replaying the
    * micro-batch converges because the merge is idempotent). A table
    * format with a transactional MERGE (Delta/Iceberg) is the slot-in
    * upgrade when one is allowed on the cluster.
    */
  def upsertByKey(batch: DataFrame, path: String, partitionBy: Seq[String],
                  keys: Seq[String], nBuckets: Int = 16): Unit = {
    require(keys.nonEmpty, "upsertByKey needs at least one key column")
    val spark = batch.sparkSession
    val partCols = partitionBy :+ BucketCol
    val bucketed = batch.withColumn(BucketCol,
      pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong)).cast("int"))
    // The shape a read of the store returns: data columns, then the
    // partition columns (typed as the batch types them — directory
    // names carry no type).
    def readShape(fields: Seq[StructField]): StructType = ColumnBridge.storeShape(StructType(
      fields.filterNot(f => partCols.contains(f.name)) ++ partCols.map(bucketed.schema(_))))
    val batchSchema = readShape(bucketed.schema)
    // "Exists" must mean "has data": a pre-created empty directory
    // holds nothing to merge. Hadoop FS API, not java.io.File — the
    // store may be hdfs:// or s3a://. Resolved from the session's conf,
    // like the write below, so the marker uses the same file system.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sessionState.newHadoopConf())
    val exists = fs.exists(hPath) && fs.listStatus(hPath).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    val layout = specLayout(partitionBy, keys, nBuckets)
    // Cluster rows by their target directory before writing: without
    // this, every one of the 32 writer tasks opens a file in every
    // (date, bucket) directory it sees — a small-file explosion that
    // cost 4x wall-clock (docs/SCALE.md §2). After the repartition each
    // combo is written by exactly one task -> one file per touched
    // bucket per batch.
    def write(rows: DataFrame, mode: String): Unit =
      rows.repartition(partCols.map(col): _*)
        .write
        .option("partitionOverwriteMode", "dynamic")
        .mode(mode)
        .partitionBy(partCols: _*)
        .parquet(path)
    if (!exists) {
      // The spec marker is written BEFORE the first data write: a
      // crash between the two then leaves marker+no-data (harmless —
      // `exists` only counts data, so replay re-runs this branch and
      // overwrites the marker idempotently), never data+no-marker,
      // which would wedge checkpoint replay behind the marker check
      // forever.
      writeStoreSpec(fs, hPath, layout, batchSchema)
      write(bucketed, "append")
    } else {
      // The bucket layout is part of the store's identity: a different
      // nBuckets (or key set) hashes the same key to a different
      // directory and the merge would silently leave the stale row
      // behind. The store's schema is too: the read-back uses it, and
      // a column the store lacks would read as NULLs (a pre-`pv_ticks`
      // gold store would silently corrupt VWAP rollups). Any drift —
      // including a store written by a pre-bucket layout, which has no
      // marker — is a loud error instead of data corruption.
      val recorded = readStoreSpec(fs, hPath, layout)
      // A v1 marker predates recorded schemas: infer the data columns
      // from the footers once, then upgrade the marker.
      val storeSchema = recorded.getOrElse(readShape(spark.read.parquet(path).schema))
      require(storeSchema == batchSchema,
        s"upsert spec mismatch for $path: the store holds [${storeSchema.toDDL}], " +
          s"the batch is [${batchSchema.toDDL}]. Rewrite the store to change its schema.")
      if (recorded.isEmpty) writeStoreSpec(fs, hPath, layout, storeSchema)
      val batchP = bucketed.persist()
      try {
        val tupleCols = (keys ++ partCols).distinct
        val tuples = batchP.select(tupleCols.map(col): _*).collect().toSeq
        if (tuples.nonEmpty) { // an empty micro-batch has nothing to merge
          def distinctOf(cols: Seq[String]): Seq[Row] = {
            val idx = cols.map(tupleCols.indexOf(_))
            tuples.map(r => Row.fromSeq(idx.map(r.get))).distinct
          }
          val combos = distinctOf(partCols)
          val keyRows = distinctOf(keys)
          log.info(s"upsert $path: ${keyRows.size} keys into ${combos.size} touched buckets")
          val survivors = spark.read.schema(storeSchema).parquet(path)
            .filter(ColumnBridge.tupleIn(partCols, combos, storeSchema) &&
              !ColumnBridge.tupleIn(keys, keyRows, storeSchema))
          write(survivors.unionByName(batchP), "overwrite")
        }
      } finally batchP.unpersist()
    }
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def specPath(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_graft_upsert_spec")

  private def specLayout(partitionBy: Seq[String], keys: Seq[String], nBuckets: Int): String =
    s"buckets=$nBuckets|keys=${keys.mkString(",")}|partitionBy=${partitionBy.mkString(",")}"

  /** Marker line: `v2|<layout>|schema=<store schema json>`. */
  private def writeStoreSpec(fs: org.apache.hadoop.fs.FileSystem,
                             root: org.apache.hadoop.fs.Path,
                             layout: String, schema: StructType): Unit = {
    val out = fs.create(specPath(root), true)
    try out.write(s"v2|$layout|schema=${schema.json}".getBytes("UTF-8"))
    finally out.close()
  }

  /** Checks the marker's layout against the caller's and returns the
    * store schema it records — None for a v1 marker, which predates
    * recorded schemas.
    */
  private def readStoreSpec(fs: org.apache.hadoop.fs.FileSystem,
                            root: org.apache.hadoop.fs.Path,
                            layout: String): Option[StructType] = {
    val p = specPath(root)
    require(fs.exists(p),
      s"$root has data but no ${p.getName} marker — it was not written by the " +
        "bucketed upsertByKey (pre-bucket layout?). Rewrite the store through " +
        "upsertByKey once before upserting into it.")
    val in = fs.open(p)
    val found = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
    found match {
      case s"v2|$l|schema=$json" if l == layout =>
        Some(DataType.fromJson(json).asInstanceOf[StructType])
      case s"v1|$l" if l == layout => None
      case _ => throw new IllegalArgumentException(
        s"upsert spec mismatch for $root: store has [${found.split("\\|schema=")(0)}], " +
          s"caller wants [v2|$layout]. Changing nBuckets/keys relocates keys between " +
          "bucket directories and would leave stale rows behind — rewrite the store " +
          "to change its layout.")
    }
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
