package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming side of the engine: sources, JSON parsing, watermarking,
  * streaming dedup — the operators the reference wires in
  * spark_processor.py:135-183 (S1, P1, P2, A5, F2).
  *
  * Every transform is a pure DataFrame -> DataFrame function shared
  * with the batch path, so the duckdb-oracle-checked batch semantics
  * are exactly what streams execute (SURVEY.md §7.1).
  */
object TradeStreams {

  /** TRADE_SCHEMA (reference transformations.py:25-32), with
    * `conditions` as array<string> per the Avro contract
    * (trade.avsc:28-34; the reference's string-typed Spark schema is a
    * declared-vs-used bug we fix — SURVEY.md §7.5.5).
    */
  val tradeSchema: StructType = StructType(Seq(
    StructField("symbol", StringType),
    StructField("price", DoubleType),
    StructField("volume", LongType),
    StructField("timestamp", LongType),
    StructField("conditions", ArrayType(StringType)),
    StructField("ingestion_time", LongType)))

  /** The reference's provisioned topic layout
    * (scripts/create_topics.sh:44-55).
    */
  object Topics {
    val TradesRaw = "trades_raw"
    val QuotesRaw = "quotes_raw"
    val CryptoRaw = "crypto_raw"
    val DeadLetters = "dead_letters"
    val All: Seq[String] = Seq(TradesRaw, QuotesRaw, CryptoRaw, DeadLetters)
  }

  /** Default per-trigger offset cap. Without one, the first batch
    * after downtime reads the WHOLE backlog, and every per-key
    * stateful stage downstream (KeyedFold's folds sort a key's
    * micro-batch slice in memory) sees an unbounded buffer. The cap
    * makes catch-up a sequence of bounded batches instead — the Kafka
    * analog of the file source's maxFilesPerTrigger bound.
    */
  val DefaultMaxOffsetsPerTrigger: Long = 1000000L

  /** S1 — Kafka streaming scan (read_from_kafka,
    * spark_processor.py:116-133): subscribe, latest offsets, tolerate
    * data loss. Returns the raw (key, value, topic, ...) frame.
    * Accepts one topic or the reference's whole four-topic layout —
    * one consumer group/scan either way; use [[topicBranch]] to split.
    */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String,
                  startingOffsets: String = "latest"): DataFrame =
    kafkaSource(spark, bootstrap, Seq(topic), startingOffsets)

  def kafkaSource(spark: SparkSession, bootstrap: String, topics: Seq[String],
                  startingOffsets: String): DataFrame =
    kafkaSource(spark, bootstrap, topics, startingOffsets, DefaultMaxOffsetsPerTrigger)

  def kafkaSource(spark: SparkSession, bootstrap: String, topics: Seq[String],
                  startingOffsets: String, maxOffsetsPerTrigger: Long): DataFrame =
    spark.readStream
      .format("kafka")
      .options(kafkaOptions(bootstrap, topics, startingOffsets, maxOffsetsPerTrigger))
      .load()

  /** Reader options for a subscribe-list scan — exposed so the config
    * contract is testable without a broker (none in this sandbox).
    */
  def kafkaOptions(bootstrap: String, topics: Seq[String],
                   startingOffsets: String,
                   maxOffsetsPerTrigger: Long = DefaultMaxOffsetsPerTrigger): Map[String, String] = {
    require(topics.nonEmpty, "at least one topic")
    require(maxOffsetsPerTrigger > 0, "maxOffsetsPerTrigger must be positive")
    Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "subscribe" -> topics.mkString(","),
      "startingOffsets" -> startingOffsets,
      "maxOffsetsPerTrigger" -> maxOffsetsPerTrigger.toString,
      "failOnDataLoss" -> "false")
  }

  /** Pattern-subscribe form (e.g. ".*_raw" picks up new per-venue raw
    * topics without a restart).
    */
  def kafkaSourcePattern(spark: SparkSession, bootstrap: String, pattern: String,
                         startingOffsets: String = "latest",
                         maxOffsetsPerTrigger: Long = DefaultMaxOffsetsPerTrigger): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribePattern", pattern)
      .option("startingOffsets", startingOffsets)
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger.toString)
      .option("failOnDataLoss", "false")
      .load()

  /** One topic's rows out of a multi-subscribe scan. The filter is on
    * Kafka's `topic` metadata column and rides the scan: each branch
    * is a lazy view, so trades feed [[parseTrades]] and quotes feed
    * QuoteStreams.parseQuotes from ONE consumer scan.
    */
  def topicBranch(raw: DataFrame, topic: String): DataFrame =
    raw.filter(col("topic") === topic)

  /** File-based streaming source over a parquet directory — the test
    * and replay path (SURVEY.md S2: the WebSocket producer is outside
    * the engine; tests use file/memory streams).
    */
  def fileSource(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** P1 — JSON decode against the fixed schema: value bytes -> string
    * -> from_json -> flatten (parse_kafka_value,
    * transformations.py:51-66).
    */
  def parseKafkaValue(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast("string"), tradeSchema).as("trade"))
      .select(col("trade.*"))

  /** Avro writer schema for trade values — the contract the reference
    * registers with BACKWARD compatibility
    * (schemas/avro/trade.avsc:1-42, scripts/register_schemas.py:17-20)
    * even though its own producer ships JSON. Field names/types match
    * `tradeSchema` exactly, so both decode paths produce identical
    * rows.
    */
  val tradeAvroSchema: String =
    """{"type":"record","name":"Trade","namespace":"com.finnhub.market","fields":[
      |{"name":"symbol","type":"string"},
      |{"name":"price","type":"double"},
      |{"name":"volume","type":"long"},
      |{"name":"timestamp","type":"long"},
      |{"name":"conditions","type":{"type":"array","items":"string"},"default":[]},
      |{"name":"ingestion_time","type":"long"}]}""".stripMargin

  /** quote.avsc:1-50 analog for the quotes_raw topic. */
  val quoteAvroSchema: String =
    """{"type":"record","name":"Quote","namespace":"com.finnhub.market","fields":[
      |{"name":"symbol","type":"string"},
      |{"name":"bid_price","type":"double"},
      |{"name":"bid_size","type":"long"},
      |{"name":"ask_price","type":"double"},
      |{"name":"ask_size","type":"long"},
      |{"name":"timestamp","type":"long"},
      |{"name":"ingestion_time","type":"long"}]}""".stripMargin

  /** P1, Avro form — decode registry-style Avro-encoded value bytes
    * against the trade writer schema. Same output columns as the JSON
    * path; pick per topic. (The registry itself is a service, not an
    * operator — binary decode against the registered writer schema
    * covers the data plane; graft.functions.AvroDecode because this
    * Spark build bundles the Avro file format but not the spark-avro
    * SQL module.)
    */
  def parseKafkaValueAvro(raw: DataFrame,
                          schemaJson: String = tradeAvroSchema): DataFrame =
    raw.select(graft.functions.AvroFunctions
        .fromAvro(col("value"), schemaJson).as("trade"))
      .select(col("trade.*"))

  /** Avro trade decode + event time (the from_avro analog of
    * [[parseTrades]]).
    */
  def parseTradesAvro(raw: DataFrame): DataFrame =
    withEventTime(parseKafkaValueAvro(raw))

  /** P2 — event-time derivation: epoch-ms -> timestamp
    * (parse_with_event_time, transformations.py:69-83).
    */
  def withEventTime(parsed: DataFrame): DataFrame =
    parsed.withColumn("event_time", to_timestamp(col("timestamp") / 1000))

  /** P1+P2 composed — the entry transform of the consumer. */
  def parseTrades(raw: DataFrame): DataFrame = withEventTime(parseKafkaValue(raw))

  /** Typed form: the parsed stream as Dataset[Trade] (compile-time
    * field checks downstream; graft.model mirrors the Avro contract).
    */
  def parseTradesTyped(spark: SparkSession, raw: DataFrame): org.apache.spark.sql.Dataset[graft.model.Trade] = {
    import spark.implicits._
    parseTrades(raw)
      .select(col("symbol"), col("price"), col("volume"), col("timestamp"),
        col("conditions"), col("event_time"))
      .as[graft.model.Trade]
  }

  /** A5 — watermark: late events beyond `delay` are dropped from
    * stateful ops (apply_watermark, transformations.py:211-224;
    * default 10 minutes, spark_processor.py:45).
    */
  def withWatermark(df: DataFrame, delay: String = "10 minutes"): DataFrame =
    df.withWatermark("event_time", delay)

  /** F2 (streaming) — dedup on the business key with state bounded by
    * the watermark. `dropDuplicatesWithinWatermark` evicts keys older
    * than the watermark, so state is O(traffic within the lateness
    * window) instead of unbounded — the difference between a demo and
    * something that survives weeks of uptime (SURVEY.md §7.5.2).
    */
  def dedupWithinWatermark(df: DataFrame): DataFrame =
    df.dropDuplicatesWithinWatermark(Seq("symbol", "timestamp"))

  /** F1 (streaming form) — the batch silver rule
    * (`Medallion.toSilver`) with the wall-clock future-event guard the
    * reference uses (to_silver, transformations.py:114-137).
    * `current_timestamp()` in streaming is micro-batch evaluation time
    * (SURVEY.md §7.5.3); the bound reaches generated code by reference
    * ([[graft.functions.BatchConstant]]), not as a per-batch literal.
    */
  def toSilverStreaming(df: DataFrame): DataFrame =
    graft.operators.Medallion.toSilver(df,
      graft.functions.BatchConstant(current_timestamp() + expr("INTERVAL 5 MINUTES")))
}
