package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Medallion, Multimodal, Retention}
import graft.sources.Tables
import graft.streaming.QuoteStreams

class QuoteRetentionSpec extends SparkSpecBase {
  import spark.implicits._

  private val t0 = 1705312800000L

  test("quote parsing + spread metrics (the stream the reference never consumes)") {
    val raw = Seq(
      s"""{"symbol":"AAPL","bid_price":99.0,"bid_size":300,"ask_price":101.0,"ask_size":100,"timestamp":$t0}""")
      .toDF("value")
    val q = QuoteStreams.withSpreadMetrics(QuoteStreams.parseQuotes(raw)).collect().head
    assert(q.getAs[Double]("mid") === 100.0)
    assert(q.getAs[Double]("spread") === 2.0)
    assert(math.abs(q.getAs[Double]("spread_bps") - 200.0) < 1e-9)
    assert(q.getAs[Double]("imbalance") === 0.5)
  }

  test("trades align to the prevailing quote via as-of") {
    val trades = Seq(("AAPL", t0 + 5000, 100.5), ("AAPL", t0 - 5000, 98.0))
      .toDF("symbol", "ts", "price")
      .withColumn("event_time", (col("ts") / 1000).cast("timestamp"))
    val quotes = Seq(("AAPL", t0, 99.0, 101.0))
      .toDF("symbol", "ts", "bid_price", "ask_price")
      .withColumn("event_time", (col("ts") / 1000).cast("timestamp"))
    val out = QuoteStreams.tradesWithPrevailingQuote(trades, quotes)
      .collect().map(r => r.getAs[Double]("price") ->
        Option(r.getAs[java.lang.Double]("quote_bid_price"))).toMap
    assert(out(100.5) === Some(99.0)) // trade after the quote sees it
    assert(out(98.0) === None)        // trade before any quote
  }

  test("stream-stream interval join keeps only in-window quotes") {
    implicit val sqlCtx = spark.sqlContext
    val tMem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Double, Long)]
    val qMem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Double, Double, Long)]
    val trades = tMem.toDF().toDF("symbol", "price", "ts")
      .withColumn("event_time", (col("ts") / 1000).cast("timestamp"))
      .withWatermark("event_time", "1 minute")
    val quotes = qMem.toDF().toDF("symbol", "bid_price", "ask_price", "ts")
      .withColumn("event_time", (col("ts") / 1000).cast("timestamp"))
      .withWatermark("event_time", "1 minute")
    val q = QuoteStreams.streamStreamQuoteJoin(trades, quotes, "5 minutes")
      .writeStream.format("memory").queryName("ssj_out").outputMode("append").start()
    qMem.addData(
      ("AAPL", 99.0, 101.0, t0 - 60000),   // 1 min before: in window
      ("AAPL", 90.0, 92.0, t0 - 600000),   // 10 min before: outside
      ("MSFT", 1.0, 2.0, t0 - 30000))      // wrong symbol
    tMem.addData(("AAPL", 100.0, t0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("ssj_out").collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Double]("bid_price") === 99.0)
  }

  test("resize stage preserves aspect ratio with integer arithmetic") {
    import spark.implicits._
    val feats = Seq(
      Multimodal.MediaFeatures(1L, "image", 100L, 448, 224, 1, 0L),
      Multimodal.MediaFeatures(2L, "image", 100L, 100, 50, 1, 0L)).toDS()
    val out = Multimodal.withResize(feats, 224).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("resized_w"), r.getAs[Int]("resized_h"))).toMap
    assert(out(1L) === (224, 112)) // halved, aspect kept
    assert(out(2L) === (100, 50))  // already inside the box: untouched
  }

  test("retention: read predicate + partition drop reclaim") {
    val dir = Files.createTempDirectory("graft_ttl").toString
    val silver = Medallion.dedup(Medallion.toSilver(
      Tables.trades(spark, Sf), lit("2024-02-01 00:00:00").cast("timestamp")))
    silver.write.mode("overwrite").partitionBy("trade_date").parquet(dir)
    val before = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("trade_date="))

    // Keep 7 days as of Jan 31 -> Jan 25..31 survive.
    val kept = Retention.retained(spark.read.parquet(dir), "trade_date", 7, "2024-01-31")
    assert(kept.select(min(col("trade_date"))).collect().head.getDate(0).toString === "2024-01-25")

    val dropped = Retention.dropExpiredPartitions(spark, dir, "trade_date", 7, "2024-01-31")
    val after = new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("trade_date="))
    assert(dropped.nonEmpty && after === before - dropped.size)
    assert(after <= 7)
    // Store still readable post-drop and agrees with the predicate form.
    assert(spark.read.parquet(dir).count() === kept.count())
  }

  test("gold sink replay is idempotent (exactly-once convergence)") {
    val dir = Files.createTempDirectory("graft_replay").toString
    val bars = Seq(("AAPL", "2024-01-15", 10.0, 5L), ("MSFT", "2024-01-15", 20.0, 3L))
      .toDF("symbol", "window_date", "close", "volume")
    def writeBatch(): Unit =
      bars.write
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").partitionBy("window_date").parquet(dir)
    writeBatch(); writeBatch() // replayed micro-batch
    assert(spark.read.parquet(dir).count() === 2) // converged, not 4
  }
}
