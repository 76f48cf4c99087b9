package graft

import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{current_date, current_timestamp}
import org.apache.spark.sql.types.TimestampType

import graft.functions.BatchConstant
import graft.operators.Medallion
import graft.streaming.TradeStreams

/** Per-batch constants reach generated code by reference
  * ([[graft.functions.BatchConstant]]), so a micro-batch after the first
  * compiles nothing, and the rules built over them keep their meaning.
  */
class CodegenStabilitySpec extends SparkSpecBase {
  import spark.implicits._

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Janino compiles in each of `batches` micro-batches of `project`
    * over a trade feed, after the first batch, with the batch rows.
    */
  private def compilesAfterFirst(project: DataFrame => DataFrame, batches: Int = 4)
      : Seq[Long] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Double, Long)]
    val q = project(mem.toDF().toDF("symbol", "price", "volume")).writeStream
      .format("noop").start()
    try (0 until batches).map { b =>
      val before = compiles
      mem.addData(("AAPL", 10.0 + b, 1L + b))
      q.processAllAvailable()
      compiles - before
    }.tail
    finally q.stop()
  }

  test("stateless bronze compiles nothing after its first micro-batch") {
    val bronze = compilesAfterFirst(df => Medallion.withAuditTimestamps(Medallion.toBronze(df)))
    assert(bronze === Seq(0L, 0L, 0L))
    // The same columns as inline per-batch literals compile every batch.
    val literal = compilesAfterFirst(_.withColumn("processed_at", current_timestamp())
      .withColumn("processing_date", current_date()))
    assert(literal.forall(_ > 0), s"compiles per batch with literals: $literal")
  }

  test("BatchConstant over two batch timestamps generates the same code") {
    val (t1, t2) = (1705312800000000L, 1705312801000000L)
    def gen(e: Expression) = {
      val ctx = new CodegenContext
      val ev = e.genCode(ctx)
      (s"${ev.code} ${ev.isNull} ${ev.value}", ctx.references.toSeq)
    }
    val (code1, refs1) = gen(BatchConstant(Literal(t1, TimestampType)))
    val (code2, refs2) = gen(BatchConstant(Literal(t2, TimestampType)))
    assert(code1 === code2)
    assert(refs1 === Seq(t1) && refs2 === Seq(t2))
    // An inline literal is part of the code text.
    assert(gen(Literal(t1, TimestampType))._1 != gen(Literal(t2, TimestampType))._1)
    // One compiled class serves both values.
    val before = compiles
    val values = Seq(t1, t2).map(t =>
      UnsafeProjection.create(Seq(BatchConstant(Literal(t, TimestampType))))
        .apply(InternalRow.empty).getLong(0))
    assert(values === Seq(t1, t2))
    assert(compiles - before <= 1)
  }

  test("the silver bound and processed_at are the micro-batch timestamp") {
    implicit val sqlCtx = spark.sqlContext
    val ckp = Files.createTempDirectory("graft_codegen_ckp")
    val mem = MemoryStream[(String, Double, Long, java.sql.Timestamp)]
    val got = mutable.ArrayBuffer.empty[(String, java.sql.Timestamp, java.sql.Date)]
    val q = Medallion.withAuditTimestamps(TradeStreams.toSilverStreaming(
        mem.toDF().toDF("symbol", "price", "volume", "event_time")))
      .writeStream
      .option("checkpointLocation", ckp.toString)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.select("symbol", "processed_at", "processing_date")
          .as[(String, java.sql.Timestamp, java.sql.Date)].collect()
        got.synchronized { got ++= rows; () }
      }
      .start()
    try {
      val now = System.currentTimeMillis()
      mem.addData(("AHEAD4", 10.0, 1L, new java.sql.Timestamp(now + 4 * 60000L)),
        ("AHEAD6", 10.0, 1L, new java.sql.Timestamp(now + 6 * 60000L)))
      q.processAllAvailable()
    } finally q.stop()
    assert(got.map(_._1) === Seq("AHEAD4"))
    val batchTs = batchTimestampMs(ckp, 0)
    assert(got.head._2.getTime === batchTs)
    assert(got.head._3.toLocalDate ===
      java.time.Instant.ofEpochMilli(batchTs).atZone(java.time.ZoneOffset.UTC).toLocalDate)
  }

  /** The batch timestamp a query's offset log recorded for `batch`. */
  private def batchTimestampMs(ckp: JPath, batch: Long): Long = {
    val log = new String(Files.readAllBytes(ckp.resolve(s"offsets/$batch")), "UTF-8")
    "\"batchTimestampMs\":(\\d+)".r.findFirstMatchIn(log)
      .getOrElse(fail(s"no batchTimestampMs in $log")).group(1).toLong
  }
}
