package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Validation
import graft.sources.Tables

class ServingStoreSpec extends SparkSpecBase {

  test("JSONL document ingest round-trips the corpus; corrupt lines degrade per mode") {
    val docs = graft.sources.Tables.documents(spark, Sf)
    val dir = Files.createTempDirectory("graft_jsonl").toString + "/docs"
    docs.write.mode("overwrite").json(dir)
    val back = graft.sources.Tables.documentsJsonl(spark, dir)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[String]("lang"), r.getAs[String]("source"), r.getAs[Long]("n_chars")))
      .toSet
    assert(key(back) === key(docs))
    // A corrupt line: PERMISSIVE yields a null row, strict fails fast.
    Files.writeString(java.nio.file.Paths.get(dir, "part-corrupt.json"), "not json at all\n")
    val permissive = graft.sources.Tables.documentsJsonl(spark, dir)
    assert(permissive.count() === docs.count() + 1)
    assert(permissive.filter(col("doc_id").isNull).count() === 1)
    intercept[org.apache.spark.SparkException] {
      graft.sources.Tables.documentsJsonl(spark, dir, strict = true).count()
    }
  }

  test("console sink runs a streaming query to completion (K2)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val q = graft.streaming.Sinks.consoleSink(mem.toDF(), numRows = 3).start()
    mem.addData(1, 2, 3)
    q.processAllAvailable()
    assert(q.isActive)
    q.stop()
  }

  test("observe() exposes validation counters without a second pass") {
    val trades = Tables.trades(spark, Sf)
    val validated = Validation.observeValidation(
      Validation.validate(trades, 1706745600000L))
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      @volatile var metrics: Option[Map[String, Any]] = None
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = {
        val m = qe.observedMetrics.get("validation")
        if (m.isDefined) metrics = Some(m.get.getValuesMap(Seq("total", "valid", "invalid")))
      }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val total = validated.count()
      // Listener fires asynchronously; poll for delivery.
      var tries = 0
      while (listener.metrics.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      val m = listener.metrics.get
      assert(m("total") === total)
      assert(m("valid").asInstanceOf[Long] + m("invalid").asInstanceOf[Long] === total)
      assert(m("invalid").asInstanceOf[Long] > 0) // zero-volume rows exist
    } finally spark.listenerManager.unregister(listener)
  }
}
