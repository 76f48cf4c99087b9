package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming._

/** State-variable-name canary, the sibling of StateSchemaCanarySpec.
  * A `transformWithState` checkpoint stores each state variable under
  * its name: renaming the variable a runtime passes to [[KeyedFold]]
  * orphans every existing checkpoint of that runtime just as a changed
  * state class does. Each case drains one tiny batch through a public
  * wiring function under RocksDB, then reads the variable names back
  * from the checkpoint's operator metadata (the `state-metadata`
  * source's `operatorProperties`).
  *
  * If this suite fails: you renamed a state variable. Revert it, or
  * document the checkpoint break and its migration in BENCHNOTES.md
  * and update the pinned name here, in the same commit.
  */
class StateVariableNameSpec extends SparkSpecBase {
  import spark.implicits._

  private val StateName = "\"stateName\"\\s*:\\s*\"([^\"]+)\"".r

  /** Drain `rows` through `wire` once and return the state variable
    * names the checkpoint's operator metadata records.
    */
  private def stateNames[T: Encoder](rows: T*)(wire: Dataset[T] => Dataset[_],
                                              mode: String = "append"): Seq[String] =
    withRocksDbState {
      implicit val sqlCtx = spark.sqlContext
      val ckpt = Files.createTempDirectory("graft_state_names").toString
      val mem = MemoryStream[T]
      val q = wire(mem.toDS()).writeStream.format("noop").outputMode(mode)
        .option("checkpointLocation", ckpt).start()
      try {
        mem.addData(rows)
        q.processAllAvailable()
      } finally q.stop()
      spark.read.format("state-metadata").load(ckpt)
        .select("operatorProperties").as[String].collect().toSeq
        .flatMap(p => StateName.findAllMatchIn(p).map(_.group(1)))
    }

  private val ts = new Timestamp(1705312800000L)

  test("LatestPriceStream.snapshots keeps state variable \"latest\"") {
    assert(stateNames(LatestPriceStream.TradeEvent("AAPL", 100.0, 10, ts))(
      LatestPriceStream.snapshots(spark, _), "update") === Seq("latest"))
  }

  test("OrderFlowStream.verdicts keeps state variable \"tick_state\"") {
    assert(stateNames(OrderFlowStream.Tick("AAPL", 1000000L, 10L, 1L, 1L))(
      OrderFlowStream.verdicts(spark, _)) === Seq("tick_state"))
  }

  test("VpinStream.buckets keeps state variable \"vpin_state\"") {
    assert(stateNames(OrderFlowStream.Verdict("AAPL", 1L, 1L, 1, 10L))(
      VpinStream.buckets(spark, _, bucketVolume = 100L)) === Seq("vpin_state"))
  }

  test("FunnelStream.transitions keeps state variable \"funnel\"") {
    assert(stateNames(FunnelStream.UserEvent(1L, "view", 1L))(
      FunnelStream.transitions(spark, _)) === Seq("funnel"))
  }

  test("TransitionStream.transitions keeps state variable \"last_seen\"") {
    assert(stateNames(FunnelStream.UserEvent(1L, "view", 1L))(
      TransitionStream.transitions(spark, _)) === Seq("last_seen"))
  }

  test("Scd2Stream.intervals keeps state variable \"scd2_run\"") {
    assert(stateNames(Scd2Stream.DimSnapshot("AAPL", Date.valueOf("2024-01-15"), 1.0))(
      Scd2Stream.intervals(spark, _), "update") === Seq("scd2_run"))
  }

  test("IndicatorStream.updates keeps state variable \"indicators\"") {
    assert(stateNames(IndicatorStream.TradeTick("AAPL", 100.0, ts))(
      IndicatorStream.updates(spark, _)) === Seq("indicators"))
  }

  test("BarIndicatorStream.updates keeps state variable \"bar_indicators\"") {
    assert(stateNames(BarIndicatorStream.DailyBar("AAPL", Date.valueOf("2024-01-15"),
        1010000L, 990000L, 1000000L, 100L))(
      BarIndicatorStream.updates(spark, _)) === Seq("bar_indicators"))
  }

  test("HeavyHitterStream.candidates keeps state variable \"mg_sketch\"") {
    assert(stateNames("a", "b", "a")(
      HeavyHitterStream.candidates(spark, _, k = 3, numGroups = 2)) === Seq("mg_sketch"))
  }
}
