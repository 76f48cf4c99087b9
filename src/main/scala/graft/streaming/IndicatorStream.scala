package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.OutputMode

/** Streaming technical indicators — the stateful counterpart of
  * operators/Indicators.scala for the recursive indicators a batch
  * row-frame window cannot express:
  *
  *  - EMA(n): ema_t = α·x_t + (1−α)·ema_{t−1}, α = 2/(n+1)
  *  - Wilder RSI(n): avgGain_t = (avgGain_{t−1}·(n−1) + gain_t)/n
  *    (and symmetrically for losses), RSI = 100·avgGain/(avgGain+avgLoss)
  *
  * Both are one-value recursions over the per-symbol trade sequence,
  * held in a typed ValueState on the Spark-4 transformWithState
  * runtime (RocksDB-backed). State is O(symbols) — sharded by the
  * groupBy key, immune to data volume.
  *
  * Ordering: within a micro-batch events fold in event-time order
  * (price tie-break); an event at or before the state's time is
  * DROPPED — a recursive indicator cannot be rewound, the strict
  * bound makes re-delivered rows idempotent, and the stream's
  * watermark already bounds how late such rows can be. Inputs carry
  * at most one tick per (symbol, event_time) — the silver dedup
  * invariant — under which replaying a day batch-wise and streaming
  * it in any micro-batch slicing converge to identical final values
  * (spec-pinned).
  */
object IndicatorStream {

  case class TradeTick(symbol: String, price: Double, event_time: Timestamp)

  case class IndicatorState(ema: Double, avgGain: Double, avgLoss: Double,
                            prevPrice: Double, nSeen: Long, timeMs: Long)

  case class IndicatorUpdate(symbol: String, event_time: Timestamp, price: Double,
                             ema: Double, rsi: Option[Double])

  /** One step of the recursion: absorb a single tick into the carried
    * state. Returns None (state unchanged) when the tick is not
    * STRICTLY newer than the state's time — a recursion cannot be
    * rewound, and the strict bound makes at-least-once re-delivery of
    * a tick idempotent (a replayed row is dropped, not folded twice).
    *
    * Contract: at most one tick per (symbol, event_time) — what the
    * silver feed's dedup guarantees. With duplicate timestamps the
    * batch form keeps the (time, price)-sorted first while a
    * cross-batch stream keeps the first to arrive, so equivalence is
    * only defined under the uniqueness contract.
    */
  private[graft] def step(symbol: String, st: Option[IndicatorState],
                          t: TradeTick, n: Int)
      : Option[(IndicatorState, IndicatorUpdate)] = {
    val alpha = 2.0 / (n + 1)
    val tMs = t.event_time.getTime
    if (!st.forall(_.timeMs < tMs)) None
    else {
      val next = st match {
        case None =>
          IndicatorState(t.price, 0.0, 0.0, t.price, 1L, tMs)
        case Some(p) =>
          val diff = t.price - p.prevPrice
          val gain = math.max(diff, 0.0)
          val loss = math.max(-diff, 0.0)
          // Wilder smoothing once warm; plain accumulation before.
          val (ag, al) =
            if (p.nSeen <= n) ((p.avgGain * (p.nSeen - 1) + gain) / p.nSeen,
                               (p.avgLoss * (p.nSeen - 1) + loss) / p.nSeen)
            else ((p.avgGain * (n - 1) + gain) / n,
                  (p.avgLoss * (n - 1) + loss) / n)
          IndicatorState(alpha * t.price + (1 - alpha) * p.ema,
            ag, al, t.price, p.nSeen + 1, tMs)
      }
      val rsi =
        if (next.nSeen <= n) None
        else if (next.avgGain + next.avgLoss == 0.0) None
        else Some(100.0 * next.avgGain / (next.avgGain + next.avgLoss))
      Some((next, IndicatorUpdate(symbol, t.event_time, t.price, next.ema, rsi)))
    }
  }

  /** Shared fold: advance the recursion through the batch's ticks in
    * event-time order, dropping rows older than the carried state.
    * Emits one update per accepted tick. RSI is None until n changes
    * have been absorbed (standard warm-up).
    */
  private[graft] def fold(symbol: String, ticks: Seq[TradeTick],
                              initial: Option[IndicatorState], n: Int)
      : (Option[IndicatorState], Seq[IndicatorUpdate]) = {
    val sorted = ticks.sortBy(t => (t.event_time.getTime, t.price))
    var st = initial
    val out = Seq.newBuilder[IndicatorUpdate]
    sorted.foreach { t =>
      step(symbol, st, t, n).foreach { case (next, u) =>
        out += u
        st = Some(next)
      }
    }
    (st, out.result())
  }

  /** Wire the indicator recursion over a parsed trade stream. */
  def updates(spark: SparkSession, ticks: Dataset[TradeTick], n: Int = 14): Dataset[IndicatorUpdate] = {
    import spark.implicits._
    KeyedFold[String, TradeTick, IndicatorState, IndicatorUpdate](
        ticks.groupByKey(_.symbol), "indicators", OutputMode.Append)(
      (sym, rows, prev) => fold(sym, rows.toSeq, prev, n))
  }

  /** Batch adapter: the same recursion over whole per-symbol histories —
    * for backfill and the batch/streaming equivalence spec.
    *
    * Scale shape: repartition by symbol + sortWithinPartitions gives each
    * partition its symbols' ticks in (symbol, time, price) order; the
    * fold then streams the iterator one row at a time, resetting state at
    * symbol boundaries. Nothing is materialized per group (a flatMapGroups
    * + toSeq would buffer a symbol's entire history — a 100 TB backfill
    * has histories that don't fit), and the sort is Spark's spillable
    * external sort, not an in-memory sortBy.
    */
  def updatesBatch(spark: SparkSession, ticks: Dataset[TradeTick], n: Int = 14): Dataset[IndicatorUpdate] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    ticks.repartition(col("symbol"))
      .sortWithinPartitions(col("symbol"), col("event_time"), col("price"))
      .mapPartitions { it =>
        var sym: String = null
        var st: Option[IndicatorState] = None
        it.flatMap { t =>
          if (t.symbol != sym) { sym = t.symbol; st = None }
          step(sym, st, t, n).map { case (next, u) => st = Some(next); u }
        }
      }
  }
}
