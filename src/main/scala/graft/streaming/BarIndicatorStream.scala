package graft.streaming

import java.sql.Date

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.OutputMode

/** Streaming forms of the bar-level indicators (B10–B12 in
  * operators/Indicators.scala): OBV, ATR-n, and the stochastic
  * oscillator %K/%D, folded per symbol over CLOSED daily bars —
  * the stream the gold daily cascade emits once the watermark
  * finalizes a day.
  *
  * All three are bounded recursions, so unlike the batch forms
  * (per-symbol ranking windows over the whole history) the state
  * here is O(n) per symbol regardless of history length:
  *
  *  - OBV carries (prevClose, runningObv) — two longs;
  *  - ATR-n carries the last n true ranges (a ring of n longs);
  *  - stochastic carries the last n (high, low) pairs for the
  *    rolling extrema plus the last two %K values for %D.
  *
  * Arithmetic mirrors the batch forms operation-for-operation so
  * closed-bar equality is BIT-exact, not approximate: OBV/TR/k_num/
  * k_den are exact e4-tick longs; atr is the one IEEE division of
  * two exact integers; %K is (num·100.0)/den in that order; %D is
  * the left-parenthesised ((k₀ + k₁) + k₂)/3.0 with the batch's
  * NULL propagation (NaN marks an undefined %K in carried state,
  * never in output). BatchStreamEquivalenceSpec pins all of this
  * against Indicators.obv/atr/stochastic under arbitrary
  * micro-batch slicings.
  *
  * Ordering and idempotency follow IndicatorStream.step: within a
  * micro-batch bars fold in date order, and a bar not STRICTLY newer
  * than the carried state's date is dropped — re-delivered bars are
  * idempotent, and a recursion cannot be rewound. Input carries at
  * most one bar per (symbol, trade_date): the daily-bar aggregate's
  * invariant.
  */
object BarIndicatorStream {

  /** One closed daily bar, e4-tick integer prices (Indicators.dailyBars
    * row shape).
    */
  case class DailyBar(symbol: String, trade_date: Date,
                      high: Long, low: Long, close: Long, day_volume: Long)

  /** Carried per-symbol state. `trs` and `highsLows` are bounded at n
    * entries (the window the batch forms read via rowsBetween);
    * `k1`/`k2` are the last two %K values with NaN marking "undefined"
    * (flat window) — the sentinel never reaches output.
    */
  case class BarState(prevClose: Long, obv: Long,
                      trs: Seq[Long], highs: Seq[Long], lows: Seq[Long],
                      k1: Double, k2: Double, dateDays: Long)

  /** One output row per accepted bar: the union of the three batch
    * forms' columns (obv: signed_vol/obv; atr: tr/tr_sum/n_tr/atr;
    * stochastic: k_num/k_den/pct_k/pct_d) so one stream serves all
    * three surfaces with a projection.
    */
  case class BarIndicatorUpdate(symbol: String, trade_date: Date,
                                close_px: Long, day_volume: Long,
                                signed_vol: Long, obv: Long,
                                tr: Long, tr_sum: Long, n_tr: Long, atr: Double,
                                k_num: Long, k_den: Long,
                                pct_k: Option[Double], pct_d: Option[Double])

  /** Absorb one closed bar into the carried state. None = bar dropped
    * (not strictly newer than the state — the idempotent-replay rule).
    */
  private[graft] def step(st: Option[BarState], b: DailyBar, n: Int)
      : Option[(BarState, BarIndicatorUpdate)] = {
    val days = b.trade_date.toLocalDate.toEpochDay
    if (!st.forall(_.dateDays < days)) None
    else {
      // B10 — OBV: volume signed by close-to-close direction.
      val signedVol = st match {
        case None => 0L
        case Some(p) =>
          if (b.close == p.prevClose) 0L
          else if (b.close > p.prevClose) b.day_volume
          else -b.day_volume
      }
      val obv = st.map(_.obv).getOrElse(0L) + signedVol
      // B11 — true range (first bar: high−low, Wilder convention).
      val tr = st match {
        case None => b.high - b.low
        case Some(p) => math.max(b.high - b.low,
          math.max(math.abs(b.high - p.prevClose), math.abs(b.low - p.prevClose)))
      }
      val trs = (st.map(_.trs).getOrElse(Seq.empty) :+ tr).takeRight(n)
      val trSum = trs.sum // exact longs: order-free
      val atr = trSum.toDouble / trs.size.toDouble
      // B12 — rolling extrema over the last n bars.
      val highs = (st.map(_.highs).getOrElse(Seq.empty) :+ b.high).takeRight(n)
      val lows = (st.map(_.lows).getOrElse(Seq.empty) :+ b.low).takeRight(n)
      val kNum = b.close - lows.min
      val kDen = highs.max - lows.min
      val k = if (kDen > 0) kNum.toDouble * 100.0 / kDen.toDouble else Double.NaN
      val (k1, k2) = (st.map(_.k1).getOrElse(Double.NaN),
        st.map(_.k2).getOrElse(Double.NaN))
      val d = ((k + k1) + k2) / 3.0 // NaN-poisoning = batch NULL propagation
      val next = BarState(b.close, obv, trs, highs, lows, k, k1, days)
      def opt(x: Double): Option[Double] = if (x.isNaN) None else Some(x)
      Some((next, BarIndicatorUpdate(b.symbol, b.trade_date,
        b.close, b.day_volume, signedVol, obv,
        tr, trSum, trs.size.toLong, atr,
        kNum, kDen, opt(k), opt(d))))
    }
  }

  private[graft] def fold(bars: Seq[DailyBar],
                          initial: Option[BarState], n: Int)
      : (Option[BarState], Seq[BarIndicatorUpdate]) = {
    var st = initial
    val out = Seq.newBuilder[BarIndicatorUpdate]
    bars.sortBy(_.trade_date.toLocalDate.toEpochDay).foreach { b =>
      step(st, b, n).foreach { case (next, u) => out += u; st = Some(next) }
    }
    (st, out.result())
  }

  /** Wire the bar recursions over a closed daily-bar stream. */
  def updates(spark: SparkSession, bars: Dataset[DailyBar], n: Int = 14): Dataset[BarIndicatorUpdate] = {
    import spark.implicits._
    KeyedFold[String, DailyBar, BarState, BarIndicatorUpdate](
        bars.groupByKey(_.symbol), "bar_indicators", OutputMode.Append)(
      (_, rows, prev) => fold(rows.toSeq, prev, n))
  }
}
