package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import graft.sources.TestKafka

/** Seeded trade feed in the reference producer's JSON shape.
  *
  * The program only ever sees the TestKafka record files this writes.
  * Everything the correctness checks need (which rows are valid, which
  * are re-sends, when each row was due) stays here, on the benchmark's
  * side of the seam.
  *
  * Shape of the feed, all drawn from `seed`:
  *  - 50 symbols, Zipf(1.1) skewed: the reference's <=50-symbol bound;
  *  - `DupShare` of records re-send an earlier valid trade byte for
  *    byte (same symbol, timestamp and payload), which loads the
  *    streaming dedup; distinct trades never share (symbol, timestamp);
  *  - `InvalidShare` of distinct trades carry a zero volume or a
  *    non-positive price, which the silver filter must reject;
  *  - event time trails the due time by up to `MaxLagMs`, so arrival
  *    is out of order but stays well inside the 10-minute watermark;
  *  - `ingestion_time` is the row's creation (due) time.
  */
final class Feed(seed: Long) {
  import Feed._

  private val rnd = new java.util.Random(seed)
  private val cdf: Array[Double] = {
    val w = (1 to Symbols.length).map(r => 1.0 / math.pow(r, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private val lastPriceCents: Array[Long] =
    Array.fill(Symbols.length)(1000L + rnd.nextInt(49000))
  private val usedKeys = mutable.HashSet.empty[(Int, Long)]
  private val recentValid = new Array[Trade](256)
  private var nRecent = 0

  /** Every record emitted so far, in arrival order. */
  val emitted: mutable.ArrayBuffer[Trade] = mutable.ArrayBuffer.empty

  private def symbolIndex(): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, Symbols.length - 1)
  }

  /** The next record, due (created) at `dueMs`. */
  def next(dueMs: Long): Trade = {
    val t =
      if (nRecent > 0 && rnd.nextDouble() < DupShare)
        recentValid(rnd.nextInt(math.min(nRecent, recentValid.length)))
          .copy(dueMs = dueMs, resend = true)
      else {
        val s = symbolIndex()
        var ts = dueMs - rnd.nextInt(MaxLagMs)
        while (!usedKeys.add((s, ts))) ts -= 1
        val step = rnd.nextInt(21) - 10
        lastPriceCents(s) = math.max(100L, lastPriceCents(s) + step)
        val invalid = rnd.nextDouble() < InvalidShare
        val badPrice = invalid && rnd.nextBoolean()
        val priceCents = if (badPrice) -lastPriceCents(s) else lastPriceCents(s)
        val volume = if (invalid && !badPrice) 0L else 1L + rnd.nextInt(1000)
        val conditions = Conditions.filter(_ => rnd.nextInt(4) == 0)
        val json =
          s"""{"symbol":"${Symbols(s)}","price":${java.math.BigDecimal.valueOf(priceCents, 2).toPlainString},""" +
            s""""volume":$volume,"timestamp":$ts,"conditions":[${conditions.map("\"" + _ + "\"").mkString(",")}],""" +
            s""""ingestion_time":$dueMs}"""
        val tr = Trade(Symbols(s), priceCents, volume, ts, conditions, dueMs, dueMs,
          valid = !invalid, resend = false, json)
        if (tr.valid) {
          recentValid(nRecent % recentValid.length) = tr
          nRecent += 1
        }
        tr
      }
    emitted += t
    t
  }
}

object Feed {
  val Symbols: IndexedSeq[String] = IndexedSeq(
    "AAPL", "MSFT", "NVDA", "AMZN", "GOOGL", "META", "TSLA", "AVGO", "JPM", "V",
    "UNH", "XOM", "MA", "JNJ", "PG", "HD", "COST", "ABBV", "MRK", "CVX",
    "CRM", "KO", "PEP", "BAC", "NFLX", "AMD", "TMO", "WMT", "ADBE", "LIN",
    "MCD", "ACN", "CSCO", "ABT", "DIS", "WFC", "INTC", "QCOM", "TXN", "DHR",
    "VZ", "PFE", "CMCSA", "NKE", "ORCL", "IBM", "AMGN", "CAT", "GS", "BA")
  val Conditions: Seq[String] = Seq("@", "T", "I", "F")
  val DupShare = 0.05
  val InvalidShare = 0.03
  val MaxLagMs = 20000

  /** One generated record; `json` is its exact wire value. */
  final case class Trade(symbol: String, priceCents: Long, volume: Long, ts: Long,
                         conditions: Seq[String], ingestionMs: Long, dueMs: Long,
                         valid: Boolean, resend: Boolean, json: String)

  /** Writes one TestKafka record file atomically: a reader lists only
    * `records-*` names, so the rename publishes the whole file at once.
    * Names carry a zero-padded sequence, so sort order is write order.
    */
  def writeRecordFile(dir: Path, seq: Int, rows: Seq[Trade]): Path = {
    val body = rows.map { t =>
      TestKafka.encodeLine(TestKafka.Record("trades_raw",
        t.symbol.getBytes(StandardCharsets.UTF_8),
        t.json.getBytes(StandardCharsets.UTF_8), t.ingestionMs))
    }.mkString("", "\n", "\n")
    val tmp = dir.resolve(f".tmp-$seq%08d")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(f"records-g$seq%08d.tsv"), StandardCopyOption.ATOMIC_MOVE)
  }
}
