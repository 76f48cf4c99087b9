package graft.streaming

import java.sql.Date

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.OutputMode

/** SCD2 maintenance as a stream — the live counterpart of
  * [[graft.operators.Incremental.scd2]]: per-key daily snapshots flow
  * in, validity intervals flow out the moment a value changes, instead
  * of a nightly batch rebuild over all history.
  *
  * State per key is ONE open run (value, version, from, last seen
  * date) — O(keys), independent of history length; a dimension's full
  * past lives in the sink, never in the state store. Output rows are
  * keyed (key, version) upserts emitted only on change (a version
  * appears once when it opens and once more when it closes — O(churn)
  * per batch): a keyed sink replaying them converges to exactly the
  * batch scd2 table (spec-pinned under arbitrary micro-batch
  * slicings).
  *
  * Ordering contract: snapshots must arrive in non-decreasing date
  * order per key — the natural shape when fed from watermark-closed
  * daily bars, which only finalize forward. A regressing date is
  * DROPPED (same posture as LatestPriceStream's stale-event guard):
  * rewriting already-emitted history is a batch restatement
  * ([[graft.operators.Incremental.scd2]] over the corrected
  * snapshots), not a streaming update.
  */
object Scd2Stream {

  case class DimSnapshot(key: String, date: Date, value: Double)

  case class Scd2Row(key: String, value: Double, version: Int,
                     effective_from: Date, effective_to: Option[Date],
                     is_current: Boolean)

  case class RunState(value: Double, version: Int, from: Date, last: Date)

  private def dayBefore(d: Date): Date = Date.valueOf(d.toLocalDate.minusDays(1))

  /** Shared fold: advance one key's run state through a batch of
    * snapshots in date order; emit every row whose (value, bounds,
    * currency) changed.
    */
  private[graft] def fold(key: String, snaps: Seq[DimSnapshot],
      initial: Option[RunState]): (Option[RunState], Seq[Scd2Row]) = {
    val sorted = snaps.sortBy(_.date.getTime)
    var state = initial
    val out = Vector.newBuilder[Scd2Row]
    sorted.foreach { s =>
      state match {
        case None =>
          state = Some(RunState(s.value, 1, s.date, s.date))
          out += Scd2Row(key, s.value, 1, s.date, None, is_current = true)
        case Some(run) if s.date.after(run.last) =>
          if (s.value == run.value) {
            state = Some(run.copy(last = s.date))
          } else {
            // Close the old run at the day before the new value took
            // effect; open the successor. Both rows re-emit — the
            // (key, version) upsert replaces the open row with its
            // closed form.
            out += Scd2Row(key, run.value, run.version, run.from,
              Some(dayBefore(s.date)), is_current = false)
            val next = RunState(s.value, run.version + 1, s.date, s.date)
            state = Some(next)
            out += Scd2Row(key, next.value, next.version, next.from, None,
              is_current = true)
          }
        case Some(_) => // date regression or duplicate day: dropped
      }
    }
    (state, out.result())
  }

  /** Wire the fold over a snapshot stream (update output mode —
    * downstream upserts by (key, version)).
    */
  def intervals(spark: SparkSession, snaps: Dataset[DimSnapshot]): Dataset[Scd2Row] = {
    import spark.implicits._
    KeyedFold[String, DimSnapshot, RunState, Scd2Row](
        snaps.groupByKey(_.key), "scd2_run", OutputMode.Update)(
      (key, rows, prev) => fold(key, rows.toSeq, prev))
  }

  /** Batch adapter: the same fold over complete per-key history — for
    * backfill and the batch-equivalence spec.
    */
  def intervalsBatch(spark: SparkSession, snaps: Dataset[DimSnapshot]): Dataset[Scd2Row] = {
    import spark.implicits._
    snaps.groupByKey(_.key).flatMapGroups { (key, it) =>
      fold(key, it.toSeq, None)._2.iterator
    }
  }
}
