package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The idle-source heartbeat pattern, packaged so no caller can get
  * its one sharp edge wrong (r15 verdict item #6).
  *
  * THE PROBLEM (MultiWatermarkSpec pins it batch-by-batch): under the
  * default `min` multipleWatermarkPolicy, a source that goes IDLE in a
  * union topology freezes the GLOBAL watermark — every window
  * downstream stays open forever, state grows monotonically, and an
  * append-mode sink emits nothing, silently. The reference's live
  * quote/trade fan-in (spark_processor.py's per-topic consumers) hits
  * this whenever one feed's market closes while another trades on.
  *
  * THE MITIGATION: the idle feed carries HEARTBEAT rows — no business
  * content, just a fresh event timestamp — that are filtered out AFTER
  * watermark assignment. `EventTimeWatermarkExec` collects its max
  * event time as rows flow THROUGH it, so a filter above it removes
  * the row from every aggregate while its timestamp still advances
  * that source's watermark.
  *
  * THE TRAP (why this helper exists): the strip predicate must
  * REFERENCE the event-time column. Catalyst's
  * `PushPredicateThroughNonJoin` pushes any predicate that does not
  * mention the watermark column BELOW the EventTimeWatermark node —
  * a plain `!hb` filter lands under the collector, the heartbeat
  * never reaches it, and the watermark stays stuck with no error
  * anywhere. `!hb OR event_time IS NULL` is semantically `!hb` (the
  * watermark column is never null on a heartbeat) but un-pushable.
  * sr23 executes the whole pattern under the DuckDB oracle on this
  * helper; MultiWatermarkSpec pins the Catalyst mechanics.
  *
  * THE SECOND TRAP (found live wiring App, r16): the same pushdown
  * bites ANY filter placed ABOVE the decoration point. CombineFilters
  * merges a downstream quality filter (`volume > 0`) into the strip
  * filter, and the watermark-column-free conjuncts are then pushed
  * below the collector — where the heartbeats' null business columns
  * fail them, and the stall silently returns. THE RULE: decorate
  * LAST. Apply every row-level filter to the source BEFORE handing it
  * to `decorate`; keep only projections and the stateful operators
  * above it. (A filter above the decoration is safe only if its
  * predicate references the event-time column or passes null
  * columns — neither is worth relying on.) MultiWatermarkSpec pins
  * this trap too.
  *
  * THE THIRD TRAP (found pinning the second one, r16): the optimizer
  * can dissolve the strip predicate ITSELF whenever it can statically
  * evaluate either half. In a micro-batch containing ONLY heartbeats —
  * the idle case, i.e. the normal case — PropagateEmptyRelation prunes
  * the union down to the heartbeat branch, whose event-time column
  * then aliases the stamp expression directly, and two independent
  * rules each kill the filter: a FOLDABLE stamp lets
  * FoldablePropagation + ConstantFolding collapse `!hb OR isnull(et)`
  * to a reference-free `false` (captured live as `Filter false`
  * directly over the rate scan in MultiWatermarkSpec's rollup test
  * during development), and even a non-foldable but NON-NULLABLE stamp
  * (any expression over the rate source's columns) lets
  * NullPropagation rewrite `isnull(et)` to false via static
  * nullability, with the same end state. Either way the predicate
  * loses its watermark-column reference, pushes below the collector,
  * and every heartbeat dies in exactly the batches that exist to
  * carry them. `decorate` therefore routes EVERY stamp through
  * [[graft.functions.StageBarrier]] — the pass-through optimizer
  * barrier, non-foldable and nullable-typed by declaration (and
  * non-deterministic, so the stamp's alias is never substituted
  * either) — so no optimizer rule can evaluate either disjunct
  * statically and the strip provably keeps its reference. Stamps of
  * any shape, including plain literals for deterministic replays, are
  * safe.
  *
  * THE FOURTH TRAP (r17, found driving App's idle-cascade test — a
  * WATERMARK-SEMANTICS trap, not a Catalyst one): when the decorated
  * source is itself the OUTPUT of a watermarked append-mode stage, a
  * wall-clock stamp makes every arriving row "late" by construction.
  * An upstream window [W, W+span) is only emitted once the upstream
  * watermark (wallclock - D_up) passes W+span — so the row reaches
  * this level at wallclock ≈ W + span + D_up, where a wall-clock
  * heartbeat watermark with delay d sits at W + span + D_up - d. Its
  * event stamp is W: the row is (span + D_up - d) late, EVERY row, in
  * steady state. If d does not cover the upstream EMISSION LAG
  * (D_up + span + chain latency), downstream stateful operators
  * silently drop the tail of every upstream window's worth of data —
  * `numRowsDroppedByWatermark` is the only witness. THE RULE: a
  * decorated CASCADE level's delay ≥ upstream delay + upstream window
  * span + a chain-latency margin (App.cascadeHeartbeatDelay computes
  * it; MultiWatermarkSpec pins both the drop and the fix). First
  * ingestion of pre-existing history is exempt only in the very first
  * micro-batch (watermark still 0) — deeper backlogs are the
  * documented backfill posture, which refuses heartbeats.
  */
object Heartbeats {

  /** Marker-column name the production decorator uses. */
  val HbCol = "__hb"

  /** Apply the watermark and strip heartbeat rows ABOVE it — the
    * order and the un-pushable predicate are the whole point; callers
    * hand-rolling either have silently reintroduced the stall twice
    * (sr23's first draft, MultiWatermarkSpec's). The heartbeat flag
    * column is dropped from the result.
    */
  def watermarkAndStrip(df: DataFrame, eventTimeCol: String, delay: String,
                        hbCol: String = HbCol): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .filter(!col(hbCol) || col(eventTimeCol).isNull)
      .drop(hbCol)

  /** Decorate one streaming source with a rate-driven heartbeat: union
    * a 1-row-per-`intervalSecs` feed whose only content is a fresh
    * `eventTimeCol` stamp, then watermark the union and strip the
    * heartbeats above the collector. The result is a drop-in
    * replacement for `src.withWatermark(eventTimeCol, delay)` whose
    * watermark keeps advancing while `src` is idle.
    *
    * `stamp` is evaluated against the rate source's row (columns
    * `timestamp` = processing time, `value` = tick counter); the
    * default stamps heartbeats with the arrival wall clock.
    *
    * OPERATIONAL CAVEAT (documented, not hidden): a wall-clock stamp
    * assumes event time ≈ arrival time. During a BACKFILL the very
    * first heartbeat would advance the watermark past the entire
    * backlog and late-drop it — so heartbeats are refused under
    * bounded-drain triggers (App validates this), and a deployment
    * replaying history must disable them or supply a `stamp` derived
    * from the replay clock.
    */
  def decorate(src: DataFrame, eventTimeCol: String, delay: String,
               intervalSecs: Int = 5,
               stamp: Column = col("timestamp")): DataFrame = {
    require(src.isStreaming, "Heartbeats.decorate takes a streaming frame")
    require(intervalSecs >= 1, s"heartbeat interval must be >= 1s, got $intervalSecs")
    val spark = src.sparkSession
    val fields = src.schema.fields.toIndexedSeq
    require(fields.exists(_.name == eventTimeCol),
      s"no $eventTimeCol column in ${src.schema.toDDL}")
    // One driver-side row per interval: rowsPerSecond=1 and a modulo
    // filter on the tick counter — the rate source's floor is one row
    // per second, so sub-rate intervals thin it instead.
    val hb = spark.readStream.format("rate")
      .option("rowsPerSecond", "1").option("numPartitions", "1").load()
      .filter(pmod(col("value"), lit(intervalSecs.toLong)) === 0)
      .select(fields.map { f =>
        if (f.name == eventTimeCol)
          // The third-trap barrier (see the scaladoc): the stamp goes
          // through StageBarrier so no optimizer rule can statically
          // evaluate the strip predicate's isnull(event_time) half —
          // neither by folding a literal stamp nor by NullPropagation
          // over a provably non-nullable one.
          graft.functions.StageBarrier(stamp.cast(f.dataType)).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
      .withColumn(HbCol, lit(true))
    val union = src.withColumn(HbCol, lit(false)).unionByName(hb)
    watermarkAndStrip(union, eventTimeCol, delay)
  }
}
