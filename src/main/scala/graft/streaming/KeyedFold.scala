package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** The one keyed-state runtime of the streaming package: a
  * `transformWithState` processor holding ONE typed ValueState per key
  * and handing each micro-batch's rows for a key to a pure fold.
  *
  * `fold(key, rows, prev)` returns (next state, rows to emit). A
  * `Some` next state is written back; `None` writes nothing. No TTL,
  * no timers: state lives as long as its key, and each module bounds
  * its own state record. The state variable's name and the state
  * class are part of every checkpoint (StateSchemaCanarySpec and
  * StateVariableNameSpec pin both), so a caller never renames either.
  *
  * Rows for a key arrive in no particular order within a micro-batch,
  * and the folds are order-sensitive, so the folds materialize and
  * sort. That buffer is per (key, micro-batch) and bounded by the
  * source's per-trigger cap (the file source's maxFilesPerTrigger,
  * Kafka's maxOffsetsPerTrigger in TradeStreams.kafkaOptions): a
  * catch-up backlog arrives as a sequence of bounded batches, never
  * one unbounded buffer.
  *
  * Every stateful runtime here needs the RocksDB state store provider
  * (one column family per state variable); the replay drains and specs
  * set it themselves.
  */
final class KeyedFold[K, IN, S, OUT](
    stateName: String,
    stateEncoder: Encoder[S],
    fold: (K, Iterator[IN], Option[S]) => (Option[S], IterableOnce[OUT]))
    extends StatefulProcessor[K, IN, OUT] {

  @transient private var state: ValueState[S] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[S](stateName, stateEncoder, TTLConfig.NONE)

  override def handleInputRows(key: K, rows: Iterator[IN],
                               timerValues: TimerValues): Iterator[OUT] = {
    val (next, out) = fold(key, rows, Option(state.get()))
    next.foreach(state.update)
    out.iterator
  }
}

object KeyedFold {

  /** Wire `fold` over a keyed stream: one `transformWithState` with
    * `TimeMode.None`, the state held as `stateName` under the product
    * encoder of `S`.
    */
  def apply[K, IN, S <: Product : TypeTag, OUT: Encoder](
      grouped: KeyValueGroupedDataset[K, IN], stateName: String, mode: OutputMode)(
      fold: (K, Iterator[IN], Option[S]) => (Option[S], IterableOnce[OUT])): Dataset[OUT] =
    grouped.transformWithState(new KeyedFold[K, IN, S, OUT](stateName, Encoders.product[S], fold),
      TimeMode.None(), mode)

  /** The fold of the event-ordered runtimes (OrderFlow, Vpin, Funnel,
    * Transition): a key's rows in `order`, each through `step` from the
    * stored state (or `zero`), every emitted row kept. The state is
    * always written back.
    */
  def ordered[K, IN, S, OUT, O: Ordering](order: IN => O, zero: S)(
      step: (S, IN) => (S, Option[OUT])): (K, Iterator[IN], Option[S]) => (Option[S], Seq[OUT]) =
    (_, rows, prev) => {
      var st = prev.getOrElse(zero)
      val out = rows.toSeq.sortBy(order).flatMap { r =>
        val (next, emitted) = step(st, r)
        st = next
        emitted
      }
      (Some(st), out)
    }
}
