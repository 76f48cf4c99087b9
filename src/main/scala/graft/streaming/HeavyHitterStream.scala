package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.HeavyHitters
import graft.operators.HeavyHitters.MG

/** Streaming heavy-hitter candidates: the Misra-Gries summary of
  * operators/HeavyHitters run as long-lived `transformWithState` state
  * over an unbounded item stream.
  *
  * Items are hash-partitioned into `numGroups` DISJOINT groups (the
  * state key), each carrying its own ≤ k-counter MG sketch, so state
  * is O(numGroups · k) forever — independent of stream length and item
  * cardinality. Because the groups partition the item space, a
  * globally φ-heavy item is at least φ-heavy inside its own group
  * (its full count lands in one group whose total is ≤ the stream
  * total), so the per-group MG no-false-negative guarantee
  * (undercount ≤ n_g/(k+1), Agarwal et al. "Mergeable Summaries")
  * carries over: with k ≥ 2/φ, every true φ-heavy item is tracked in
  * SOME emitted snapshot row, under ANY micro-batch slicing and
  * arrival order.
  *
  * What is deliberately NOT claimed: counter values are
  * order-dependent (every MG is). As in the batch operator, the
  * sketch only proposes candidates — the exact pass
  * (HeavyHitters.exactHeavyHitters, or a batch count over the final
  * candidate union) erases run-to-run variation, and
  * HeavyHitterStreamSpec pins exactly that: final-snapshot candidates
  * ⊇ true heavy hitters, and exact-verified results equal the batch
  * operator's output for every slicing tried.
  *
  * Each accepted micro-batch emits the owning group's full snapshot
  * (≤ k rows), so the latest rows per group ARE the sketch — a
  * downstream consumer takes the last snapshot_seq per group and
  * unions candidates.
  */
object HeavyHitterStream {

  /** One tracked counter of a group's sketch after a micro-batch.
    * `lower_bound` is the MG counter (true count ≥ counter ≥ true
    * count − group_total/(k+1)); `snapshot_seq` increments per
    * (group, batch) so consumers can keep the newest snapshot.
    */
  case class HHCandidate(group: Int, snapshot_seq: Long, item: String,
                         lower_bound: Long, group_total: Long)

  /** Carried per-group state: the MG sketch plus the snapshot counter. */
  case class GroupState(sketch: MG, seq: Long)

  /** Absorb one micro-batch of a group's items into its sketch and
    * emit the group's full snapshot (≤ k rows, item order).
    */
  private[graft] def fold(group: Int, items: Iterator[String], prev: Option[GroupState],
                          k: Int): (Option[GroupState], Iterator[HHCandidate]) = {
    val agg = HeavyHitters.sketch(k)
    val start = prev.getOrElse(GroupState(agg.zero, 0L))
    val mg = items.foldLeft(start.sketch)(agg.reduce)
    val next = GroupState(mg, start.seq + 1)
    (Some(next), mg.counters.toSeq.sortBy(_._1).iterator.map { case (item, c) =>
      HHCandidate(group, next.seq, item, c, mg.total)
    })
  }

  /** Route `items` through per-group MG sketches. `k` defaults to
    * 2/φ + 1 for the caller's φ (same rule as the batch operator);
    * `numGroups` bounds state at numGroups·k counters and sets the
    * shuffle parallelism of the stateful stage.
    */
  def candidates(spark: SparkSession, items: Dataset[String], k: Int,
                 numGroups: Int = 32): Dataset[HHCandidate] = {
    require(k >= 1 && numGroups >= 1, s"need k >= 1 and numGroups >= 1")
    import spark.implicits._
    val grouped = items.map(i => (math.floorMod(i.hashCode, numGroups), i)).groupByKey(_._1)
    KeyedFold[Int, (Int, String), GroupState, HHCandidate](
        grouped, "mg_sketch", OutputMode.Append)(
      (group, rows, prev) => fold(group, rows.map(_._2), prev, k))
  }

  /** The newest snapshot per group from a collected candidate table —
    * the union consumers feed to the exact verification pass.
    */
  def latestCandidates(rows: Seq[HHCandidate]): Set[String] = {
    val latest = rows.groupBy(_.group).map { case (_, rs) => rs.maxBy(_.snapshot_seq) }
      .map(r => (r.group, r.snapshot_seq)).toSet
    rows.filter(r => latest((r.group, r.snapshot_seq))).map(_.item).toSet
  }
}
