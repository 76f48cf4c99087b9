package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One board query, registered once: its name, the DuckDB SQL its
  * result must hash-match, and how to run it on a scale-factor
  * directory. `drain` marks a streaming-replay query: one run is a
  * whole `writeStream` drain, so `Bench` times it once and skips its
  * warm re-run, and `PlanDump` has no batch plan to explain.
  */
final case class BoardQuery(name: String, oracleSql: String,
                            run: (SparkSession, String) => DataFrame,
                            drain: Boolean = false) {
  /** The part of the name before the first `_`: `sr1` for
    * `sr1_stream_gold_replay`.
    */
  def id: String = name.takeWhile(_ != '_')
}

/** The 211-query board: every module's registrations in one sequence,
  * and the one rule by which `Verify`, `Bench`, `ScaleBench` and
  * `PlanDump` pick a subset of it.
  */
object Board {

  /** Every board query, in registration order. */
  val all: Seq[BoardQuery] = of(SparkEntry.board ++ PipelineQueries.board ++
    ExtendedQueries.board ++ IndicatorQueries.board ++ RetrievalQueries.board ++
    MaintenanceQueries.board ++ StreamReplayQueries.board)

  /** `qs` as a board; fails on an id registered twice, and so on a
    * name registered twice.
    */
  def of(qs: Seq[BoardQuery]): Seq[BoardQuery] = {
    val shared = qs.groupBy(_.id).collect {
      case (id, g) if g.size > 1 => s"$id (${g.map(_.name).mkString(", ")})"
    }
    require(shared.isEmpty, s"board query ids registered twice: ${shared.toSeq.sorted.mkString("; ")}")
    qs
  }

  /** The queries `entries` select, in board order. Each entry is an
    * exact name or an id, so `sr1` selects `sr1_stream_gold_replay`
    * and not `sr10_…`. An entry that selects nothing is refused with
    * the list of valid ids.
    */
  def select(entries: Seq[String]): Seq[BoardQuery] = {
    def hits(e: String, q: BoardQuery): Boolean = q.name == e || q.id == e
    val unknown = entries.filterNot(e => all.exists(hits(e, _)))
    lazy val ids = all.map(_.id).mkString(",")
    require(entries.nonEmpty, s"an empty selection picks no board query; valid ids: $ids")
    require(unknown.isEmpty,
      s"no board query has the name or id ${unknown.mkString(", ")}; valid ids: $ids")
    all.filter(q => entries.exists(hits(_, q)))
  }

  /** The batch mains' selection: `SPARK_GRAFT_ONLY` (a comma list of
    * names or ids) through [[select]], or the whole board when unset.
    */
  def fromEnv(): Seq[BoardQuery] =
    sys.env.get("SPARK_GRAFT_ONLY") match {
      case None => all
      case Some(v) => select(v.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    }
}
