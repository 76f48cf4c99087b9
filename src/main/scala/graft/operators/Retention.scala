package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Retention — the reference expresses TTLs as a Cassandra storage
  * feature (bronze 7d / silver 30d / gold5m 90d / gold1h 365d,
  * keyspace.cql:37-119); on a parquet lake retention is a policy job:
  * a date predicate for reads plus partition-level deletion for
  * storage reclaim (SURVEY.md §1.4, §4.1 "TTL -> retention predicate,
  * not a storage feature").
  */
object Retention {

  /** Read-side retention: rows younger than `days` as of `asOfDate`
    * (deterministic — callers pass the clock).
    */
  def retained(df: DataFrame, dateCol: String, days: Int, asOfDate: String): DataFrame =
    df.filter(col(dateCol) >= date_sub(lit(asOfDate).cast("date"), days - 1))

  /** Storage-side retention for a date-partitioned store (silver's
    * `trade_date`, gold's `window_date`): drops whole expired
    * `dateCol=...` directories —
    * partition-level metadata operation, no data rewrite.
    * Returns the dropped partition names.
    */
  def dropExpiredPartitions(spark: SparkSession, path: String, dateCol: String,
                            days: Int, asOfDate: String): Seq[String] = {
    val cutoff = java.time.LocalDate.parse(asOfDate).minusDays(days - 1)
    val root = new java.io.File(path)
    val expired = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(s"$dateCol="))
      .filter { d =>
        val v = d.getName.stripPrefix(s"$dateCol=")
        scala.util.Try(java.time.LocalDate.parse(v).isBefore(cutoff)).getOrElse(false)
      }
    expired.foreach { d =>
      d.listFiles().foreach(_.delete()); d.delete()
    }
    expired.map(_.getName).toSeq
  }
}
