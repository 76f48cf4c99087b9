package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each board query's result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Output-schema whitelist: the correctness comparer reads the Spark
    * side natively (pyarrow) and the oracle side through DuckDB's
    * pandas conversion, and these are the only types BOTH render
    * identically. DECIMAL is the proven trap (round 5: pyarrow keeps
    * exact decimal.Decimal, DuckDB .df() collapses to float64 — >2⁵³
    * values can never hash-match); raw timestamps were banned earlier
    * (epoch-ms long convention); nested types don't canonicalize
    * portably. Violations fail `sbt test` (EdgeCaseSpec) before they
    * can fail a driver round.
    */
  val AllowedOutputTypes: Set[DataType] =
    Set(StringType, IntegerType, LongType, DoubleType, BooleanType, DateType)

  def lintSchema(name: String, df: DataFrame): Seq[String] =
    df.schema.fields.toSeq.collect {
      case f if !AllowedOutputTypes.contains(f.dataType) =>
        s"$name.${f.name}: ${f.dataType.sql} not in " +
          "{STRING,INT,BIGINT,DOUBLE,BOOLEAN,DATE} — ship exact >2^53 " +
          "integers as STRING, timestamps as epoch-ms BIGINT"
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Dev-only subset (SPARK_GRAFT_ONLY, see Board.fromEnv): iterate on
    // one query without paying the full sweep. The driver never sets
    // it — its runs always cover everything.
    val board = Board.fromEnv()
    val spark = SparkEntry.batchSession(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    // Pre-flight (round-8 lesson): print every table's physical schema
    // and fail fast — one readable line, not 53 opaque query failures —
    // if the events time column drifted to an encoding the normalizer
    // doesn't know. normalizeEventTime itself throws the readable
    // message; this just forces the check before any query runs.
    graft.sources.Tables.tableNames.foreach { t =>
      val schema = graft.sources.Tables.table(spark, sfDir, t).schema
      println(s"[verify] schema $t: ${schema.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ")}")
    }
    graft.sources.Tables.eventsNorm(spark, sfDir).schema
    // Per-query wall-time ceiling (round 8): a real plan regression —
    // an accidental cartesian, a lost pushdown, an all-pairs join —
    // should fail ITS query's correctness check, not hide inside a
    // noisy aggregate bench number. The ceiling is deliberately
    // generous (default 60 s at the driver's sf0.01 where the slowest
    // query runs ~2 s — ~30× headroom) so transient machine load can
    // never trip it, but an O(n²) blow-up will. A breaching query's
    // parquet is deleted so exactly that query fails the driver's
    // compare; the rest of the round is unaffected.
    val maxSec = sys.env.getOrElse("SPARK_GRAFT_VERIFY_MAX_SEC", "60").toDouble
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val breaches = scala.collection.mutable.ArrayBuffer[String]()
    board.foreach { case BoardQuery(name, _, run, _) =>
      try {
        val t0 = System.nanoTime()
        val df = run(spark, sfDir)
        val lint = lintSchema(name, df)
        // A banned type is a hard failure, not a warning: writing the
        // parquet anyway would hand the driver a guaranteed-mismatch
        // column (the round-4/5 b8 lesson, twice).
        if (lint.nonEmpty)
          throw new IllegalStateException(
            "banned output column type(s): " + lint.mkString("; "))
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        val sec = (System.nanoTime() - t0) / 1e9
        timings(name) = sec
        if (sec > maxSec) {
          breaches += name
          System.err.println(
            f"[verify] $name exceeded per-query budget: $sec%.1f s > $maxSec%.1f s" +
              " — deleting its output so the driver flags THIS query")
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
          }
          rm(new java.io.File(s"$outDir/$name"))
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Timings dump: the per-round paper trail that lets a BENCHNOTES
    // post-mortem distinguish "slow in the bench" from "slow, period".
    val tJson = timings
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/timings.json"),
      s"""{"max_sec":$maxSec,"breaches":${
        breaches.map("\"" + _ + "\"").mkString("[", ",", "]")
      },"sec":$tJson}""")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = board.map(b => s"${q(b.name)}: ${q(b.oracleSql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
