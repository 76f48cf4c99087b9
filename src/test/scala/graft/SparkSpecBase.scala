package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (a second
  * SparkContext in the same JVM is an error; sbt forks one JVM for
  * tests).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Match the mains: oversized codegen'd stages fall back to
      // per-operator execution instead of running interpreted (r9).
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.ui.enabled", "false")
      // The mains' local file systems: checkpoint and parquet I/O
      // without chmod/readlink processes (graft.streaming.LocalFs).
      .config(graft.streaming.LocalFs.SessionConfs)
      .getOrCreate()
    // Keep test output readable: failures drown in executor INFO spam
    // otherwise (the mains set the same level).
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val Sf: String = "/root/testdata/sf0.001"

  /** Run `body` with the RocksDB state store provider, restoring the
    * session's previous setting afterwards (set-back, not blind unset
    * — the shared session may carry a deliberate choice).
    */
  def withRocksDbState[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }
}
