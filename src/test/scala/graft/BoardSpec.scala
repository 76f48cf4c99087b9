package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The board registry and the one selection rule the batch mains share
  * (`Verify`, `Bench`, `ScaleBench` through `SPARK_GRAFT_ONLY`,
  * `PlanDump` through its name argument). No session is built: the
  * registry is checked as data.
  */
class BoardSpec extends AnyFunSuite {
  private val noRun: (SparkSession, String) => DataFrame = (_, _) => null

  test("211 queries with unique names and ids, each with an oracle") {
    val all = Board.all
    assert(all.size === 211)
    assert(all.map(_.name).distinct.size === 211)
    assert(all.map(_.id).distinct.size === 211)
    assert(all.filter(_.oracleSql.trim.isEmpty).map(_.name) === Seq.empty)
  }

  test("building a board fails on a name or an id registered twice") {
    val dupName = intercept[IllegalArgumentException] {
      Board.of(Seq(BoardQuery("a1_x", "SELECT 1", noRun), BoardQuery("a1_x", "SELECT 2", noRun)))
    }
    assert(dupName.getMessage.contains("registered twice: a1 (a1_x, a1_x)"))
    val dupId = intercept[IllegalArgumentException] {
      Board.of(Seq(BoardQuery("a1_x", "SELECT 1", noRun), BoardQuery("a1_y", "SELECT 2", noRun)))
    }
    assert(dupId.getMessage.contains("registered twice: a1 (a1_x, a1_y)"))
  }

  test("an entry selects by exact name or by id, never by prefix") {
    assert(Board.select(Seq("a1_ohlcv_5m")).map(_.name) === Seq("a1_ohlcv_5m"))
    assert(Board.select(Seq("a1")).map(_.name) === Seq("a1_ohlcv_5m"))
    assert(Board.select(Seq("sr1")).map(_.name) === Seq("sr1_stream_gold_replay"))
    assert(Board.select(Seq("sr18", "b21_vpin_rolling", "sr18")).map(_.name).sorted ===
      Seq("b21_vpin_rolling", "sr18_stream_startoffsets_replay"))
  }

  test("an entry that selects nothing is refused with the valid ids") {
    for (bad <- Seq(Seq("nope"), Seq("a1", "sr1_"), Seq("a1_ohlcv"), Seq.empty[String])) {
      val e = intercept[IllegalArgumentException](Board.select(bad))
      assert(e.getMessage.contains("valid ids: "), bad)
      assert(e.getMessage.contains("sr23"), bad)
    }
  }

  test("the drain flag is set on exactly the 23 sr queries") {
    val drains = Board.all.filter(_.drain).map(_.id)
    assert(drains.sorted === (1 to 23).map(i => s"sr$i").sorted)
  }
}
