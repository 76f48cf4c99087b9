package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.streaming.ReplayStaging

/** The replay harness's contracts: the per-drain record Bench ships,
  * the one-output-per-query keep-set, and the once-per-JVM guard.
  */
class ReplayDrainSpec extends SparkSpecBase {

  private def keptDirs(prefix: String): Set[Path] = {
    val ls = Files.list(ReplayStaging.scratchRoot())
    try ls.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toSet
    finally ls.close()
  }

  test("a stateful drain records every drain_profile key plus its end state") {
    StreamReplayQueries.streamLatestReplay(spark, Sf).count()
    val p = StreamReplayQueries.lastDrainProfile.getOrElse("sr3", fail("sr3 drain not recorded"))
    val shipped = Seq("batches", "triggerExecution", "addBatch", "walCommit",
      "commitOffsets", "queryPlanning", "source", "stateCommit")
    assert(shipped.filterNot(p.contains).isEmpty, s"missing keys in $p")
    assert(p("batches") >= 3, s"three staged slices must drain as >= 3 batches: $p")
    assert(p("addBatch") > 0 && p("triggerExecution") >= p("addBatch"), s"$p")
    assert(p("stateRows") > 0 && p("stateBytes") > 0, s"no state actuals: $p")
  }

  test("repeated calls keep one drained output per query; the newest frame reads") {
    val before = keptDirs("graft_sr11_")
    val first = StreamReplayQueries.streamLateReplay(spark, Sf)
    val n = first.count()
    val second = StreamReplayQueries.streamLateReplay(spark, Sf)
    val left = keptDirs("graft_sr11_") -- before
    assert(left.size === 1, s"kept: $left")
    assert(second.count() === n)
  }

  test("once: a throwing body is not recorded and fires again; a passing body runs once") {
    val key = s"spec_once|${System.nanoTime()}"
    var runs = 0
    def guard(fail: Boolean): Unit = ReplayStaging.once(key) {
      runs += 1
      require(!fail, "precondition violated")
    }
    intercept[IllegalArgumentException](guard(fail = true))
    intercept[IllegalArgumentException](guard(fail = true))
    assert(runs === 2, "a failed guard must re-fire on the next call")
    guard(fail = false)
    guard(fail = false)
    guard(fail = true) // recorded as passed: the body does not run again
    assert(runs === 3)
  }
}
