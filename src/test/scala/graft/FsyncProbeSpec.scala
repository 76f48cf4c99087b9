package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.fsyncProbeMsPerOp` probes the device the replay drains
  * commit to: the resolved `ReplayStaging.scratchRoot`, and a probe
  * that cannot run reads -1 instead of aborting the bench run.
  */
class FsyncProbeSpec extends AnyFunSuite {

  test("fsync probe targets the resolved replay scratch root (r15 verdict #2)") {
    // The resolution rule itself, unit-tested via the env parameter:
    // an explicit SPARK_GRAFT_SCRATCH pin wins; without it tmpfs or
    // java.io.tmpdir per capacity. The probe allocates under
    // scratchRoot() by construction (Bench.fsyncProbeMsPerOp's default
    // argument), so pinning the resolution pins the probe's device.
    val tmp = java.nio.file.Files.createTempDirectory("graft_scratch_spec_")
    try {
      assert(graft.streaming.ReplayStaging.scratchRoot(
        Map("SPARK_GRAFT_SCRATCH" -> tmp.toString)) === tmp)
      val default = graft.streaming.ReplayStaging.scratchRoot(Map.empty)
      assert(default === java.nio.file.Paths.get("/dev/shm") ||
        default === java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
      // And the probe actually runs against a caller-given root.
      val ms = Bench.fsyncProbeMsPerOp(() => tmp)
      assert(ms > 0)
      // Root RESOLUTION failures degrade to -1 like every other probe
      // failure (r16 ADVICE: as a plain default argument the
      // resolution ran at the call site, outside the try, so an
      // invalid SPARK_GRAFT_SCRATCH aborted the whole bench run).
      assert(Bench.fsyncProbeMsPerOp(() => sys.error("bad scratch")) === -1.0)
      // The probe cleans up after itself.
      val leftover = java.nio.file.Files.list(tmp)
      try assert(!leftover.iterator().hasNext) finally leftover.close()
    } finally graft.streaming.ReplayStaging.deleteRecursively(tmp)
  }
}
