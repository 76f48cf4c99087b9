package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every board query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line
  * {"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Methodology (pinned in round 5 after round 4's driver run showed
  * 2–7× swings on queries whose code and plans had not changed):
  *   - queries run in sorted-name order, so per-query numbers are
  *     comparable across rounds;
  *   - each query runs SPARK_GRAFT_BENCH_REPEATS times (default 5 —
  *     raised from 2 in round 8 after three rounds of noise episodes:
  *     r4 q10 7×, r5 shingle family ~2×, r7 d7/d8 ~5× — all on
  *     byte-identical jars; min-of-2 cannot separate a real 2× plan
  *     regression from one loaded interval, min-of-5 keeps the whole
  *     101-query run under ~5 min while giving each query five
  *     chances to land on a quiet core) and reports the MINIMUM —
  *     the best estimator of plan cost under transient co-tenant
  *     load, and the first run doubles as the query's own warm-up
  *     (file-index listing, codegen cache);
  *   - the full JSON is ALSO written to SPARK_GRAFT_BENCH_OUT
  *     (default BENCH_LOCAL.json in the cwd): round 4's stdout tail
  *     capture truncated the head of the one JSON line and lost the
  *     a1–a7 timings, so the line now survives on disk regardless of
  *     how much of stdout the harness keeps.
  *
  * The run measures; it does not judge. Host readings (io/cpu
  * pressure, an fsync probe, the job round trip) are recorded so the
  * artifact explains the regime it ran in, and a regression is judged
  * offline over alternating parent/change pairs (scripts/bench_diff.py
  * diffs two runs).
  */
object Bench {

  /** /proc/pressure/io "full avg300" — the fraction of the window ALL
    * runnable tasks were stalled on I/O. The r12 post-mortem traced
    * every cross-round per-query "regression" to this being nonzero;
    * recording it IN the bench JSON makes a run self-describing
    * instead of requiring BENCHNOTES prose (r12 verdict item #2).
    */
  def ioPressureFullAvg300(): Double = pressureAvg300("io", "full")

  /** /proc/pressure/cpu "some avg300" — the fraction of the window ANY
    * runnable task stalled waiting for a CPU. An r13 run measured a
    * uniform +20% on code untouched for rounds with io-pressure ZERO —
    * co-tenant CPU contention is invisible to the io reading. The
    * START reading speaks for the neighbors; once running, the bench
    * itself saturates the cores, so the END reading measures us.
    */
  def cpuPressureSomeAvg300(): Double = pressureAvg300("cpu", "some")

  private def pressureAvg300(resource: String, line: String): Double =
    try {
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"/proc/pressure/$resource"))
      lines.toArray.map(_.toString).find(_.startsWith(line))
        .flatMap(_.split("\\s+").find(_.startsWith("avg300=")))
        .map(_.stripPrefix("avg300=").toDouble).getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }

  /** Direct fsync-latency probe (ms per 256 KB write+force over 24
    * ops) against the RESOLVED replay scratch root — the device the
    * drains' checkpoints and state stores actually commit to
    * (ReplayStaging.scratchRoot: SPARK_GRAFT_SCRATCH override, else
    * /dev/shm when roomy, else java.io.tmpdir). The r14 driver run
    * inflated the fsync-sensitive drains 1.8–11× while io full-avg300
    * peaked at 0.17, so the pressure readings alone cannot explain a
    * drain reading: dirty-page writeback throttles each fsync without
    * ever stalling ALL runnable tasks. This probes the exact primitive
    * the state-store commit path pays ON THE SAME DEVICE (a tmpfs
    * scratch legitimately reads ~0). Quiet disk: 1–2 ms/op on a local
    * /tmp device; writeback storms push it 10–100×.
    */
  def fsyncProbeMsPerOp(
      root: () => java.nio.file.Path =
        () => graft.streaming.ReplayStaging.scratchRoot()): Double =
    try {
      // Root resolution happens INSIDE the guarded body (r16 ADVICE):
      // as a plain default argument it evaluated at the call site,
      // so an invalid SPARK_GRAFT_SCRATCH aborted the whole bench run
      // instead of degrading to the probe's -1 like every other
      // probe failure.
      val dir = java.nio.file.Files.createTempDirectory(root(), "graft_fsyncprobe_")
      try {
        val ch = java.nio.channels.FileChannel.open(dir.resolve("probe.bin"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        try {
          val buf = java.nio.ByteBuffer.allocate(256 << 10)
          new java.util.Random(7).nextBytes(buf.array())
          val n = 24
          val t0 = System.nanoTime()
          var i = 0
          while (i < n) { buf.rewind(); ch.write(buf, 0L); ch.force(true); i += 1 }
          (System.nanoTime() - t0) / 1e6 / n
        } finally ch.close()
      } finally graft.streaming.ReplayStaging.deleteRecursively(dir)
    } catch { case _: Throwable => -1.0 }

  /** Driver→executor job ROUND-TRIP floor: ms per one-row job over 20
    * sequential `spark.range(1).count()` calls. Added r16 for a host
    * regime the other three readings all missed: the sr drains ran
    * 2–7× slow on two code-identical jars with io-pressure 0.0,
    * cpu-some 0.4 and fsync 0.07 ms, and this probe read 127–180
    * ms/job against a healthy ≲20. Drains are SEQUENTIAL micro-batch
    * orchestration (hundreds of round trips), so scheduling latency
    * inflates them while throughput-parallel plan queries barely move.
    * SCALE.md §9.3 generalizes the reading (the drain-vs-plan
    * differential).
    */
  def jobRoundTripMsPerOp(spark: SparkSession): Double =
    try {
      spark.range(1).count() // warm the path once, untimed
      val n = 20
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { spark.range(1).count(); i += 1 }
      (System.nanoTime() - t0) / 1e6 / n
    } catch { case _: Throwable => -1.0 }

  /** Median of three SPACED round-trip samples (r16 verdict #2: a
    * single 20-job sample at one instant classifies a fluctuating
    * regime poorly). Three samples ~spacingMs apart span ~1 s of
    * regime; the median ignores one outlier burst in either
    * direction. A failed sample sorts to an end (-1 low), so the
    * median stays meaningful with one failure and reads -1 only when
    * at least two samples fail.
    */
  def jobRoundTripMedian3(spark: SparkSession, spacingMs: Long = 400L): Double = {
    val xs = (1 to 3).map { i =>
      if (i > 1) Thread.sleep(spacingMs)
      jobRoundTripMsPerOp(spark)
    }.sorted
    xs(1)
  }

  def main(args: Array[String]): Unit = {
    // Stable name order so per-query numbers are comparable across
    // rounds. SPARK_GRAFT_ONLY (Board.fromEnv) restricts the run while
    // iterating on one query's plan (dev convenience; the driver's
    // per-round bench leaves it unset and times everything).
    val board = Board.fromEnv().sortBy(_.name)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "5").toInt)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    val spark = SparkEntry.batchSession(defaultCpus = 32)
    // Per-query shuffle-write volume from the runtime's own task
    // metrics (r12 verdict item #6: SCALE.md §9.1 projects per-family
    // shuffle bytes — measure them instead). Counters reset before
    // each query's first rep and snapshot after it; listener events
    // land async, so a short drain pause follows the rep — this is a
    // measurement column, not a gate.
    val shufBytes = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          ()
        }
      }
    })
    val pressureStart = ioPressureFullAvg300()
    val cpuPressureStart = cpuPressureSomeAvg300()
    val fsyncStart = fsyncProbeMsPerOp()
    val roundTripStart = jobRoundTripMedian3(spark)
    // Warm the JVM/session (codegen, file index, JIT) outside the
    // timed region so the first query doesn't absorb ~7s of startup.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/events.parquet").limit(1).count()
    // Order-insensitive content fingerprint for the board-concurrent
    // divergence check (r13 verdict item #8): row count + sum of
    // per-row xxhash64 over every output column. Output schemas are
    // whitelisted scalars (Verify.lintSchema), so the hash is
    // deterministic bitwise; the sum commutes, so partitioning and
    // arrival order never matter. UNTIMED — computed outside every
    // timed region, so the headline statistics keep their r1 meaning.
    def contentHash(df: org.apache.spark.sql.DataFrame): String = {
      import org.apache.spark.sql.functions._
      val cols = df.columns.map(col(_))
      // decimal(38,0) sum: a LONG sum of 64-bit hashes overflows after
      // a handful of rows and ANSI mode (session default) makes that
      // an error, not a wrap.
      val r = df.select(count(lit(1)).as("n"),
        sum(xxhash64(cols: _*).cast("decimal(38,0)")).cast("string").as("h"))
        .collect()(0)
      s"${r.getLong(0)}:${if (r.isNullAt(1)) "0" else r.getString(1)}"
    }
    // A failing query reports -1.0 in the per-query map (visible, not
    // a fake wall-clock figure) and is EXCLUDED from the total, which
    // instead flags it in an explicit "failed" list — summing the
    // sentinel would silently SHRINK the headline number.
    val results: Seq[(BoardQuery, Option[Double], Option[Double], Long, Option[String])] = board.map { q =>
      // The streaming-replay drains run a full writeStream drain
      // (stage + checkpoint + AvailableNow micro-batches) per call;
      // their wall is fixed stream orchestration, not plan cost, so
      // min-of-N buys nothing and would multiply ~3-4 s of setup into
      // the headline. One rep, documented in BENCHNOTES.
      val reps = if (q.drain) 1 else repeats
      shufBytes.set(0L)
      var shuffled = -1L
      // The last successfully-built frame, kept for the untimed
      // content hash: for sr queries it is the drained output's
      // localCheckpoint (re-scanning it is cheap; re-DRAINING for a
      // hash would not be).
      var lastDf: org.apache.spark.sql.DataFrame = null
      val times: Seq[Option[Double]] = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        try {
          val df = q.run(spark, sfDir)
          df.count()
          val sec = (System.nanoTime() - t0) / 1e9
          lastDf = df
          if (i == 1) { Thread.sleep(100); shuffled = shufBytes.get() }
          Some(sec)
        }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
            None
        }
      }
      val cold = if (times.exists(_.isEmpty)) None else Some(times.flatten.min)
      val serialHash: Option[String] =
        if (lastDf == null) None
        else try Some(contentHash(lastDf)) catch { case _: Throwable => None }
      // Warm-plan re-run (round-9 verdict: trivial queries are
      // dominated by per-query plan construction/analysis jitter,
      // masking real deltas in round-over-round diffs): build the
      // frame ONCE, then time only execution. The warm column is the
      // low-noise signal bench_diff uses for its noise band; the cold
      // column stays the headline (it is what a user pays).
      // Two warm reps suffice: with construction/analysis excluded the
      // residual variance is execution-only, far below the cold run's.
      // sr streaming replays are EXCLUDED (r10 ADVICE): building the
      // frame re-runs the whole writeStream drain, and the "warm" count
      // then times an already-materialized localCheckpoint — a fake
      // ~300× speedup that would poison bench_diff's noise band. They
      // report -1.0, which bench_diff's >0 filter drops.
      val warm: Option[Double] =
        if (q.drain) None
        else cold.flatMap { _ =>
          try {
            val df = q.run(spark, sfDir)
            val ts = (1 to math.min(repeats, 2)).map { _ =>
              val t0 = System.nanoTime(); df.count(); (System.nanoTime() - t0) / 1e9
            }
            Some(ts.min)
          } catch { case _: Throwable => None }
        }
      (q, cold, warm, shuffled, serialHash)
    }
    val qs = results
      .map { case (q, v, _, _, _) => "\"" + q.name + "\":" + f"${v.getOrElse(-1.0)}%.3f" }
      .mkString("{", ",", "}")
    val qsWarm = results
      .map { case (q, _, w, _, _) => "\"" + q.name + "\":" + f"${w.getOrElse(-1.0)}%.3f" }
      .mkString("{", ",", "}")
    val qsShuf = results
      .map { case (q, _, _, b, _) => "\"" + q.name + "\":" + b }
      .mkString("{", ",", "}")
    // Per-drain state-store actuals (r13 verdict item #6): rows AND
    // bytes the store held after the drain's last micro-batch, from
    // StreamReplayQueries' per-id drain record. SCALE.md §4's state
    // model is row-derived; this column is what the store actually
    // held, reconciled in SCALE.md §9.1.3. Stateless drains
    // legitimately report 0/0; -1 = never drained.
    val qsState = results.collect { case (q, _, _, _, _) if q.drain =>
      val p = StreamReplayQueries.lastDrainProfile.getOrElse(q.id, Map.empty[String, Long])
      val (rows, bytes) = (p.getOrElse("stateRows", -1L), p.getOrElse("stateBytes", -1L))
      "\"" + q.name + "\":{" + s""""rows":$rows,"bytes":$bytes}"""
    }.mkString("{", ",", "}")
    // Per-drain phase profile from the SERIAL pass (r14 verdict item
    // #2): snapshotted HERE, before the concurrent passes re-drain
    // everything and overwrite the last-writer-wins registry. The
    // split (stateCommit vs addBatch vs setup) is what lets a slow
    // drain's own artifact say "14 of 17 s was state-store fsync".
    val qsDrainProfile = results.collect { case (q, _, _, _, _) if q.drain =>
      val p = StreamReplayQueries.lastDrainProfile.getOrElse(q.id, Map.empty[String, Long])
      "\"" + q.name + "\":" + Seq("batches", "triggerExecution", "addBatch", "walCommit",
        "commitOffsets", "queryPlanning", "source", "stateCommit")
        .map(f => "\"" + f + "\":" + p.getOrElse(f, -1L))
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    // The fixed per-query floor: a pre-listed single-row scan through
    // the same session — what a "0-cost" query measures here.
    val overhead = {
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        spark.read.parquet(s"$sfDir/events.parquet").limit(1).count()
        (System.nanoTime() - t0) / 1e9
      }
      ts.min
    }
    // The 16 sr drains are INDEPENDENT streaming queries: the serial
    // sum above is an artifact of the bench loop, not of any real
    // schedule — a driver submitting the board would drain them
    // concurrently (they share stagings, and the box has 32 cores
    // against 8 shuffle partitions per drain). Measure that schedule
    // too (r12 verdict item #4: "drain pairs of independent sr queries
    // concurrently … Done = all-15 cold ≤45 s"): a second pass drains
    // every sr query again, 4 at a time, each on its own
    // spark.newSession() so withReplayConfs' per-session SQLConf
    // writes cannot race. Per-query numbers in
    // "queries" stay the SERIAL walls (comparable across rounds, and
    // the shuffle listener can only attribute bytes serially); the
    // concurrent group wall ships alongside in "sr_drains". "value"
    // keeps its round-1 meaning (sum of serial colds) — the schedule
    // question is answered by the extra field, not by moving the
    // headline's goalposts.
    val drains = board.filter(_.drain)
    val srSerialSum = results.collect { case (q, Some(v), _, _, _) if q.drain => v }.sum
    val srConcurrency = 4
    val (srWall, srConcFailed): (Double, Seq[String]) =
      if (drains.isEmpty) (0.0, Seq.empty)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(srConcurrency)
        try {
          val t0 = System.nanoTime()
          val futs = drains.map { q =>
            q.name -> pool.submit(new java.util.concurrent.Callable[Boolean] {
              override def call(): Boolean =
                try { q.run(spark.newSession(), sfDir).count(); true }
                catch {
                  case e: Throwable =>
                    System.err.println(
                      s"[bench] concurrent drain ${q.name} FAILED: ${e.getMessage}")
                    false
                }
            })
          }
          val bad = futs.collect { case (n, f) if !f.get() => "\"" + n + "\"" }
          (((System.nanoTime() - t0) / 1e9), bad)
        } finally pool.shutdown()
      }
    // WHOLE-BOARD concurrent schedule (r13 verdict item #8): a driver
    // submitting the 203-query board would interleave EVERYTHING, not
    // just the sr drains — run the full board again at
    // SPARK_GRAFT_BOARD_CONCURRENCY (default 6)-way on isolated
    // newSession()s and ship the wall. Each query's result is
    // fingerprinted (contentHash) and compared against the serial
    // pass's fingerprint: any divergence is a session-isolation bug
    // (shared mutable state, a conf write leaking across sessions) and
    // lands in "hash_divergences" — expected empty, that is the point.
    // Skippable with SPARK_GRAFT_BOARD_CONCURRENCY=0 for quick subset
    // iterations.
    val serialHashes: Map[String, String] =
      results.collect { case (q, _, _, _, Some(h)) => q.name -> h }.toMap
    val boardConcurrency = math.max(0,
      sys.env.getOrElse("SPARK_GRAFT_BOARD_CONCURRENCY", "6").toInt)
    val (boardWall, boardDiverged, boardFailed): (Double, Seq[String], Seq[String]) =
      if (boardConcurrency == 0) (0.0, Seq.empty, Seq.empty)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(boardConcurrency)
        try {
          val t0 = System.nanoTime()
          val futs = board.map { q =>
            q.name -> pool.submit(new java.util.concurrent.Callable[Option[String]] {
              override def call(): Option[String] =
                try Some(contentHash(q.run(spark.newSession(), sfDir)))
                catch {
                  case e: Throwable =>
                    System.err.println(
                      s"[bench] board-concurrent ${q.name} FAILED: ${e.getMessage}")
                    None
                }
            })
          }
          val outcomes = futs.map { case (n, f) => n -> f.get() }
          val wall = (System.nanoTime() - t0) / 1e9
          val diverged = outcomes.collect {
            case (n, Some(h)) if serialHashes.get(n).exists(_ != h) => "\"" + n + "\""
          }
          val bad = outcomes.collect { case (n, None) => "\"" + n + "\"" }
          (wall, diverged, bad)
        } finally pool.shutdown()
      }
    val failed = results.collect { case (q, None, _, _, _) => "\"" + q.name + "\"" }
    // With any failure the green-subset sum is NOT a comparable
    // headline (round 8: 53 failures read as a "41% speedup" to any
    // consumer ignoring the failed list) — report null instead.
    val total =
      if (failed.nonEmpty) "null" else results.flatMap(_._2).sum.toString
    val pressureEnd = ioPressureFullAvg300()
    val cpuPressureEnd = cpuPressureSomeAvg300()
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""queries_warm":$qsWarm,""" +
        s""""shuffle_bytes_written":$qsShuf,""" +
        s""""state_actuals":$qsState,""" +
        s""""drain_profile":$qsDrainProfile,""" +
        f""""io_pressure_full_avg300":{"start":$pressureStart%.2f,"end":$pressureEnd%.2f},""" +
        f""""cpu_pressure_some_avg300":{"start":$cpuPressureStart%.2f,"end":$cpuPressureEnd%.2f},""" +
        f""""fsync_probe_ms":{"start":$fsyncStart%.2f},""" +
        f""""job_roundtrip_ms":{"start":$roundTripStart%.2f},""" +
        f""""sr_drains":{"serial_sum":$srSerialSum%.3f,"concurrent_wall":$srWall%.3f,""" +
        s""""concurrency":$srConcurrency,""" +
        s""""failed":${srConcFailed.mkString("[", ",", "]")}},""" +
        f""""board_concurrent":{"wall":$boardWall%.3f,"concurrency":$boardConcurrency,""" +
        s""""hash_divergences":${boardDiverged.mkString("[", ",", "]")},""" +
        s""""failed":${boardFailed.mkString("[", ",", "]")}},""" +
        f""""overhead":$overhead%.3f,""" +
        s""""sf":"$sfDir","repeats":$repeats,"stat":"min",""" +
        s""""failed":${failed.mkString("[", ",", "]")}}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        (line + "\n").getBytes("UTF-8"))
    } catch {
      case e: Exception =>
        System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    println(line)
    // Compact machine-parseable tail (r16 verdict #3): the full line
    // has outgrown what the driver's stdout capture keeps (every
    // BENCH_r13–r16 artifact carries parsed:null with a mid-JSON
    // truncated tail), so the LAST stdout line is a <256-byte summary
    // any tail capture survives. The full line still lands in
    // SPARK_GRAFT_BENCH_OUT (single-line file, json.load-able).
    val summary =
      s"""{"bench_summary":{"total":$total,"n":${board.size},""" +
        s""""failed":${failed.size},""" +
        f""""roundtrip_ms":$roundTripStart%.1f}}"""
    println(summary)
    spark.stop()
  }
}
