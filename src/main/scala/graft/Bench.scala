package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query on
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
    * co-tenant CPU contention is invisible to the io gate — so ambient
    * CPU stall at run START joins the cleanliness gate (start only:
    * the bench itself legitimately saturates the cores once running,
    * so the END reading measures us, not the neighbors).
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

  /** A run is comparable to best-known only when the host was quiet:
    * r12's three same-code runs spanned ±20% with full-avg300 up to
    * ~8; the clean runs sat below 1. Threshold 1.0 (percent).
    */
  val PressureCleanMax = 1.0

  /** Ambient CPU-stall ceiling at run START for a comparable run. The
    * bench's own load dominates cpu-some once running, so only the
    * pre-run reading speaks for the neighbors; 5% of the trailing
    * 5 min is idle-host territory, while the r13 contended run that
    * motivated this sat well above it.
    */
  val CpuPressureCleanMax = 5.0

  /** Direct fsync-latency probe (ms per 256 KB write+force over 24
    * ops) against the RESOLVED replay scratch root — the device the
    * drains' checkpoints and state stores actually commit to
    * (ReplayStaging.scratchRoot: SPARK_GRAFT_SCRATCH override, else
    * /dev/shm when roomy, else java.io.tmpdir). The r14 driver run
    * inflated the fsync-sensitive drains 1.8–11× while io full-avg300
    * peaked at 0.17 — far below PressureCleanMax — so the pressure
    * gates alone cannot certify a drain re-measure: dirty-page
    * writeback throttles each fsync without ever stalling ALL runnable
    * tasks. This probes the exact primitive the state-store commit
    * path pays ON THE SAME DEVICE (r15 verdict item #2: probing
    * java.io.tmpdir gated drain verdicts on the wrong disk whenever a
    * scratch override pointed elsewhere; a tmpfs scratch legitimately
    * reads ~0 — its drains are not fsync-bound and should never be
    * fsync-gated). Quiet disk: 1–2 ms/op on this box's /tmp device;
    * writeback storms push it 10–100×. Gates drain/wall verdicts
    * alongside io/cpu pressure.
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

  /** Ceiling for a CLEAN fsync probe reading, ms/op: ~5× the quiet
    * baseline, far below any writeback storm's 20–200 ms/op.
    */
  val FsyncCleanMax = 10.0

  /** Driver→executor job ROUND-TRIP floor: ms per one-row job over 20
    * sequential `spark.range(1).count()` calls. Added r16 after a
    * measured blind-spot instance the other three gates all missed: a
    * host regime where the sr drains ran 2–7× over best on BOTH the
    * r15 and r16 jars (code-identical A/B, BENCHNOTES "Round 16"),
    * with io-pressure 0.0, cpu-some 0.4, fsync 0.07 ms (tmpfs) — and
    * 5.4% hypervisor steal under load. Drains are SEQUENTIAL
    * micro-batch orchestration: hundreds of driver→executor round
    * trips and per-partition state commits, so scheduling-latency
    * degradation inflates them while throughput-parallel plan queries
    * barely move (that run: 3 plan flags, 14 drain/wall flags). This
    * probes the exact primitive. Shipped at run start and around EVERY
    * re-measure (median-of-3 spaced samples since r17), and GATES every
    * verdict kind (RoundTripCleanMax) — plan and eager re-measures are
    * sequential few-job affairs too, and the r16 driver artifact minted
    * a false plan "confirmed" in a 176 ms/job regime the drain-only
    * gate ignored. In the degraded regime it read a stable 127–180
    * ms/job across six consecutive probes while the r15 drain
    * best-knowns bound the healthy floor from above at ≲20 ms/job (a
    * 2.3 s three-batch stateful drain is not achievable otherwise) — so
    * 50 ms separates the regimes with wide margin on both sides, and a
    * re-measure taken in this regime honestly reads 'unresolved'
    * instead of 'confirmed'. Every reading also lands in the rolling
    * cross-run log (appendRoundTripLog) so the regime's persistence is
    * a measured distribution, not an anecdote. The operational lesson
    * is generalized in SCALE.md §9.3 (the FOURTH host-health gauge:
    * sequential-orchestration latency, diagnosed by the drain-vs-plan
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

  /** Ceiling for a CLEAN job-round-trip reading, ms/job: well above
    * the healthy floor the drain best-knowns imply (≲20), well below
    * the measured degraded regime (127–180).
    */
  val RoundTripCleanMax = 50.0

  /** Median of three SPACED round-trip samples (r16 verdict #2: a
    * single 20-job sample at one instant classifies a fluctuating
    * regime poorly — the r16 runs probed 176–199 ms at start yet
    * delivered near-best walls minutes later, and vice versa). Three
    * samples ~spacingMs apart span ~1 s of regime; the median ignores
    * one outlier burst in either direction. A failed sample sorts to
    * an end (-1 low), so the median stays meaningful with one failure
    * and reads -1 only when at least two samples fail.
    */
  def jobRoundTripMedian3(spark: SparkSession, spacingMs: Long = 400L): Double = {
    val xs = (1 to 3).map { i =>
      if (i > 1) Thread.sleep(spacingMs)
      jobRoundTripMsPerOp(spark)
    }.sorted
    xs(1)
  }

  /** Rolling cross-run round-trip ledger (r16 verdict #2): every
    * reading — run start and each re-measure's — appends one line to
    * ROUNDTRIP_LOG.jsonl with a wall-clock stamp and its context, so
    * the regime question ("is 127–199 ms this host's new floor, or an
    * intermittent storm?") is answered by a measured distribution
    * across runs instead of per-round anecdotes. Append-only and
    * fail-silent: a log write can never affect a verdict.
    */
  def appendRoundTripLog(context: String, ms: Double): Unit =
    try {
      val line =
        f"""{"t_ms":${System.currentTimeMillis()},"context":"$context","ms":$ms%.2f}""" + "\n"
      java.nio.file.Files.write(
        java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_RT_LOG", "ROUNDTRIP_LOG.jsonl")),
        line.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      ()
    } catch { case _: Throwable => () }

  /** Timing noise has an ABSOLUTE component as well as a relative
    * one: on this 32-core box a warm execution's scheduler/GC jitter
    * is ~±100 ms regardless of query size, so a pure 1.5× threshold
    * sits INSIDE the natural variance band of any query whose best is
    * under ~400 ms. Measured on d21 (best 0.148 s, code untouched
    * since r11, cold flat at 1.25–1.41 s across five runs spanning two
    * rounds): its warm oscillates 0.19–0.31 s, chronically flagging
    * and once even "confirming" at 0.258 s — a factually wrong verdict
    * produced by a noise-calibrated-as-signal threshold. The flag and
    * the ambient rule both carry this absolute headroom; a real
    * regression of even a 150 ms query (to >0.42 s) still flags, and
    * at drain/wall scale the term is negligible.
    */
  val RegressionAbsFloorSec = 0.2

  /** A measurement regresses vs best iff it exceeds BOTH the relative
    * threshold and the absolute jitter floor — the one comparison the
    * flag pass and every verdict share.
    */
  def regressedVsBest(t: Double, best: Double): Boolean =
    t > 1.5 * best + RegressionAbsFloorSec

  /** THE verdict rule, shared by every adjudication surface (plan
    * warms, drain colds, schedule walls) so the three can never
    * silently diverge: re back inside the flag threshold → ambient
    * (the flag was the neighbors); still slow on a re-measure whose
    * entry gates were clean → confirmed; otherwise unresolved (the
    * re-measure itself was contended — no verdict can be honest).
    * `fsyncGated` adds the fsync probe to the gates for the
    * fsync-bound surfaces (drains, walls); plan queries gate on
    * io/cpu pressure only.
    */
  def verdictOf(re: Double, best: Double, io: Double, cpu: Double,
                fs: Double, fsyncGated: Boolean,
                rt: Double = -1.0, rtGated: Boolean = false): String = {
    val clean = io >= 0 && io <= PressureCleanMax &&
      cpu >= 0 && cpu <= CpuPressureCleanMax &&
      (!fsyncGated || (fs >= 0 && fs <= FsyncCleanMax)) &&
      (!rtGated || (rt >= 0 && rt <= RoundTripCleanMax))
    if (re >= 0 && !regressedVsBest(re, best)) "ambient"
    else if (re >= 0 && clean) "confirmed"
    else "unresolved"
  }

  /** Parse a flat {"name": seconds} ledger (BENCH_BEST.json). \s*
    * after the colon matters: the ledger is written by
    * merge_ledgers.py (json.dump puts a space after the colon) — the
    * old no-space regex parsed ZERO entries from that format, which
    * disabled the whole regression layer with no error (caught r15
    * while forcing a flag in a smoke test; BenchBestParseSpec pins
    * both formats).
    */
  def parseBestKnown(s: String): Map[String, Double] =
    """"([^"]+)":\s*([0-9.]+)""".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  /** Plan queries whose real work happens at frame-CONSTRUCTION time:
    * iterative operators that localCheckpoint(eager=true) or collect
    * mid-build (k-means assignment rounds, connected-components
    * large/small-star rounds, BPE merge training, TextRank iterations,
    * term-frequency materialization), the TestKafka batch read's
    * staging, v8's compact() job, and q12's first-touch file listing.
    * For these the WARM column only re-counts a cached frame — warm/
    * cold < 0.2 measured on every entry here (BENCH_LOCAL r15: v8
    * 0.094 warm vs 1.754 cold, d11 0.219 vs 1.944) — so a warm-based
    * flag guards a cached count, not the job (r15 verdict item #1,
    * the same blind-spot shape r15 fixed for the sr drains). Each
    * entry gets a COLD best-known under the ledger key "cold:<name>"
    * and flags/adjudicates on its cold min alongside its normal warm
    * flag. Membership criterion: measured warm/cold < 0.35 on a
    * pressure-clean run AND construction-time side effects in the
    * operator (c2/t10/x26/x27/x30 also checkpoint mid-build but their
    * downstream work dominates — warm/cold ≥ 0.7 — so warm already
    * measures them).
    */
  val EagerPlanQueries: Set[String] = Set(
    "c1_kmeans", "c3_cluster_quality", "c4_prototype_prune",
    "d9_dup_clusters", "d11_near_dedup_cc", "d15_quality_dedup",
    "d17_semantic_dedup", "d21_lsh_tuning",
    "p8_kafka_bounded_read", "q12_catalog",
    "t13_bpe_encode", "t14_textrank",
    "v8_compaction", "x29_importance_weights", "x31_lm_quality")

  /** One fired regression flag: `key` is the ledger key the flag was
    * computed against ("cold:<name>" for the eager-cold surface),
    * `name` the runnable query, `kind` selects the re-measure
    * discipline and gate set ("plan" = warm min of a once-built frame,
    * io/cpu gates; "eager" = cold construct+count mins, io/cpu gates;
    * "drain" = one full re-drain, io/cpu+fsync gates).
    */
  final case class Flag(key: String, name: String, kind: String,
                        t: Double, best: Double)

  def main(args: Array[String]): Unit = {
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
    val shufRecords = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          ()
        }
      }
    })
    val pressureStart = ioPressureFullAvg300()
    val cpuPressureStart = cpuPressureSomeAvg300()
    val fsyncStart = fsyncProbeMsPerOp()
    // SPARK_GRAFT_BENCH_FORCE_RT forces every round-trip reading — for
    // the adjudicator smoke's degraded-regime case ONLY (same contract
    // as ASSUME_CLEAN: the run records roundtrip_forced=true and
    // merge_ledgers refuses to fold it, so a forced run can never
    // poison best-knowns or launder a verdict).
    val forceRt = sys.env.get("SPARK_GRAFT_BENCH_FORCE_RT").map(_.toDouble)
    // Every reading is a median-of-3 spaced sample and lands in the
    // rolling cross-run log (both r16 verdict #2).
    def rtReading(context: String): Double = {
      val ms = forceRt.getOrElse(jobRoundTripMedian3(spark))
      appendRoundTripLog(context, ms)
      ms
    }
    val roundTripStart = rtReading("start")
    // Best-known warm mins (BENCH_BEST.json, maintained per round from
    // pressure-clean runs): the cross-round regression gate. A warm
    // time > 1.5x best-known on a PRESSURE-CLEAN run is flagged in the
    // output's "regressions" list — in CI output, not a human's memory
    // (r12 verdict item #2).
    val bestKnown: Map[String, Double] = {
      val f = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_BEST", "BENCH_BEST.json"))
      if (!java.nio.file.Files.exists(f)) Map.empty
      else {
        parseBestKnown(new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
      }
    }
    // Warm the JVM/session (codegen, file index, JIT) outside the
    // timed region so the first query doesn't absorb ~7s of startup.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/events.parquet").limit(1).count()
    // Stable iteration order so per-query numbers are comparable
    // across rounds. SPARK_GRAFT_ONLY=a1,d9 restricts the run while
    // iterating on one query's plan (dev convenience; the driver's
    // per-round bench leaves it unset and times everything).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
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
    val results: Seq[(String, Option[Double], Option[Double], Long, Option[String])] = names.map { name =>
      val fn = SparkEntry.queries(name)
      // The sr streaming-replay queries run a full writeStream drain
      // (stage + checkpoint + AvailableNow micro-batches) per call;
      // their wall is fixed stream orchestration, not plan cost, so
      // min-of-N buys nothing and would multiply ~3-4 s of setup into
      // the headline. One rep, documented in BENCHNOTES.
      val reps = if (name.startsWith("sr")) 1 else repeats
      shufBytes.set(0L); shufRecords.set(0L)
      var shuffled = -1L
      // The last successfully-built frame, kept for the untimed
      // content hash: for sr queries it is the drained output's
      // localCheckpoint (re-scanning it is cheap; re-DRAINING for a
      // hash would not be).
      var lastDf: org.apache.spark.sql.DataFrame = null
      val times: Seq[Option[Double]] = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        try {
          val df = fn(spark, sfDir)
          df.count()
          val sec = (System.nanoTime() - t0) / 1e9
          lastDf = df
          if (i == 1) { Thread.sleep(100); shuffled = shufBytes.get() }
          Some(sec)
        }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
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
        if (name.startsWith("sr")) None
        else cold.flatMap { _ =>
          try {
            val df = fn(spark, sfDir)
            val ts = (1 to math.min(repeats, 2)).map { _ =>
              val t0 = System.nanoTime(); df.count(); (System.nanoTime() - t0) / 1e9
            }
            Some(ts.min)
          } catch { case _: Throwable => None }
        }
      (name, cold, warm, shuffled, serialHash)
    }
    val qs = results
      .map { case (k, v, _, _, _) => "\"" + k + "\":" + f"${v.getOrElse(-1.0)}%.3f" }
      .mkString("{", ",", "}")
    val qsWarm = results
      .map { case (k, _, w, _, _) => "\"" + k + "\":" + f"${w.getOrElse(-1.0)}%.3f" }
      .mkString("{", ",", "}")
    val qsShuf = results
      .map { case (k, _, _, b, _) => "\"" + k + "\":" + b }
      .mkString("{", ",", "}")
    // Per-drain state-store actuals (r13 verdict item #6): rows AND
    // bytes the store held after the drain's last micro-batch, from
    // StreamReplayQueries' per-tag drain record. SCALE.md §4's state
    // model is row-derived; this column is what the store actually
    // held, reconciled in SCALE.md §9.1.3. Stateless drains
    // legitimately report 0/0; -1 = never drained.
    val qsState = results.collect { case (k, _, _, _, _) if k.startsWith("sr") =>
      val p = StreamReplayQueries.lastDrainProfile.getOrElse(k.split("_")(0), Map.empty[String, Long])
      val (rows, bytes) = (p.getOrElse("stateRows", -1L), p.getOrElse("stateBytes", -1L))
      "\"" + k + "\":{" + s""""rows":$rows,"bytes":$bytes}"""
    }.mkString("{", ",", "}")
    // Per-drain phase profile from the SERIAL pass (r14 verdict item
    // #2): snapshotted HERE, before the concurrent passes re-drain
    // everything and overwrite the last-writer-wins registry. The
    // split (stateCommit vs addBatch vs setup) is what lets a flagged
    // drain's own artifact say "14 of 17 s was state-store fsync".
    def renderProfile(p: Map[String, Long]): String =
      Seq("batches", "triggerExecution", "addBatch", "walCommit",
        "commitOffsets", "queryPlanning", "source", "stateCommit")
        .map(k => "\"" + k + "\":" + p.getOrElse(k, -1L))
        .mkString("{", ",", "}")
    val qsDrainProfile = results.collect { case (k, _, _, _, _) if k.startsWith("sr") =>
      "\"" + k + "\":" + renderProfile(
        StreamReplayQueries.lastDrainProfile
          .getOrElse(k.split("_")(0), Map.empty[String, Long]))
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
    val srNames = names.filter(_.startsWith("sr"))
    val srSerialSum = results
      .collect { case (k, Some(v), _, _, _) if k.startsWith("sr") => v }.sum
    val srConcurrency = 4
    def runSrConcurrent(): (Double, Seq[String]) =
      if (srNames.isEmpty) (0.0, Seq.empty)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(srConcurrency)
        try {
          val t0 = System.nanoTime()
          val futs = srNames.map { name =>
            name -> pool.submit(new java.util.concurrent.Callable[Boolean] {
              override def call(): Boolean =
                try { SparkEntry.queries(name)(spark.newSession(), sfDir).count(); true }
                catch {
                  case e: Throwable =>
                    System.err.println(
                      s"[bench] concurrent drain $name FAILED: ${e.getMessage}")
                    false
                }
            })
          }
          val bad = futs.collect { case (n, f) if !f.get() => "\"" + n + "\"" }
          (((System.nanoTime() - t0) / 1e9), bad)
        } finally pool.shutdown()
      }
    val (srWall, srConcFailed): (Double, Seq[String]) = runSrConcurrent()
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
      results.collect { case (k, _, _, _, Some(h)) => k -> h }.toMap
    val boardConcurrency = math.max(0,
      sys.env.getOrElse("SPARK_GRAFT_BOARD_CONCURRENCY", "6").toInt)
    def runBoardConcurrent(): (Double, Seq[String], Seq[String]) =
      if (boardConcurrency == 0 || names.isEmpty) (0.0, Seq.empty, Seq.empty)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(boardConcurrency)
        try {
          val t0 = System.nanoTime()
          val futs = names.map { name =>
            name -> pool.submit(new java.util.concurrent.Callable[Option[String]] {
              override def call(): Option[String] =
                try Some(contentHash(SparkEntry.queries(name)(spark.newSession(), sfDir)))
                catch {
                  case e: Throwable =>
                    System.err.println(
                      s"[bench] board-concurrent $name FAILED: ${e.getMessage}")
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
    val (boardWall, boardDiverged, boardFailed): (Double, Seq[String], Seq[String]) =
      runBoardConcurrent()
    val failed = results.collect { case (k, None, _, _, _) => "\"" + k + "\"" }
    // With any failure the green-subset sum is NOT a comparable
    // headline (round 8: 53 failures read as a "41% speedup" to any
    // consumer ignoring the failed list) — report null instead.
    val total =
      if (failed.nonEmpty) "null" else results.flatMap(_._2).sum.toString
    val pressureEnd = ioPressureFullAvg300()
    val cpuPressureEnd = cpuPressureSomeAvg300()
    // SPARK_GRAFT_BENCH_ASSUME_CLEAN=1 forces the cleanliness verdict
    // for the check.sh ADJUDICATOR LIVENESS SMOKE only (r15 verdict
    // item #8: every guard layer so far had one surface it didn't
    // cover, and the flag pass itself went silently vacuous once) —
    // the smoke must prove a flag can fire even on a contended host,
    // against a synthetic ledger. The flag is recorded in the output
    // as pressure_clean_forced and merge_ledgers.py REFUSES to fold
    // such a run, so a forced run can never poison best-knowns.
    val assumeClean = sys.env.get("SPARK_GRAFT_BENCH_ASSUME_CLEAN").contains("1")
    val pressureClean = assumeClean || (pressureStart >= 0 && pressureEnd >= 0 &&
      math.max(pressureStart, pressureEnd) <= PressureCleanMax &&
      cpuPressureStart >= 0 && cpuPressureStart <= CpuPressureCleanMax)
    // >1.5x best-known, flagged ONLY on pressure-clean runs — host
    // contention can never fabricate a regression, and a clean
    // regression can never hide behind "maybe the host was busy".
    // Three flag surfaces, one rule (regressedVsBest):
    //  - plan queries flag on their WARM min (low-noise execution-only
    //    signal) against the bare ledger key;
    //  - sr drains flag on their COLD one-rep wall against a best-known
    //    COLD min — drains have no warm column by design, and until r15
    //    they had no best-known either, so the shipped r14 artifact
    //    carried an 11× drain outlier with regressions:{} (r14 verdict
    //    item #1);
    //  - EAGER plan queries (EagerPlanQueries) ALSO flag on their COLD
    //    min against "cold:<name>" — their warm only re-counts a
    //    cached frame, so until r16 a 10× regression in compact() or
    //    the CC rounds would have shipped with regressions:{} (r15
    //    verdict item #1: the same blind-spot shape, third surface).
    val regressionFlags: Seq[Flag] =
      if (!pressureClean) Seq.empty else results.flatMap {
        case (k, cOpt, wOpt, _, _) =>
          val plan = for {
            w <- wOpt
            b <- bestKnown.get(k) if b > 0 && regressedVsBest(w, b)
          } yield Flag(k, k, "plan", w, b)
          val drain = if (!k.startsWith("sr")) None else for {
            c <- cOpt
            b <- bestKnown.get(k) if b > 0 && regressedVsBest(c, b)
          } yield Flag(k, k, "drain", c, b)
          val eager = if (!EagerPlanQueries.contains(k)) None else for {
            c <- cOpt
            b <- bestKnown.get(s"cold:$k") if b > 0 && regressedVsBest(c, b)
          } yield Flag(s"cold:$k", k, "eager", c, b)
          Seq(plan, drain, eager).flatten
      }
    // Flag-list render: "warm" names the plan queries' statistic;
    // drains and eager colds carry the neutral "measured" (r15 ADVICE:
    // a drain's one-rep COLD wall rendered under a "warm" key misreads
    // as a warm min to artifact consumers).
    def measuredKey(kind: String): String =
      if (kind == "plan") "warm" else "measured"
    val regressions = regressionFlags.map { f =>
      f""""${f.key}":{"${measuredKey(f.kind)}":${f.t}%.3f,"best":${f.best}%.3f,"kind":"${f.kind}"}"""
    }
    // The uniform-vs-skewed diagnostic, codified: one plan regression
    // flags one query; ambient contention that slipped past both
    // pressure gates flags MANY at once (r13 contended runs flagged
    // 6/9/15 queries simultaneously with io 0.0 and a clean cpu START
    // — the contender arrived mid-run — while every genuine plan
    // regression in the ledger's history flagged exactly one). The
    // flag ANNOTATES the list, it never suppresses it, so the cheap
    // threshold errs toward annotating: >3 simultaneous flags.
    val regressionsSuspectAmbient = regressions.size > 3
    // ADJUDICATION (r13 verdict item #1): the re-measure discipline
    // that cleared b14 and v2 used to live in a human — the bench now
    // closes the loop itself. Each flagged query is re-run STANDALONE
    // after the main loop (nothing else on the session, pressure
    // re-read around the re-measure), min of 3 warm executions of a
    // once-built frame — the same statistic the flag was computed
    // from. Verdicts:
    //   re ≤ 1.5×best               → ambient (the flag was the
    //                                 neighbors; tonight's 15-flag run
    //                                 self-resolves to zero confirmed)
    //   re > 1.5×best, re-pressure
    //     clean                     → confirmed (still slow alone on a
    //                                 quiet host: a real regression)
    //   re > 1.5×best, re-pressure
    //     dirty                     → unresolved (the re-measure itself
    //                                 was contended; no verdict can be
    //                                 honest)
    // Since r15 the sr DRAINS enter too (r14 verdict item #1): a
    // flagged drain re-runs its full writeStream drain ONCE standalone
    // (the same one-rep cold statistic its flag was computed from),
    // with the fsync probe read around the re-measure in addition to
    // the pressure gates — drains are fsync-bound, and r14's inflation
    // sat at io 0.17, invisible to the pressure gates alone. A drain
    // verdict ships its re-measure's phase profile (stateCommit vs
    // addBatch vs setup) so the artifact itself explains the reading.
    // Each kind re-measures the SAME statistic its flag was computed
    // from: plan = warm min-of-3 of a once-built frame; eager = cold
    // min-of-3 full construct+count rebuilds (the construction IS the
    // job for these — a warm re-measure would re-count the cached
    // frame and acquit every real regression); drain = one full
    // re-drain. Drains alone are fsync-gated: their cost is
    // state-store commit, while plan/eager work is compute + local
    // checkpoint writes that never force().
    final case class Adjudicated(flag: Flag, re: Double, reIo: Double,
                                 reCpu: Double, reFsync: Double,
                                 reRoundTrip: Double,
                                 reProfile: Option[String])
    val (regConfirmed, regAmbient, regUnresolved) = {
      val adjudicated = regressionFlags.map { f =>
        val isDrain = f.kind == "drain"
        val io0 = ioPressureFullAvg300(); val cpu0 = cpuPressureSomeAvg300()
        val fs0 = if (isDrain) fsyncProbeMsPerOp() else -1.0
        // Scheduler-latency reading around EVERY re-measure, gating
        // every kind (r17, closing r16 verdict #1): the driver's r16
        // artifact minted its only "confirmed" — a PLAN query
        // (x34_bigram_lm, 1.79× best) — in a 176 ms/job regime the
        // drain-only gate ignored; the judge's re-measure on the same
        // regime acquitted it at 1.20 s. A plan/eager re-measure is a
        // handful of sequential jobs, so a degraded scheduler inflates
        // a sub-second warm right through the flag line exactly like
        // a drain. A fast re-measure still acquits as ambient in any
        // regime (contention can only inflate) — only the "confirmed"
        // branch needs the cleanliness guard.
        val rt0 = rtReading(s"re:${f.key}")
        val re =
          try {
            f.kind match {
              case "drain" =>
                val t0 = System.nanoTime()
                SparkEntry.queries(f.name)(spark, sfDir).count()
                (System.nanoTime() - t0) / 1e9
              case "eager" =>
                (1 to 3).map { _ =>
                  val t0 = System.nanoTime()
                  SparkEntry.queries(f.name)(spark, sfDir).count()
                  (System.nanoTime() - t0) / 1e9
                }.min
              case _ =>
                val df = SparkEntry.queries(f.name)(spark, sfDir)
                (1 to 3).map { _ =>
                  val t0 = System.nanoTime(); df.count(); (System.nanoTime() - t0) / 1e9
                }.min
            }
          } catch { case _: Throwable => -1.0 }
        val io1 = ioPressureFullAvg300(); val cpu1 = cpuPressureSomeAvg300()
        // Profile only when the re-measure SUCCEEDED: on a failed
        // re-drain the registry still holds the tag's last successful
        // drain (the concurrent pass), and shipping that would explain
        // the wrong measurement.
        val reProfile =
          if (isDrain && re >= 0)
            StreamReplayQueries.lastDrainProfile.get(f.name.split("_")(0))
              .map(renderProfile)
          else None
        // fsync gate = ENTRY probe only (fs0): a drain's own state
        // commits dirty the page cache, so a post-drain probe reads
        // the re-measure's self-inflicted writeback and would bias
        // every real drain regression toward "unresolved" — the same
        // start-only reasoning as the cpu-pressure gate.
        Adjudicated(f, re, math.max(io0, io1), math.max(cpu0, cpu1), fs0,
          rt0, reProfile)
      }
      def render(a: Adjudicated): String =
        f""""${a.flag.key}":{"${measuredKey(a.flag.kind)}":${a.flag.t}%.3f,""" +
          f""""best":${a.flag.best}%.3f,"kind":"${a.flag.kind}",""" +
          f""""remeasure":${a.re}%.3f,"re_io":${a.reIo}%.2f,"re_cpu":${a.reCpu}%.2f,""" +
          f""""re_roundtrip_ms":${a.reRoundTrip}%.2f""" +
          (if (a.flag.kind == "drain")
            f""","re_fsync_ms":${a.reFsync}%.2f"""
          else "") +
          a.reProfile.map(p => s""","re_profile":$p""").getOrElse("") + "}"
      def verdict(a: Adjudicated): String =
        verdictOf(a.re, a.flag.best, a.reIo, a.reCpu, a.reFsync,
          fsyncGated = a.flag.kind == "drain",
          rt = a.reRoundTrip, rtGated = true)
      val ambient = adjudicated.filter(verdict(_) == "ambient")
      val confirmed = adjudicated.filter(verdict(_) == "confirmed")
      val unresolved = adjudicated.filter(verdict(_) == "unresolved")
      (confirmed.map(render), ambient.map(render), unresolved.map(render))
    }
    // WALL adjudication (r14 verdict items #1/#8): the two concurrent
    // schedules get best-known walls of their own (BENCH_BEST keys
    // "wall:sr_concurrent"/"wall:board_concurrent"). A pressure-clean
    // wall >1.5× best re-runs its WHOLE schedule once — expensive, but
    // only paid when flagged — with pressure + fsync read around it,
    // and ships confirmed/ambient/unresolved by the same rules, so an
    // r14-style 5× board-wall inflation self-adjudicates in the JSON
    // instead of silently doubling the round's wall-clock reading.
    def adjudicateWall(key: String, wall: Double, active: Boolean,
                       rerun: () => Double): String = {
      val best = bestKnown.get(key).filter(_ > 0)
      val flagged = pressureClean && active &&
        best.exists(b => regressedVsBest(wall, b))
      val head = f""""$key":{"wall":$wall%.3f,"best":${best.getOrElse(-1.0)}%.3f"""
      if (!flagged) head + ""","flagged":false}"""
      else {
        val io0 = ioPressureFullAvg300(); val cpu0 = cpuPressureSomeAvg300()
        val fs0 = fsyncProbeMsPerOp()
        val rt0 = rtReading(s"re:$key")
        val re = try rerun() catch { case _: Throwable => -1.0 }
        val io1 = ioPressureFullAvg300(); val cpu1 = cpuPressureSomeAvg300()
        // fsync/round-trip gates = entry probes only (see the drain
        // adjudication note: the schedule's own writes dirty the page
        // cache, and its own task storm would inflate a post-run
        // round-trip reading).
        val (io, cpu, fs) =
          (math.max(io0, io1), math.max(cpu0, cpu1), fs0)
        val verdict = verdictOf(re, best.getOrElse(-1.0), io, cpu, fs,
          fsyncGated = true, rt = rt0, rtGated = true)
        head + f""","flagged":true,"remeasure":$re%.3f,"re_io":$io%.2f,""" +
          f""""re_cpu":$cpu%.2f,"re_fsync_ms":$fs%.2f,""" +
          f""""re_roundtrip_ms":$rt0%.2f,"verdict":"$verdict"}"""
      }
    }
    val wallsJson = Seq(
      adjudicateWall("wall:sr_concurrent", srWall, srNames.nonEmpty,
        () => runSrConcurrent()._1),
      adjudicateWall("wall:board_concurrent", boardWall,
        boardConcurrency > 0 && names.nonEmpty,
        () => runBoardConcurrent()._1)
    ).mkString("{", ",", "}")
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
        s""""pressure_clean":$pressureClean,""" +
        s""""pressure_clean_forced":$assumeClean,""" +
        s""""roundtrip_forced":${forceRt.isDefined},""" +
        // The eager-query roster THIS run ran, for merge_ledgers: it
        // folds these queries' COLD mins into "cold:<name>" ledger
        // entries (the registry lives in one place — here — so the
        // merge script can never drift from the flag pass).
        s""""eager":${names.filter(EagerPlanQueries.contains)
          .map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""regressions":${regressions.mkString("{", ",", "}")},""" +
        s""""regressions_suspect_ambient":$regressionsSuspectAmbient,""" +
        s""""regressions_confirmed":${regConfirmed.mkString("{", ",", "}")},""" +
        // The uniform-vs-skewed diagnostic, applied to VERDICTS (r16):
        // a real regression confirms ONE query (or one family changed
        // by one commit); a host regime none of the entry gates sees —
        // measured live this round: drains 2–7× over best on two
        // code-identical jars with io/cpu/fsync all clean — confirms
        // MANY at once. >3 simultaneous confirmations annotates (never
        // suppresses) the list, same rule as the flag-level field.
        s""""confirmed_suspect_ambient":${regConfirmed.size > 3},""" +
        s""""regressions_ambient":${regAmbient.mkString("{", ",", "}")},""" +
        s""""regressions_unresolved":${regUnresolved.mkString("{", ",", "}")},""" +
        s""""walls":$wallsJson,""" +
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
      s"""{"bench_summary":{"total":$total,"n":${names.size},""" +
        s""""failed":${failed.size},"flags":${regressionFlags.size},""" +
        s""""confirmed":${regConfirmed.size},"ambient":${regAmbient.size},""" +
        s""""unresolved":${regUnresolved.size},""" +
        f""""roundtrip_ms":$roundTripStart%.1f,""" +
        s""""pressure_clean":$pressureClean}}"""
    println(summary)
    spark.stop()
  }
}
