package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One micro-batch of one streaming query, as its progress event
  * reports it. `startMs` is the trigger start; the batch has committed
  * by `endMs`, when its progress is reported.
  */
final case class BatchRecord(query: String, runId: String, batchId: Long, startMs: Long,
                             phases: Map[String, Long], rows: Long,
                             stateRows: Long, stateBytes: Long, stateCommitMs: Long,
                             lateDropped: Long, startOffset: String, endOffset: String) {
  def endMs: Long = startMs + phases.getOrElse("triggerExecution", 0L)
}

/** Reads the engine's public progress and scheduler events. Streaming
  * batches come from `StreamingQueryListener`; jobs and tasks of the
  * serving panels come from a `SparkListener`, attributed through the
  * job group each panel request sets on its thread.
  */
final class Probe(spark: SparkSession) {
  private val batches = mutable.ArrayBuffer.empty[BatchRecord]
  private val jobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val tasks = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val stageGroup = mutable.Map.empty[Int, String]

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators
      val src = p.sources.headOption
      val rec = BatchRecord(p.name, p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum,
        src.map(_.startOffset).orNull, src.map(_.endOffset).orNull)
      Probe.this.synchronized(batches += rec)
    }
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(Probe.GroupPrefix)).foreach { g =>
          val name = g.stripPrefix(Probe.GroupPrefix)
          Probe.this.synchronized {
            jobs(name) += 1
            e.stageIds.foreach(s => stageGroup(s) = name)
          }
        }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Probe.this.synchronized(stageGroup.get(e.stageId).foreach(tasks(_) += 1))
  }

  spark.streams.addListener(streamListener)
  spark.sparkContext.addSparkListener(jobListener)

  /** Batches reported so far for one run of a query. */
  def batchesOf(runId: String): Seq[BatchRecord] =
    synchronized(batches.filter(_.runId == runId).toSeq).sortBy(_.batchId)

  /** Waits until the listener has seen a batch of `runId` whose
    * committed offsets cover `rows` feed rows: progress events reach
    * listeners asynchronously.
    */
  def awaitCovered(runId: String, rows: Long): Unit = {
    def covered = batchesOf(runId).exists(b => b.endOffset != null &&
      graft.sources.TestKafkaOffset.fromJson(b.endOffset).lines.map(_._2).sum >= rows)
    val deadline = System.currentTimeMillis() + 30000
    while (!covered && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  def jobCounts: Map[String, (Long, Long)] = synchronized {
    jobs.keys.map(k => k -> (jobs(k), tasks(k))).toMap
  }

  def resetJobs(): Unit = synchronized { jobs.clear(); tasks.clear(); stageGroup.clear() }
}

object Probe {
  val GroupPrefix = "perfbench:"
}

/** Percentiles by linear interpolation between closest ranks. */
object Stats {
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** A percentile needs ten samples beyond it: n*(1-q) >= 10. */
  def supported(n: Int, q: Double): Boolean = n * (1 - q) >= 10 - 1e-9
}

/** In-memory spans, written out as JSONL when the run ends. Times are
  * epoch milliseconds. Spans that belong together share `id`. Records
  * nothing unless `on`; `costNs` is the time spent recording.
  */
final class Tracer(val on: Boolean) {
  final case class Span(name: String, id: String, parent: String, startMs: Double, endMs: Double)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val cost = new java.util.concurrent.atomic.AtomicLong(0)

  def add(name: String, id: String, parent: String, startMs: Double, endMs: Double): Unit =
    if (on) {
      val t0 = System.nanoTime()
      synchronized(spans += Span(name, id, parent, startMs, endMs))
      cost.addAndGet(System.nanoTime() - t0)
    }

  def costNs: Long = cost.get

  def all: Seq[Span] = synchronized(spans.toSeq)

  def writeJsonl(path: Path): Unit = {
    val body = all.map { s =>
      f"""{"name":"${s.name}","id":"${s.id}","parent":${Option(s.parent).map("\"" + _ + "\"").getOrElse("null")},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }.mkString("", "\n", "\n")
    Files.write(path, body.getBytes(StandardCharsets.UTF_8))
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover, summed by span name.
    */
  def selfTimeMs: Map[String, Double] = {
    val ss = all
    val children = ss.filter(_.parent != null).groupBy(c => (c.id, c.parent))
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = children.getOrElse((s.id, s.name), Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, reach), (a, b)) =>
            if (b <= reach) (acc, reach) else (acc + b - math.max(a, reach), b)
          }._1
        s.endMs - s.startMs - covered
      }.sum
    }
  }
}
